package graftbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One lake batch per op: its warehouse rows are loaded ([[EtlIngest]]) and
  * its corpus shard is curated ([[CorpusCuration]]), in that order, on one
  * client.
  */
final class LakeIngest(spec: JsonNode, work: String) extends Workload {
  private val etl = new EtlIngest(spec.get("etl"), work)
  private val corpus = new CorpusCuration(spec.get("corpus"))

  def clients: Int = 1
  def capacity: Int = etl.capacity.min(corpus.capacity)

  def setup(spark: SparkSession): Unit = { etl.setup(spark); corpus.setup(spark) }

  def warmup(spark: SparkSession): Unit = { etl.warmup(spark); corpus.warmup(spark) }

  def op(spark: SparkSession, client: Int, clientSeq: Int): OpResult = {
    val a = etl.op(spark, client, clientSeq)
    val b = corpus.op(spark, client, clientSeq)
    OpResult(a.latencyNs + b.latencyNs, a.ok && b.ok, clientSeq + 1)
  }

  override def teardown(): Unit = etl.teardown()

  override def finish(spark: SparkSession, out: ObjectNode): Set[Int] =
    etl.finish(spark, out) ++ corpus.finish(spark, out)
}
