package graftbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Interactive warehouse SQL: each client issues a seeded, Zipf-skewed mix
  * of the engine's analytics views, each under a seeded predicate on its
  * output columns. Every result is read in full on the client and must
  * match the first result of the same variant; those first results are
  * compared against the DuckDB oracle after the run.
  */
final class WarehouseBi(spec: JsonNode, work: String) extends Workload {
  private val lake = spec.get("lake").asText
  private val variants: IndexedSeq[(String, String)] =
    spec.get("variants").elements.asScala.map(v =>
      (v.get("query").asText, v.get("where").asText)).toIndexedSeq
  private val draws: Array[Array[Int]] =
    spec.get("clients").elements.asScala.map(_.elements.asScala.map(_.asInt).toArray).toArray
  private val warm = spec.get("warmup").elements.asScala.map(_.asInt).toSeq
  private val refs = new ConcurrentHashMap[Int, (Int, Long)]
  private val refRows = new ConcurrentHashMap[Int, (StructType, Array[Row])]

  def clients: Int = draws.length
  def capacity: Int = draws.map(_.length).min

  def setup(spark: SparkSession): Unit =
    variants.map(_._1).distinct.foreach(graft.GraftSession.registerView(spark, lake, _))

  /** Every variant twice, spread over the clients. */
  def warmup(spark: SparkSession): Unit = {
    val threads = (0 until clients).map { c =>
      val mine = warm.indices.filter(_ % clients == c).map(warm)
      val t = new Thread(() => (mine ++ mine).foreach(run(spark, _)))
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  private def run(spark: SparkSession, v: Int): OpResult = {
    val (q, where) = variants(v)
    val t0 = System.nanoTime()
    val (schema, rows) = Trace.span("operators.Analytics") {
      val df = spark.sql(s"SELECT * FROM graft_$q WHERE $where")
      (df.schema, df.collect())
    }
    val digest = (rows.length, Digest.rows(rows))
    val lat = System.nanoTime() - t0
    val prev = refs.putIfAbsent(v, digest)
    if (prev == null) refRows.put(v, (schema, rows))
    OpResult(lat, prev == null || prev == digest, v)
  }

  def op(spark: SparkSession, client: Int, clientSeq: Int): OpResult =
    run(spark, draws(client)(clientSeq))

  /** Writes each variant's reference result for the oracle comparison. */
  override def finish(spark: SparkSession, out: ObjectNode): Set[Int] = {
    val mapper = Main.mapper
    val all = mapper.createObjectNode()
    refRows.asScala.toSeq.sortBy(_._1).foreach { case (v, (schema, rows)) =>
      val o = all.putObject(v.toString)
      o.put("query", variants(v)._1)
      o.put("where", variants(v)._2)
      o.put("oracle_sql", graft.SparkEntry.oracleSql.getOrElse(variants(v)._1, ""))
      val cols = o.putArray("cols")
      schema.fieldNames.foreach(cols.add)
      val rs = o.putArray("rows")
      rows.foreach { r =>
        val a = rs.addArray()
        r.toSeq.foreach {
          case null => a.addNull()
          case x: java.lang.Long => a.add(x.longValue)
          case x: java.lang.Integer => a.add(x.intValue)
          case x: java.lang.Short => a.add(x.intValue)
          case x: java.lang.Double => a.add(x.doubleValue)
          case x: java.lang.Float => a.add(x.doubleValue)
          case x: java.lang.Boolean => a.add(x.booleanValue)
          case x => a.add(x.toString)
        }
      }
    }
    mapper.writeValue(new File(work, "refs.json"), all)
    out.put("variants_seen", refRows.size)
    Set.empty
  }
}
