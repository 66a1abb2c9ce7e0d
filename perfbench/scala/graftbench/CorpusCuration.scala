package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{DedupOps, Memo, PipelineOps, SimilarityOps, TextOps}

/** Training-data curation: each op curates one fresh corpus shard end to
  * end — exact and MinHash-LSH dedup, survivors, quality gate,
  * decontamination, curated corpus and token packing — then answers a batch
  * of nearest-neighbour queries by IVF and by brute force. A new shard
  * misses every memoized intermediate, so each op pays its builds and
  * reuses them within the op.
  */
final class CorpusCuration(spec: JsonNode) extends Workload {
  private val shards = spec.get("shards").elements.asScala.toIndexedSeq
  val K = 10
  // Injected copies the survivors must drop, and ANN agreement with the
  // exact top-10, below which an op counts as wrong: a change that buys
  // speed with recall fails here.
  val MinDedupRecall = 0.9
  val MinAnnRecall = 0.3
  // memo-backed operator calls per op: minhash pairs, survivors,
  // decontamination, curated corpus
  private val MemoCalls = 4

  private val recalls = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]

  def clients: Int = 1
  def capacity: Int = shards.size - 1

  /** Nothing to load ahead: each op reads its own shard. */
  def setup(spark: SparkSession): Unit = ()

  def warmup(spark: SparkSession): Unit = {
    curate(spark, 0)
    recalls.clear()
  }

  private def out(layer: String)(df: => DataFrame): Array[Row] =
    Trace.span(layer)(df.collect())

  private def curate(spark: SparkSession, shard: Int): OpResult = {
    val meta = shards(shard)
    val dir = meta.get("dir").asText
    val q = meta.get("queries").asInt
    val t0 = System.nanoTime()
    val docs = Trace.layer("tables")(graft.Tables.documents(spark, dir))
    val emb = Trace.layer("tables")(graft.Tables.embeddings(spark, dir))
    val exact = out("operators.DedupOps")(DedupOps.dedupExact(docs))
    val pairs = out("operators.DedupOps")(DedupOps.dedupMinhashLsh(docs))
    val survivors = out("operators.DedupOps")(DedupOps.dedupSurvivors(docs))
    val gate = out("operators.TextOps")(TextOps.qualityGate(docs))
    val decon = out("operators.TextOps")(TextOps.decontaminatedCorpus(docs))
    val curated = out("operators.PipelineOps")(PipelineOps.curatedCorpus(docs))
    val curatedIds = curated.map(_.getAs[Long]("doc_id"))
    val packs = out("operators.PipelineOps")(
      PipelineOps.tokenPack(docs.filter(col("doc_id").isin(curatedIds.toIndexedSeq: _*))))
    val brute = out("operators.SimilarityOps")(SimilarityOps.bruteCosineTopK(emb, q, K))
    val ivf = out("operators.SimilarityOps")(SimilarityOps.ivfAnn(emb, q, K))
    val lat = System.nanoTime() - t0
    val built = Memo.drainBuildSeconds()
    if (Trace.enabled) {
      Counts.add("dedup.pairs", pairs.length)
      Counts.add("similarity.queries", 2.0 * q)
      Counts.add("memo.builds", built.size)
      Counts.add("memo.build_s", built.values.sum)
      Counts.add("memo.calls", MemoCalls)
    }
    Memo.invalidate()
    val ok = verify(meta, exact, survivors, gate, decon, curatedIds, packs, brute, ivf)
    OpResult(lat, ok, shard)
  }

  /** Output checks against the generator's ground truth. */
  private def verify(meta: JsonNode, exact: Array[Row], survivors: Array[Row],
      gate: Array[Row], decon: Array[Row], curated: Array[Long], packs: Array[Row],
      brute: Array[Row], ivf: Array[Row]): Boolean = {
    val nDocs = meta.get("docs").asInt
    val originals = meta.get("originals").asInt
    val injected = meta.get("injected_ids").elements.asScala.map(_.asLong).toSet
    val surv = survivors.map(_.getAs[Long]("doc_id")).toSet
    val exactOk = exact.length == meta.get("distinct_texts").asInt
    // no original is dropped as a duplicate of another original
    val survOk = (0L until originals).forall(surv) && surv.forall(_ < nDocs)
    val dedupRecall = injected.count(i => !surv(i)).toDouble / injected.size
    val gateOk = gate.length == nDocs && gate.map(_.getAs[Long]("doc_id")).toSet.size == nDocs
    val deconOk = decon.forall(r => r.getAs[Long]("doc_id") >= 5 && r.getAs[Long]("doc_id") < nDocs)
    val curatedOk = curated.forall(surv) && curated.distinct.length == curated.length
    val packsOk = packs.length == curated.length && packs.forall { r =>
      val off = r.getAs[Long]("pack_offset")
      off >= 0 && off < PipelineOps.PackBudget
    }
    val exactTop = meta.get("top10").elements.asScala.map(
      _.elements.asScala.map(x => (x.get(0).asLong, x.get(1).asDouble)).toSeq).toIndexedSeq
    def byQuery(rs: Array[Row]): Map[Long, Seq[(Long, Double)]] =
      rs.groupBy(_.getAs[Long]("query_id")).map { case (qid, g) =>
        qid -> g.sortBy(_.getAs[Long]("rank")).toSeq.map(r =>
          (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine_sim")))
      }
    val b = byQuery(brute)
    val a = byQuery(ivf)
    val bruteOk = exactTop.indices.forall { qi =>
      val got = b.getOrElse(qi.toLong, Nil)
      got.size == K && got.map(_._2).zip(exactTop(qi).map(_._2)).forall { case (x, y) =>
        math.abs(x - y) < 1e-5
      }
    }
    val exactCos = exactTop.map(_.toMap)
    val ivfOk = exactTop.indices.forall { qi =>
      val got = a.getOrElse(qi.toLong, Nil)
      got.size <= K && got.forall { case (id, c) =>
        c <= exactTop(qi).head._2 + 1e-5 && exactCos(qi).get(id).forall(e => math.abs(e - c) < 1e-5)
      }
    }
    val annRecall = exactTop.indices.map { qi =>
      val truth = exactTop(qi).map(_._1).toSet
      a.getOrElse(qi.toLong, Nil).count(p => truth(p._1))
    }.sum.toDouble / (K * exactTop.size)
    recalls.add((dedupRecall, annRecall))
    val ok = exactOk && survOk && gateOk && deconOk && curatedOk && packsOk && bruteOk && ivfOk &&
      dedupRecall >= MinDedupRecall && annRecall >= MinAnnRecall
    if (!ok) System.err.println(s"[bench] shard ${meta.get("dir").asText} wrong: exact=$exactOk " +
      s"survivors=$survOk gate=$gateOk decon=$deconOk curated=$curatedOk packs=$packsOk " +
      s"brute=$bruteOk ivf=$ivfOk dedup_recall=$dedupRecall ann_recall=$annRecall")
    ok
  }

  def op(spark: SparkSession, client: Int, clientSeq: Int): OpResult =
    curate(spark, clientSeq + 1)

  override def finish(spark: SparkSession, out: ObjectNode): Set[Int] = {
    val rs = recalls.asScala.toSeq
    if (rs.nonEmpty) {
      out.put("dedup_recall", rs.map(_._1).sum / rs.size)
      out.put("ann_recall_at_10", rs.map(_._2).sum / rs.size)
      out.put("recall_samples", rs.size)
    }
    Set.empty
  }
}
