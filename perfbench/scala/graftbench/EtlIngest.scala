package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{CleanOps, StarSchema}
import graft.sources.{Readers, Sinks}
import graft.streaming.EventStreams

/** Incremental star-schema loads: each op ingests one staged date-range
  * batch of raw orders (CSV), lineitems (JSON lines) and events (JSON
  * lines) into a warehouse that grows through the run. Orders are cleaned,
  * anti-joined against the facts loaded so far, built into dims and facts
  * and committed as snapshots; events go through the streaming dedup into
  * a snapshot-committed table.
  */
final class EtlIngest(spec: JsonNode, work: String) extends Workload {
  private val lake = spec.get("lake").asText
  private val wh = spec.get("warehouse").asText
  private val batches = spec.get("batches").elements.asScala.toIndexedSeq
  private val factOrders = s"$wh/fact_orders"
  private val factLines = s"$wh/fact_lineitem"
  private val dimCustomer = s"$wh/dim_customer"
  private val events = s"$wh/events"
  private val landing = s"$work/landing"
  private var stream: StreamingQuery = _
  private var ingested = 0

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  private val linesSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def clients: Int = 1
  def capacity: Int = batches.size - 1

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  /** A fresh, empty warehouse and the event stream feeding it. */
  def setup(spark: SparkSession): Unit = {
    Seq(wh, landing, s"$work/stream-ckpt").foreach(p => rmrf(new File(p)))
    new File(landing).mkdirs()
    stream = EventStreams.snapshotIngestStream(
      EventStreams.dedupStream(spark.readStream.schema(eventsSchema).json(landing)),
      events, "events")
      .option("checkpointLocation", s"$work/stream-ckpt")
      .start()
    ingested = 0
  }

  /** The initial load: the first batch into the empty warehouse. */
  def warmup(spark: SparkSession): Unit = ingest(spark, 0)

  override def teardown(): Unit = if (stream != null) { stream.stop(); stream = null }

  private def readOrders(spark: SparkSession, dir: String): DataFrame =
    Readers.csv(spark, s"$dir/orders.csv", Some(ordersSchema))
  private def readLines(spark: SparkSession, dir: String): DataFrame =
    Readers.json(spark, s"$dir/lineitem.jsonl", schema = Some(linesSchema))
  /** priceClean's validity verdict applied back to the raw orders. */
  private def cleanOrders(orders: DataFrame): DataFrame =
    orders.join(CleanOps.priceClean(orders).filter(col("is_valid")).select("o_orderkey"),
      Seq("o_orderkey"), "left_semi")

  private def rows(df: DataFrame): Double = df.count().toDouble

  private def ingest(spark: SparkSession, b: Int): Unit = {
    val dir = batches(b).get("dir").asText
    val customer = Trace.layer("tables")(graft.Tables.customer(spark, lake))
    val nation = Trace.layer("tables")(graft.Tables.nation(spark, lake))
    val region = Trace.layer("tables")(graft.Tables.region(spark, lake))
    val orders = Trace.layer("sources.Readers")(readOrders(spark, dir))
    val lines = Trace.layer("sources.Readers")(readLines(spark, dir))
    val clean = Trace.layer("operators.CleanOps")(cleanOrders(orders))
    if (Trace.enabled) {
      Counts.add("cleanops.rows_in", rows(orders))
      Counts.add("cleanops.rows_out", rows(clean))
    }
    val (fo, fl, dc) = Trace.span("operators.StarSchema") {
      val newOrders = Trace.layer("operators.StarSchema")(
        if (ingested == 0) clean
        else clean.join(Readers.readSnapshot(spark, factOrders).select("o_orderkey"),
          Seq("o_orderkey"), "left_anti"))
      if (Trace.enabled) {
        Counts.add("starschema.antijoin_in", rows(clean))
        Counts.add("starschema.antijoin_out", rows(newOrders))
      }
      val custs = customer.join(newOrders.select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      val dim = StarSchema.dimCustomerGeo(custs, nation, region)
      (Trace.layer("operators.StarSchema")(StarSchema.factOrders(newOrders, customer, nation)),
        Trace.layer("operators.StarSchema")(StarSchema.factLineitem(lines, newOrders)),
        Trace.layer("operators.StarSchema")(
          if (ingested == 0) dim
          else dim.join(spark.read.parquet(dimCustomer).select("c_custkey"), Seq("c_custkey"), "left_anti")))
    }
    val before = if (Trace.enabled) Store.scan(wh) else Store.Empty
    Trace.span("sources.Sinks") {
      Sinks.appendSnapshotOnce(spark, factOrders, fo, "etl", b)
      Sinks.appendSnapshotOnce(spark, factLines, fl, "etl", b)
      Sinks.mergeUpsert(spark, dimCustomer, dc, "c_custkey")
    }
    Trace.span("streaming.EventStreams") {
      val tmp = new File(landing, s".b$b.tmp").toPath
      Files.copy(new File(dir, "events.jsonl").toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, new File(landing, f"b$b%04d.jsonl").toPath, StandardCopyOption.ATOMIC_MOVE)
      stream.processAllAvailable()
    }
    if (Trace.enabled) {
      val after = Store.scan(wh)
      Counts.add("sinks.bytes", (after.bytes - before.bytes).toDouble)
      Counts.add("sinks.files", (after.dataFiles - before.dataFiles).toDouble)
      // the dim store is rewritten by a swap, not a manifest commit
      Counts.add("sinks.commits", (after.manifests - before.manifests + 1).toDouble)
    }
    ingested = b + 1
  }

  def op(spark: SparkSession, client: Int, clientSeq: Int): OpResult = {
    val b = clientSeq + 1
    val t0 = System.nanoTime()
    ingest(spark, b)
    OpResult(System.nanoTime() - t0, ok = true, b)
  }

  /** Per op: the rows its batch committed equal the generator's count of
    * new keys. For the whole run: every table read back equals a one-shot
    * build over all ingested batches.
    */
  override def finish(spark: SparkSession, out: ObjectNode): Set[Int] = {
    val done = batches.take(ingested)
    def perBatch(path: String): Map[Int, Long] =
      Readers.readSnapshot(spark, path)
        .select(regexp_extract(input_file_name(), "ingest-etl-b(\\d+)-", 1).cast("int").as("b"))
        .groupBy("b").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ordersPer = perBatch(factOrders)
    val linesPer = perBatch(factLines)
    val wrongOps = (1 until ingested).filter { b =>
      ordersPer.getOrElse(b, 0L) != batches(b).get("new_orders").asLong ||
        linesPer.getOrElse(b, 0L) != batches(b).get("new_lines").asLong
    }.map(_ - 1).toSet

    def union(f: String => DataFrame): DataFrame = done.map(d => f(d.get("dir").asText)).reduce(_ unionByName _)
    def same(a: DataFrame, b: DataFrame): Boolean = {
      val (x, y) = (a.collect(), b.collect())
      x.length == y.length && Digest.rows(x) == Digest.rows(y)
    }
    val customer = graft.Tables.customer(spark, lake)
    val nation = graft.Tables.nation(spark, lake)
    val region = graft.Tables.region(spark, lake)
    val oneShotOrders = cleanOrders(union(readOrders(spark, _))).dropDuplicates("o_orderkey")
    val cols = (df: DataFrame) => df.select(df.columns.sorted.toIndexedSeq.map(col): _*)
    val ordersOk = same(cols(Readers.readSnapshot(spark, factOrders)),
      cols(StarSchema.factOrders(oneShotOrders, customer, nation)))
    val linesOk = same(cols(Readers.readSnapshot(spark, factLines)),
      cols(StarSchema.factLineitem(union(readLines(spark, _)).distinct(), oneShotOrders)))
    val dimOk = same(cols(spark.read.parquet(dimCustomer)),
      cols(StarSchema.dimCustomerGeo(customer.join(
        oneShotOrders.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi"),
        nation, region)))
    val oneShotEvents = union(d => spark.read.schema(eventsSchema).json(s"$d/events.jsonl"))
      .dropDuplicates("event_id")
    val eventsOk = same(cols(Readers.readSnapshot(spark, events)), cols(oneShotEvents)) &&
      oneShotEvents.count() == done.map(_.get("new_events").asLong).sum
    val wholeOk = ordersOk && linesOk && dimOk && eventsOk
    val rawBytes = done.map(_.get("raw_bytes").asLong).sum
    out.put("batches_ingested", ingested)
    out.put("storage_amp", Store.scan(wh).bytes.toDouble / rawBytes)
    out.put("read_back_equals_one_shot", wholeOk)
    if (!wholeOk)
      System.err.println(s"[bench] etl read-back mismatch: orders=$ordersOk lines=$linesOk dim=$dimOk events=$eventsOk")
    if (wholeOk) wrongOps else (0 until ingested - 1).toSet
  }
}

/** Bytes and files under a warehouse directory. */
object Store {
  final case class Usage(bytes: Long, dataFiles: Int, manifests: Int)
  val Empty: Usage = Usage(0, 0, 0)
  def scan(root: String): Usage = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(root))
    Usage(files.map(_.length).sum,
      files.count(_.getName.endsWith(".parquet")),
      files.count(_.getName.startsWith("_manifest-v")))
  }
}
