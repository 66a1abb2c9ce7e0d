package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

/** What one op reports back: its measured latency (the benchmark's own
  * verification excluded), whether its output verified, and the input it
  * ran on (query variant, batch or shard).
  */
final case class OpResult(latencyNs: Long, ok: Boolean, key: Int, note: String = "")

final case class OpRecord(client: Int, seq: Long, r: OpResult)

/** One workload: clients run `op` in a closed loop on a shared session. */
trait Workload {
  def clients: Int
  /** How many ops one client can run before its inputs are used up. */
  def capacity: Int
  /** Prepare a fresh session: register and load inputs. Timed, repeated. */
  def setup(spark: SparkSession): Unit
  /** Run the code paths the ops take once, so the measured window starts
    * warm. Runs once, after the last set-up.
    */
  def warmup(spark: SparkSession): Unit
  def op(spark: SparkSession, client: Int, clientSeq: Int): OpResult
  /** Stop anything `setup` started before the session stops. */
  def teardown(): Unit = ()
  /** Untimed checks after the measured window. Returns the client-sequence
    * numbers of ops found wrong, and the workload's quality figures.
    */
  def finish(spark: SparkSession, out: ObjectNode): Set[Int] = Set.empty
}

object Counts {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]
  def add(name: String, v: Double): Unit =
    m.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)
  def reset(): Unit = m.clear()
  def snapshot(): Map[String, Double] = m.asScala.map { case (k, v) => k -> v.sum }.toMap
}

/** Order-invariant 64-bit digest of a result: every column of every row
  * contributes, so nothing the query projects can be skipped.
  */
object Digest {
  def rows(rs: Array[Row]): Long = {
    var acc = 0L
    rs.foreach { r =>
      val s = r.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      acc += (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    }
    acc
  }
}

object Main {
  val SetupReps = 3
  val mapper = new ObjectMapper()

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath))
      .getOrCreate()
    graft.GraftSession.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }

  final case class Phase(name: String, traced: Boolean, wallS: Double,
      ops: Vector[OpRecord], perLayer: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(specPath, outPath, secondsArg, traceArg, coresArg, work) = args
    val spec = mapper.readTree(new File(specPath))
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val wl: Workload = spec.get("workload").asText match {
      case "warehouse_bi" => new WarehouseBi(spec, work)
      case "lake_ingest" => new LakeIngest(spec, work)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up, several times: a fresh session and its inputs. The first one
    // also pays JVM and Spark context start; later ones open a new session
    // on the running context. The reported figure is the median.
    var spark: SparkSession = null
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark == null) spark = session(cores, work)
      else {
        wl.teardown()
        spark = spark.newSession()
        graft.GraftSession.register(spark)
      }
      wl.setup(spark)
      if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1000.0
      else (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val counters = new Counters(spark)
    counters.install()
    val clientSeqs = Array.fill(wl.clients)(0)
    val globalSeq = new AtomicLong

    def runPhase(name: String, secs: Double, traced: Boolean): Phase = {
      Trace.enabled = traced
      Counts.reset()
      counters.reset()
      counters.open = traced
      val gc0 = Gc.seconds()
      val recs = new ConcurrentLinkedQueue[OpRecord]
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      val lastEnd = new AtomicLong(t0)
      val threads = (0 until wl.clients).map { c =>
        val th = new Thread(() => {
          // a client starts an op only while its previous op would still end
          // inside the window (one op at least), so ops far longer than
          // the window's tail do not stretch it
          var lastNs = 0L
          while (System.nanoTime() + lastNs < deadline && clientSeqs(c) < wl.capacity) {
            val cs = clientSeqs(c)
            clientSeqs(c) += 1
            val seq = globalSeq.getAndIncrement()
            Trace.beginOp(seq)
            val opStart = System.nanoTime()
            val r = try Trace.span("op")(wl.op(spark, c, cs)) catch {
              case NonFatal(e) =>
                System.err.println(s"[bench] op $cs on client $c failed: $e")
                e.printStackTrace()
                OpResult(System.nanoTime() - opStart, ok = false, key = -1, note = e.toString)
            } finally Trace.releaseOp()
            recs.add(OpRecord(c, cs, r))
            lastNs = System.nanoTime() - opStart
            lastEnd.accumulateAndGet(System.nanoTime(), math.max)
          }
        }, s"client-$c")
        th.start()
        th
      }
      threads.foreach(_.join())
      val wallS = (lastEnd.get - t0) / 1e9
      val ops = recs.asScala.toVector.sortBy(_.seq)
      val perLayer =
        if (!traced) Map.empty[String, Double]
        else {
          counters.settle()
          counters.open = false
          val spans = Trace.drain()
          writeSpans(new File(work, "spans.jsonl"), spans)
          Layers.perLayer(ops.size, wallS, cores, counters.snapshot(),
            Trace.selfSeconds(spans), Gc.seconds() - gc0, Counts.snapshot())
        }
      Trace.enabled = false
      Phase(name, traced, wallS, ops, perLayer)
    }

    // With tracing, the window runs untraced, traced, untraced in thirds,
    // so one run yields both the layer figures and the overhead tracing
    // adds; the traced third sits between the untraced ones, so warm-up
    // still going on does not bias the overhead.
    val phases =
      if (!trace) Seq(runPhase("measure", seconds, traced = false))
      else {
        val a = runPhase("measure", seconds / 3, traced = false)
        val b = runPhase("traced", seconds / 3, traced = true)
        val c = runPhase("measure-after", seconds / 3, traced = false)
        Seq(a, b.copy(perLayer = b.perLayer + ("trace.overhead_pct" ->
          Layers.overheadPct(a.ops ++ c.ops, b.ops))), c)
      }

    val out = mapper.createObjectNode()
    val wrong = wl.finish(spark, out.putObject("quality"))
    wl.teardown()
    val stamp = out.putObject("stamp")
    stamp.put("workload", spec.get("workload").asText)
    stamp.put("seed", spec.get("seed").asLong)
    stamp.put("cores", cores)
    stamp.put("clients", wl.clients)
    stamp.put("driver_max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
    stamp.put("java", System.getProperty("java.version"))
    stamp.put("jvm", System.getProperty("java.vm.name") + " " + System.getProperty("java.vm.version"))
    stamp.put("spark", spark.version)
    stamp.put("scala", scala.util.Properties.versionNumberString)
    val su = out.putArray("setup_s")
    setupS.foreach(su.add(_))
    out.put("warmup_s", warmupS)
    val ph = out.putArray("phases")
    phases.foreach { p =>
      val o = ph.addObject()
      o.put("name", p.name)
      o.put("traced", p.traced)
      o.put("wall_s", p.wallS)
      val ops = o.putArray("ops")
      p.ops.foreach { rec =>
        val r = ops.addObject()
        r.put("client", rec.client)
        r.put("seq", rec.seq)
        r.put("key", rec.r.key)
        r.put("ms", rec.r.latencyNs / 1e6)
        r.put("ok", rec.r.ok && !(rec.client == 0 && wrong(rec.seq.toInt)))
        if (rec.r.note.nonEmpty) r.put("note", rec.r.note)
      }
      val pl = o.putObject("per_layer")
      p.perLayer.toSeq.sortBy(_._1).foreach { case (k, v) => pl.put(k, v) }
    }
    spark.stop()
    out.put("peak_rss_mb", peakRssMb())
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(outPath), out)
  }
}

/** Turns the traced window's raw counters and spans into per-op figures. */
object Layers {
  val BusyLayers = Seq("tables", "sources.Readers", "operators.CleanOps",
    "operators.StarSchema", "sources.Sinks", "operators.Analytics",
    "operators.DedupOps", "operators.TextOps", "operators.PipelineOps",
    "operators.SimilarityOps", "streaming.EventStreams")

  def perLayer(ops: Int, wallS: Double, cores: Int, c: Map[String, Long],
      self: Map[String, Double], gcS: Double, counts: Map[String, Double]): Map[String, Double] = {
    val n = ops.max(1).toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val batches = c("stream_batches").toDouble
    val m = Map(
      "planning.analysis_s" -> c("analysis_ns") / 1e9 / n,
      "planning.optimization_s" -> c("optimization_ns") / 1e9 / n,
      "planning.physical_s" -> c("planning_ns") / 1e9 / n,
      "spark.jobs" -> c("jobs") / n,
      "spark.stages" -> c("stages") / n,
      "spark.tasks" -> c("tasks") / n,
      "spark.task_s" -> c("run_ms") / 1e3 / n,
      "spark.cpu_util" -> ratio(c("run_ms") / 1e3, wallS * cores),
      "spark.scheduler_delay_s" -> c("sched_delay_ms") / 1e3 / n,
      "spark.shuffle_write_bytes" -> c("shuffle_write") / n,
      "spark.shuffle_read_bytes" -> c("shuffle_read") / n,
      "spark.spill_bytes" -> c("spill") / n,
      "spark.gc_s" -> gcS / n,
      "tables.input_bytes" -> c("input_bytes") / n,
      "tables.input_rows" -> c("input_rows") / n,
      "operators.CleanOps.rows_kept_ratio" ->
        ratio(counts.getOrElse("cleanops.rows_out", 0.0), counts.getOrElse("cleanops.rows_in", 0.0)),
      "operators.StarSchema.antijoin_rows_in" -> counts.getOrElse("starschema.antijoin_in", 0.0) / n,
      "operators.StarSchema.antijoin_rows_out" -> counts.getOrElse("starschema.antijoin_out", 0.0) / n,
      "sources.Sinks.bytes_written" -> counts.getOrElse("sinks.bytes", 0.0) / n,
      "sources.Sinks.files_written" -> counts.getOrElse("sinks.files", 0.0) / n,
      "sources.Sinks.commits" -> counts.getOrElse("sinks.commits", 0.0) / n,
      "operators.DedupOps.pairs_out" -> counts.getOrElse("dedup.pairs", 0.0) / n,
      "operators.SimilarityOps.queries" -> counts.getOrElse("similarity.queries", 0.0) / n,
      "operators.Memo.builds" -> counts.getOrElse("memo.builds", 0.0) / n,
      "operators.Memo.build_s" -> counts.getOrElse("memo.build_s", 0.0) / n,
      "operators.Memo.reuse_ratio" ->
        ratio(counts.getOrElse("memo.calls", 0.0), counts.getOrElse("memo.builds", 0.0)),
      "streaming.batches" -> batches / n,
      "streaming.add_batch_ms" -> ratio(c("add_batch_ms").toDouble, batches),
      "streaming.planning_ms" -> ratio(c("query_planning_ms").toDouble, batches),
      "streaming.wal_commit_ms" -> ratio(c("wal_commit_ms").toDouble, batches),
      "streaming.state_rows" -> c("state_rows").toDouble,
      "streaming.state_bytes" -> c("state_bytes").toDouble)
    m ++ BusyLayers.map(l => s"$l.busy_s" -> self.getOrElse(l, 0.0) / n)
  }

  /** How much slower a traced op is than an untraced one, in percent of the
    * untraced median latency.
    */
  def overheadPct(untraced: Seq[OpRecord], traced: Seq[OpRecord]): Double = {
    def med(xs: Seq[OpRecord]) = {
      val s = xs.map(_.r.latencyNs.toDouble).sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val u = med(untraced)
    if (u > 0) (med(traced) / u - 1.0) * 100.0 else 0.0
  }
}
