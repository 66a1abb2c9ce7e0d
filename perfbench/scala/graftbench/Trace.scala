package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing span on
  * the same thread (-1 at an op's root); every span of one op shares `op`.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each layer. Off by default; the
  * untraced path is a plain by-name call. When on, a DataFrame a layer
  * returns is materialized at the boundary (eager local checkpoint) so the
  * layer's otherwise lazy work lands inside its own span.
  */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val opId = new ThreadLocal[Long] { override def initialValue = -1L }
  private val pinned = new ThreadLocal[mutable.Buffer[DataFrame]] {
    override def initialValue = mutable.Buffer.empty[DataFrame]
  }

  def beginOp(op: Long): Unit = opId.set(op)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, opId.get, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** A layer call returning a lazy DataFrame: traced, its result is computed
    * inside the span and handed on as a checkpoint; untraced, unchanged.
    */
  def layer(name: String)(df: => DataFrame): DataFrame =
    span(name) {
      val d = df
      if (!enabled) d
      else {
        val c = d.localCheckpoint(eager = true)
        pinned.get += c
        c
      }
    }

  /** Free the checkpoints this thread's op pinned. */
  def releaseOp(): Unit = {
    pinned.get.foreach(graft.operators.Memo.release)
    pinned.get.clear()
  }

  def drain(): Seq[Span] = {
    val out = spans.asScala.toVector
    spans.clear()
    out
  }

  /** Self time per layer name: span time minus the time its direct child
    * spans cover (children of one op run on the op's thread, one at a time).
    */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)).max(0L)).sum / 1e9
    }
  }
}

/** Spark-side counters read from the public listener APIs. Jobs count only
  * while the gate is open, i.e. during a measured window and outside the
  * benchmark's own verification.
  */
final class Counters(spark: SparkSession) extends SparkListener {
  @volatile var open = false
  private val measuredStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val c: mutable.Map[String, AtomicLong] = mutable.LinkedHashMap(Seq(
    "jobs", "stages", "tasks", "run_ms", "cpu_ns", "sched_delay_ms",
    "shuffle_write", "shuffle_read", "spill", "input_bytes", "input_rows",
    "analysis_ns", "optimization_ns", "planning_ns",
    "stream_batches", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
    "state_rows", "state_bytes").map(_ -> new AtomicLong): _*)
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (open) { add("jobs", 1); e.stageIds.foreach(measuredStages.add) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (measuredStages.contains(e.stageInfo.stageId)) add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (measuredStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      add("tasks", 1)
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
      add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
      add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
    }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      if (open) qe.tracker.phases.foreach { case (phase, s) =>
        val k = s"${phase}_ns"
        if (c.contains(k)) add(k, s.durationMs * 1000000L)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (open && e.progress.numInputRows > 0) {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        add("stream_batches", 1)
        add("add_batch_ms", ms("addBatch"))
        add("query_planning_ms", ms("queryPlanning"))
        add("wal_commit_ms", ms("walCommit"))
        c("state_rows").set(p.stateOperators.map(_.numRowsTotal).sum)
        c("state_bytes").set(p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def settle(): Unit = org.apache.spark.GraftBenchAccess.drainListenerBus(spark.sparkContext)

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap

  def reset(): Unit = { c.values.foreach(_.set(0L)); measuredStages.clear() }
}

object Gc {
  def seconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
}
