package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, DoubleAdder, LongAdder}
import scala.collection.concurrent.TrieMap
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.runtime.{CycleReport, MetricsStore, StreamSpec, WatermarkStore}

/** One timed interval. `parent` is the id of the span that caused it
  * (0 for a root); spans of one cycle or query share `trace`. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      stream: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Outside-in tracer: spans around the calls the benchmark makes into the
  * program's public pieces, plus Spark job/task/Catalyst counters from
  * listeners registered on the session. Spans stay in memory until the
  * run ends. Counters and spans are kept only while `measuring` is set, so
  * set-up and warm-up work is not charged to the measured window. */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  @volatile var trace: String = "setup"
  @volatile var measuring: Boolean = false

  /** Named sums (seconds or counts); read with [[value]]. */
  val sums: TrieMap[String, DoubleAdder] = TrieMap.empty
  def add(key: String, v: Double): Unit =
    if (measuring) sums.getOrElseUpdate(key, new DoubleAdder).add(v)
  def value(key: String): Double = sums.get(key).map(_.sum()).getOrElse(0.0)

  def now(): Long = System.nanoTime()

  def newId(): Int = ids.incrementAndGet()
  /** Span id of the open cycle or query, the root of its trace. */
  @volatile var root: Int = 0

  /** Opens a trace (one cycle or one query run) on the calling thread. */
  def begin(traceId: String): Unit = {
    trace = traceId
    root = newId()
    spark.sparkContext.setLocalProperty("perfbench.trace", traceId)
    spark.sparkContext.setLocalProperty("perfbench.root", root.toString)
  }

  def record(parent: Int, name: String, stream: String, start: Long, end: Long,
             id: Int = newId()): Int = {
    if (measuring) spans.add(Span(id, parent, trace, name, stream, start, end))
    id
  }

  // ---- per-stream-thread state: which stream, loop and phase is open ----
  final class StreamCtx(val stream: String, val cap: Int, val start: Long) {
    val id: Int = newId()
    var loopId = 0
    var loopStart = 0L
    var mark = 0L        // end of the last recorded step in the open loop
    var sunk = false     // the open loop has called its sink
  }
  private val ctx = new ThreadLocal[StreamCtx]
  private val streamCaps = TrieMap.empty[String, Int]

  private def tag(stream: String, phase: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.trace", trace)
    sc.setLocalProperty("perfbench.stream", stream)
    sc.setLocalProperty("perfbench.phase", phase)
  }

  /** Streams wrapped so that extract and sink calls are timed and tagged;
    * `cap` and every other field are untouched. */
  def wrap(streams: Seq[StreamSpec]): Seq[StreamSpec] = streams.map { s =>
    streamCaps(s.name) = s.cap
    s.copy(
      extract = (sp: SparkSession, since: Timestamp) => {
        val c = ctx.get
        val t0 = now()
        if (c != null && c.loopStart == 0L) {
          c.loopStart = t0; c.loopId = newId(); c.sunk = false
        }
        tag(s.name, "extract")
        val df = s.extract(sp, since)
        val t1 = now()
        record(loopOf(c), "extract_plan", s.name, t0, t1)
        if (c != null) c.mark = t1
        df
      },
      sink = (b: DataFrame) => {
        val c = ctx.get
        val t0 = now()
        if (c != null) record(c.loopId, "extract_cap", s.name, c.mark, t0)
        tag(s.name, "sink")
        val before = if (measuring) files(s.name) else Map.empty[String, Long]
        s.sink(b)
        val t1 = now()
        record(loopOf(c), "sink", s.name, t0, t1)
        if (measuring) {
          val fresh = files(s.name).filter { case (p, n) => !before.get(p).contains(n) }
          add(s"files.${s.name}", fresh.size.toDouble)
          add(s"bytes.${s.name}", fresh.values.sum.toDouble)
        }
        tag(s.name, "cursor")
        if (c != null) { c.mark = t1; c.sunk = true }
      })
  }

  private def loopOf(c: StreamCtx): Int = if (c == null) root else c.loopId

  /** Target directory of each stream, for the files/bytes-written count. */
  val targets = TrieMap.empty[String, String]
  private def files(stream: String): Map[String, Long] = targets.get(stream).map { d =>
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty[String, Long]
    else {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += (f.getPath.toString + "@" + f.getModificationTime) -> f.getLen
      }
      b.result()
    }
  }.getOrElse(Map.empty)

  /** The runner's clock, called once per drain loop right after the cursor
    * step: closes the loop's extract+cap (empty batch) or cursor step. */
  def clockTick(): Unit = {
    val c = ctx.get
    if (c != null && c.loopStart != 0L) {
      val t = now()
      record(c.loopId, if (c.sunk) "cursor" else "extract_cap", c.stream, c.mark, t)
      c.mark = t
    }
  }

  // ---- watermark store: lock wait split from busy time ----
  private val depth = new ThreadLocal[Integer] { override def initialValue = 0 }
  def wm[T](store: AnyRef, name: String, table: String)(body: => T): T = {
    val outer = depth.get == 0
    val c = ctx.get
    val stream = if (c != null) c.stream else table
    if (outer && c != null) tag(c.stream, "wm")
    val t0 = now()
    store.synchronized {
      val t1 = now()
      depth.set(depth.get + 1)
      try body
      finally {
        depth.set(depth.get - 1)
        if (outer) {
          val t2 = now()
          val parent =
            if (c == null) root else if (c.loopStart != 0L) c.loopId else c.id
          val id = record(parent, name, stream, t1, t2)
          record(id, "wm_lock_wait", stream, t0, t1)
          add("wm_calls", 1)
        }
      }
    }
  }
  /** A stream starts with its watermark read. */
  def streamStart(table: String): Unit = {
    tag(table, "wm")
    ctx.set(new StreamCtx(table, streamCaps.getOrElse(table, Int.MaxValue), now()))
  }
  /** A loop ends with its watermark advance; a short batch ends the stream. */
  def loopEnd(rows: Long): Unit = {
    val c = ctx.get
    if (c != null) {
      val t = now()
      record(c.id, "loop", c.stream, c.loopStart, t, c.loopId)
      c.loopStart = 0L
      if (rows < c.cap) {
        record(root, "stream", c.stream, c.start, t, c.id)
        ctx.remove()
      }
    }
  }

  // ---- engine listeners ----
  private val jobs = TrieMap.empty[Int, Job]
  val jobCount = new LongAdder
  val jobsByStream = TrieMap.empty[String, LongAdder]
  private val msToNs = 1000000L
  private val wallOffset = System.nanoTime() - System.currentTimeMillis() * msToNs

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
      def p(k: String) = Option(e.properties).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(p("perfbench.trace"), p("perfbench.root").toIntOption.getOrElse(0),
        p("perfbench.stream"), e.time * msToNs + wallOffset)
      jobCount.increment()
      jobsByStream.getOrElseUpdate(p("perfbench.stream"), new LongAdder).increment()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        spans.add(Span(newId(), j.root, j.trace, "job", j.stream, j.start,
          e.time * msToNs + wallOffset))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val props = e.properties
      if (measuring && props != null)
        stagePhase(e.stageInfo.stageId) = Option(props.getProperty("perfbench.phase")).getOrElse("")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuring) {
      val m = e.taskMetrics
      add("tasks", 1)
      if (e.taskInfo != null) add("task_s", e.taskInfo.duration / 1000.0)
      if (m != null) {
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("gc_s", m.jvmGCTime / 1000.0)
        val phase = stagePhase.getOrElse(e.stageId, "")
        add(s"records_written.$phase", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }
  private val stagePhase = TrieMap.empty[Int, String]

  /** Adds a query execution's Catalyst phase times. */
  def addPhases(qe: QueryExecution, phases: Seq[String]): Unit = {
    val ph = qe.tracker.phases
    phases.foreach(k => ph.get(k).foreach(s => add(s"catalyst.$k", s.durationMs / 1000.0)))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe, Seq("analysis", "optimization", "planning"))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** A Spark job in flight, tagged with the trace, root span and stream that
  * submitted it. */
final case class Job(trace: String, root: Int, stream: String, start: Long)

/** `WatermarkStore` whose every call takes the store's monitor first and
  * then calls `super`: the monitor is reentrant, so behaviour is unchanged,
  * and the time spent waiting for it is split from the time holding it. */
final class TracedWatermarkStore(spark: SparkSession, dir: String, t: Tracer)
    extends WatermarkStore(spark, dir) {
  override def all(): Map[String, graft.runtime.WatermarkState] =
    t.wm(this, "wm_read", "")(super.all())
  override def since(table: String, overlapSec: Long): Timestamp = {
    t.streamStart(table)
    super.since(table, overlapSec)
  }
  override def advance(table: String, rows: Long, to: Timestamp, now: Timestamp): Unit = {
    t.wm(this, "wm_advance", table)(super.advance(table, rows, to, now))
    t.loopEnd(rows)
  }
}

/** `MetricsStore` with `record` timed. */
final class TracedMetricsStore(spark: SparkSession, dir: String, t: Tracer)
    extends MetricsStore(spark, dir) {
  override def record(cycleId: Long, at: Timestamp, report: CycleReport): Unit = {
    val t0 = t.now()
    super.record(cycleId, at, report)
    t.record(t.root, "metrics_record", "", t0, t.now())
  }
}
