package graft.runtime

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** The incremental micro-batch runtime — the reference's scheduler+pipeline
  * loop (pipeline.py:25-115, scheduler.py:35-69; SURVEY §2.11) over our
  * merge sinks, with the two silent-data-loss bugs fixed (SURVEY §2.12.e/i):
  *
  *  - when a batch hits its row cap, the watermark advances to the MAX
  *    watermark-column value actually extracted (not wall-clock NOW), so
  *    rows between the cap and NOW are never skipped;
  *  - a capped stream drains in a loop within the cycle instead of leaking
  *    backlog to the next cycle at 1 cap per 30 s.
  *
  * Caps are applied with a deterministic (watermarkCol, tieBreak) sort
  * (§2.12.a fix) so re-extraction is reproducible.
  */
final case class StreamSpec(
    name: String,
    /** builds the incremental batch: rows with watermarkCol >= since */
    extract: (SparkSession, Timestamp) => DataFrame,
    watermarkCol: String,
    tieBreakCol: String,
    sink: DataFrame => Unit,
    cap: Int = 5000)

final case class StreamResult(name: String, rows: Long, drainedLoops: Int,
                              error: Option[String])

final case class CycleReport(results: Seq[StreamResult]) {
  def failed: Seq[StreamResult] = results.filter(_.error.isDefined)
  def totalRows: Long = results.map(_.rows).sum
}

class IncrementalRunner(spark: SparkSession, store: WatermarkStore,
                        overlapSec: Long = 90L,
                        now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
                        maxConcurrentStreams: Int = 1) {

  /** One cycle over all streams; failures are isolated per stream
    * (pipeline.py's per-table try/except, T6). With
    * `maxConcurrentStreams > 1` the independent streams run as concurrent
    * Spark jobs (they touch disjoint targets and watermark rows commute per
    * table) — the reference's sequential table loop is its biggest
    * throughput cliff at scale; cluster-side the scheduler interleaves the
    * stages. */
  def runCycle(streams: Seq[StreamSpec]): CycleReport = {
    def one(s: StreamSpec): StreamResult =
      try runStream(s)
      catch { case NonFatal(e) =>
        StreamResult(s.name, 0L, 0, Some(e.toString)) }
    if (maxConcurrentStreams <= 1) CycleReport(streams.map(one))
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrentStreams, math.max(streams.size, 1)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try CycleReport(Await.result(
        Future.sequence(streams.map(s => Future(one(s)))), Duration.Inf))
      finally pool.shutdown()
    }
  }

  /** Extract-cap-sink-advance for one stream, looping until drained (T5).
    *
    * The overlap window applies once, at cycle start; inside the drain loop
    * pagination is a strictly-greater composite cursor over
    * (watermarkCol, tieBreakCol). That keeps two invariants the reference
    * breaks (§2.12.e): >cap rows sharing one watermark value still make
    * progress (the tie-break orders within the tie, so no row past the cap
    * is ever skipped), and the stored watermark never regresses — a capped
    * batch that fell entirely inside the overlap window carries only
    * already-seen timestamps, so advancing to its max would walk the
    * watermark backwards and wedge the stream on the same historical page.
    *
    * Every Spark job the stream starts is described `stream=<name>
    * phase=extract|sink|cursor|advance` (`spark.job.description`, on this
    * thread only); the thread's previous description is restored after. */
  private def runStream(s: StreamSpec): StreamResult = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    def phase(p: String): Unit = sc.setJobDescription(s"stream=${s.name} phase=$p")
    try {
      var total = 0L
      var loops = 0
      var drained = false
      phase("extract")
      val since = store.since(s.name, overlapSec)
      var cursor: Option[(Timestamp, Any)] = None
      while (!drained) {
        phase("extract")
        val base = s.extract(spark, since)
        val page = cursor match {
          case None => base
          case Some((wm, tie)) =>
            base.filter(col(s.watermarkCol) > lit(wm) ||
              (col(s.watermarkCol) === lit(wm) && col(s.tieBreakCol) > lit(tie)))
        }
        val batch = page
          .orderBy(col(s.watermarkCol), col(s.tieBreakCol))
          .limit(s.cap)
          .localCheckpoint() // batch is consumed 3× (sink, count, max); pin it
        val n = batch.count()
        if (n > 0) {
          phase("sink")
          s.sink(batch)
          phase("cursor")
          val top = batch
            .agg(max(struct(col(s.watermarkCol).as("w"), col(s.tieBreakCol).as("t"))))
            .collect()(0).getStruct(0)
          cursor = Some((WatermarkStore.tsOf(top.get(0)), top.get(1)))
        }
        val wallNow = now()
        drained = n < s.cap
        // T8: advance even on an empty batch so the overlap window stays 90s.
        // Never regress: max(previous watermark, candidate) — candidate is NOW
        // once fully drained (like the reference) else the max seen this page.
        val candidate: Timestamp =
          if (drained) wallNow else cursor.map(_._1).getOrElse(wallNow)
        phase("advance")
        val prev = store.get(s.name).map(_.lastFetchedAt)
        val newWm = prev.filter(_.after(candidate)).getOrElse(candidate)
        store.advance(s.name, n, newWm, wallNow)
        total += n
        loops += 1
      }
      StreamResult(s.name, total, loops, None)
    } finally sc.setJobDescription(outer)
  }
}

/** Cycle scheduler with failure escalation (scheduler.py:35-69, T1/T7) and
  * optional persisted per-cycle metrics (A5 observability). */
class CycleScheduler(runner: IncrementalRunner,
                     maxConsecutiveFailures: Int = 10,
                     onAlert: String => Unit = s => System.err.println(s),
                     metrics: Option[MetricsStore] = None,
                     now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
                     /** off-hot-path upkeep (e.g. small-file compaction),
                       * invoked with the cycle id after each cycle; failures
                       * are contained — upkeep must never kill the loop */
                     maintenance: Long => Unit = _ => ()) {
  private var consecutiveFailures = 0
  private var cycleId = 0L

  def runOnce(streams: Seq[StreamSpec]): CycleReport = {
    val report = runner.runCycle(streams)
    cycleId += 1
    metrics.foreach(_.record(cycleId, now(), report))
    if (report.failed.nonEmpty) {
      consecutiveFailures += 1
      if (consecutiveFailures >= maxConsecutiveFailures)
        onAlert(s"$consecutiveFailures consecutive failed cycles: " +
          report.failed.map(r => s"${r.name}: ${r.error.get}").mkString("; "))
    } else consecutiveFailures = 0
    try maintenance(cycleId)
    catch { case NonFatal(e) => onAlert(s"maintenance failed: $e") }
    report
  }

  /** Blocking poll loop (scheduler.py:45-69). Runs `cycles` iterations
    * (Int.MaxValue ≈ forever), sleeping `pollIntervalSec` between cycles —
    * even after a failed cycle, like the reference. */
  def run(streams: Seq[StreamSpec], pollIntervalSec: Long = 30L,
          cycles: Int = Int.MaxValue): Unit = {
    var i = 0
    while (i < cycles) {
      runOnce(streams)
      i += 1
      if (i < cycles) Thread.sleep(pollIntervalSec * 1000L)
    }
  }
}
