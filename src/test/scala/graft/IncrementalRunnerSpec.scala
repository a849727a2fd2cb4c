package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.merge.MergeSink
import graft.model.Tables
import graft.runtime.{CycleScheduler, IncrementalRunner, StreamSpec, WatermarkStore}

/** End-to-end incremental runtime (SURVEY §2.11 + §5): replaying the events
  * table in micro-batches must converge to the one-shot batch result; caps
  * drain within a cycle; watermarks advance on empty batches. */
class IncrementalRunnerSpec extends SparkTestBase {
  import spark.implicits._

  private def events: DataFrame = Tables.load(spark, sf(), "events")

  /** An extract fn that sees only rows the "source" has produced so far
    * (simulated by a mutable visibility horizon) — new rows appear between
    * cycles exactly like OLTP writes between polls. */
  private class Source {
    @volatile var horizon: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")
    def extract(s: SparkSession, since: Timestamp): DataFrame =
      events.filter(col("ts") >= lit(since) && col("ts") < lit(horizon))
  }

  test("incremental replay over 3 cycles == one-shot batch (effectively-once)") {
    val wmDir = tmpDir("wm")
    val sinkDir = tmpDir("sink")
    val store = new WatermarkStore(spark, wmDir)
    val src = new Source
    val spec = StreamSpec("events",
      extract = src.extract, watermarkCol = "ts", tieBreakCol = "event_id",
      sink = b => MergeSink.appendDedup(spark, sinkDir, b, "event_id"),
      cap = 5000)
    // the simulated source lives in 2024, so "NOW" for watermark purposes is
    // its visibility horizon, not this machine's wall clock
    val runner = new IncrementalRunner(spark, store, overlapSec = 90,
      now = () => src.horizon)

    for (h <- Seq("2024-01-12 00:00:00", "2024-01-21 00:00:00", "2024-02-01 00:00:00")) {
      src.horizon = Timestamp.valueOf(h)
      val r = runner.runCycle(Seq(spec))
      assert(r.failed.isEmpty, r.failed.mkString(","))
    }
    val got = spark.read.parquet(sinkDir)
    assert(got.count() == events.count())           // nothing lost, nothing duped
    assert(got.select("event_id").distinct().count() == events.count())
  }

  test("capped stream drains within one cycle; watermark = max-seen when capped") {
    val wmDir = tmpDir("wm2")
    val sinkDir = tmpDir("sink2")
    val store = new WatermarkStore(spark, wmDir)
    val src = new Source
    src.horizon = Timestamp.valueOf("2024-02-01 00:00:00")
    val spec = StreamSpec("events",
      extract = src.extract, watermarkCol = "ts", tieBreakCol = "event_id",
      sink = b => MergeSink.appendDedup(spark, sinkDir, b, "event_id"),
      cap = 100)                                    // tiny cap: forces ~10 loops
    val runner = new IncrementalRunner(spark, store, overlapSec = 90)
    val r = runner.runCycle(Seq(spec))
    assert(r.results.head.drainedLoops > 1)         // it looped (T5 fix)
    assert(spark.read.parquet(sinkDir).count() == events.count()) // §2.12.e/i fixed
  }

  test("watermark advances even on empty batches (T8) and failures are isolated (T6)") {
    val wmDir = tmpDir("wm3")
    val store = new WatermarkStore(spark, wmDir)
    val runner = new IncrementalRunner(spark, store, overlapSec = 90)
    val empty = StreamSpec("empty",
      extract = (s, since) => events.filter(lit(false)),
      watermarkCol = "ts", tieBreakCol = "event_id",
      sink = _ => fail("sink must not run on empty batch"), cap = 100)
    val boom = StreamSpec("boom",
      extract = (s, since) => throw new RuntimeException("synthetic failure"),
      watermarkCol = "ts", tieBreakCol = "event_id", sink = _ => (), cap = 100)
    val r = runner.runCycle(Seq(boom, empty))
    assert(r.failed.map(_.name) == Seq("boom"))     // empty stream unaffected
    val st = store.get("empty")
    assert(st.isDefined && st.get.rowsLastRun == 0) // offset committed anyway
    assert(store.get("boom").isEmpty)               // failed stream not advanced
  }

  test("cycle metrics persist per stream; append sinks compact when fragmented") {
    val wmDir = tmpDir("wm5")
    val sinkDir = tmpDir("sink5")
    val metricsDir = tmpDir("metrics5")
    val store = new WatermarkStore(spark, wmDir)
    val src = new Source
    src.horizon = Timestamp.valueOf("2024-02-01 00:00:00")
    val spec = StreamSpec("events",
      extract = src.extract, watermarkCol = "ts", tieBreakCol = "event_id",
      sink = b => MergeSink.appendDedup(spark, sinkDir, b, "event_id"),
      cap = 100)
    val runner = new IncrementalRunner(spark, store, 90, () => src.horizon)
    val sched = new graft.runtime.CycleScheduler(runner,
      metrics = Some(new graft.runtime.MetricsStore(spark, metricsDir)),
      now = () => src.horizon)
    sched.runOnce(Seq(spec))
    val m = spark.read.parquet(metricsDir)
    assert(m.count() == 1)
    val row = m.collect()(0)
    // extracted-row counts include 90s-overlap re-deliveries across drain
    // loops (the reference's counters have the same at-least-once semantics)
    assert(row.getAs[String]("stream") == "events" && row.getAs[Long]("rows") >= 1000L)
    // the tiny cap forced ~10 loops => >= 10 file sets; compaction collapses them
    val before = MergeSink.dataFileCount(spark, sinkDir)
    assert(before > 8, s"files=$before")
    assert(MergeSink.compactIfNeeded(spark, sinkDir, maxFiles = 8, targetPartitions = 2))
    assert(MergeSink.dataFileCount(spark, sinkDir) <= 2)
    assert(spark.read.parquet(sinkDir).count() == 1000)
  }

  test("dense overlap window >= cap does not wedge the stream or regress the watermark") {
    // 200 already-seen rows packed inside the 90s overlap window, 50 new rows
    // after the stored watermark, cap 100: the first page is pure overlap, so
    // max(batch) < stored watermark. Pre-fix this walked the watermark
    // backwards and the progress guard wedged the stream; the new rows were
    // never ingested.
    val wmDir = tmpDir("wm6")
    val sinkDir = tmpDir("sink6")
    val store = new WatermarkStore(spark, wmDir)
    val rows = (0 until 200).map(i =>
      (Timestamp.valueOf(f"2024-01-01 10:00:${i % 50}%02d"), s"old_$i%03d")) ++
      (0 until 50).map(i =>
        (Timestamp.valueOf(f"2024-01-01 10:05:${i % 50}%02d"), s"new_$i%03d"))
    val df = rows.toDF("ts", "event_id")
    val prevWm = Timestamp.valueOf("2024-01-01 10:01:00")
    store.advance("s", 200, prevWm, prevWm)
    val spec = StreamSpec("s",
      extract = (_, since) => df.filter(col("ts") >= lit(since)),
      watermarkCol = "ts", tieBreakCol = "event_id",
      sink = b => MergeSink.appendDedup(spark, sinkDir, b, "event_id"),
      cap = 100)
    val horizon = Timestamp.valueOf("2024-01-01 10:10:00")
    val runner = new IncrementalRunner(spark, store, overlapSec = 90, now = () => horizon)
    val r = runner.runCycle(Seq(spec))
    assert(r.failed.isEmpty, r.failed.mkString(","))
    val got = spark.read.parquet(sinkDir)
    assert(got.count() == 250)                            // new rows ingested
    assert(!store.get("s").get.lastFetchedAt.before(prevWm)) // never regressed
  }

  test(">cap rows sharing one watermark value all ingest via the tie-break cursor") {
    // 30 rows at an identical timestamp, cap 10: progress within the tie is
    // only possible through the composite (ts, tieBreak) cursor. Pre-fix the
    // rows beyond the cap were silently lost (the §2.12.e bug).
    val wmDir = tmpDir("wm7")
    val sinkDir = tmpDir("sink7")
    val store = new WatermarkStore(spark, wmDir)
    val ts = Timestamp.valueOf("2024-03-01 12:00:00")
    val df = (0 until 30).map(i => (ts, f"e$i%03d")).toDF("ts", "event_id")
    val spec = StreamSpec("ties",
      extract = (_, since) => df.filter(col("ts") >= lit(since)),
      watermarkCol = "ts", tieBreakCol = "event_id",
      sink = b => MergeSink.appendDedup(spark, sinkDir, b, "event_id"),
      cap = 10)
    val runner = new IncrementalRunner(spark, store, overlapSec = 90,
      now = () => Timestamp.valueOf("2024-03-01 12:01:00"))
    val r = runner.runCycle(Seq(spec))
    assert(r.failed.isEmpty)
    assert(r.results.head.drainedLoops >= 3)
    assert(spark.read.parquet(sinkDir).count() == 30)     // nothing lost
  }

  test("scheduler escalates after N consecutive failing cycles (T7)") {
    val wmDir = tmpDir("wm4")
    val store = new WatermarkStore(spark, wmDir)
    val runner = new IncrementalRunner(spark, store)
    var alerts = 0
    val sched = new CycleScheduler(runner, maxConsecutiveFailures = 3,
      onAlert = _ => alerts += 1)
    val boom = StreamSpec("boom",
      extract = (s, since) => throw new RuntimeException("down"),
      watermarkCol = "ts", tieBreakCol = "event_id", sink = _ => (), cap = 10)
    (1 to 4).foreach(_ => sched.runOnce(Seq(boom)))
    assert(alerts == 2)                             // fired at cycles 3 and 4
  }

  test("scheduler runs maintenance per cycle and contains its failures") {
    val store = new WatermarkStore(spark, tmpDir("wm5"))
    val runner = new IncrementalRunner(spark, store)
    var seen = Seq.empty[Long]
    var alerts = Seq.empty[String]
    val sched = new CycleScheduler(runner, onAlert = alerts :+= _,
      maintenance = id => {
        seen :+= id
        if (id == 2) throw new RuntimeException("compaction hiccup")
      })
    val noop = StreamSpec("noop",
      extract = (s, since) => {
        import spark.implicits._
        Seq.empty[(Timestamp, Long)].toDF("ts", "event_id")
      },
      watermarkCol = "ts", tieBreakCol = "event_id", sink = _ => (), cap = 10)
    val reports = (1 to 3).map(_ => sched.runOnce(Seq(noop)))
    assert(seen == Seq(1L, 2L, 3L))                 // ran every cycle
    assert(reports.forall(_.failed.isEmpty))        // hiccup didn't fail the cycle
    assert(alerts.exists(_.contains("maintenance failed")))
  }

  test("every job a stream starts is described with its stream and phase") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val store = new WatermarkStore(spark, tmpDir("wm6"))
    val src = new Source
    src.horizon = Timestamp.valueOf("2024-01-05 00:00:00")
    def spec(name: String) = StreamSpec(name, extract = src.extract,
      watermarkCol = "ts", tieBreakCol = "event_id",
      sink = b => MergeSink.appendDedup(spark, tmpDir(name), b, "event_id"), cap = 100)
    // the pool threads inherit this mark, so it selects the cycle's jobs
    val mark = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.spec.mark") == mark)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.mark", mark)
    sc.setJobDescription("outer")
    try {
      val r = new IncrementalRunner(spark, store, overlapSec = 90, now = () => src.horizon,
        maxConcurrentStreams = 2).runCycle(Seq(spec("a"), spec("b")))
      assert(r.failed.isEmpty, r.failed.mkString(","))
      assert(r.results.forall(_.drainedLoops > 1))
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty("graft.spec.mark", null)
      sc.setJobDescription(null)
    }
    import scala.jdk.CollectionConverters._
    val descs = seen.asScala.toSeq
    val tag = "stream=(a|b) phase=(extract|sink|cursor|advance)".r
    assert(descs.nonEmpty && descs.forall(tag.matches), descs.distinct)
    assert(descs.toSet == (for (s <- Seq("a", "b"); p <- Seq("extract", "sink",
      "cursor", "advance")) yield s"stream=$s phase=$p").toSet, descs.distinct)
  }
}
