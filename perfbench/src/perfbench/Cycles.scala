package perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Bootstrap
import graft.ext.Quality
import graft.merge.MergeSink
import graft.ops.{ScenarioPipeline, ScenarioSources}
import graft.runtime._

/** The incremental ETL cycle, wired the way `graft.Main.run` wires it with
  * `GRAFT_TX_SINKS` unset: `ScenarioPipeline.streams` with the production
  * caps, `overlapSec = 90`, six concurrent streams, a `CycleScheduler` with
  * a `MetricsStore` and the compaction upkeep. A simulated clock replaces
  * the wall clock and the 30 s sleep: each cycle advances it by one tick.
  * Targets are pre-loaded with `historyTicks` ticks of arrivals; then the
  * measured cycles run back to back, one tick each.
  */
object Cycles {
  /** Merge mode of each stream's sink, as `ScenarioPipeline.streams` wires it. */
  val modes: Map[String, String] = Map(
    "fc_scenario" -> "upsert", "fc_scenario_run" -> "upsert",
    "fc_scenario_node_data" -> "scd2", "fc_scenario_event_data" -> "scd2",
    "fc_scenario_node_calc" -> "insert_if_absent",
    "fc_scenario_timeline" -> "append_dedup")
  /** Target table and merge key of each stream. */
  val targets: Map[String, (String, String)] = Map(
    "fc_scenario" -> ("dim_scenario", "scenario_id"),
    "fc_scenario_node_data" -> ("fact_node_input_history", "source_id"),
    "fc_scenario_run" -> ("fact_run_summary", "run_id"),
    "fc_scenario_node_calc" -> ("fact_node_calc_results", "source_id"),
    "fc_scenario_event_data" -> ("fact_event_input_history", "source_id"),
    "fc_scenario_timeline" -> ("fact_scenario_timeline", "source_key"))
  def short(stream: String): String = stream.stripPrefix("fc_scenario_") match {
    case "fc_scenario" => "scenario"
    case s => s
  }

  final case class Cycle(wall: Double, report: CycleReport)

  /** One warehouse with its runtime pieces. */
  final class Pipeline(spark: SparkSession, wh: String, tracer: Option[Tracer],
                       clock: () => Long) {
    val boot = new Bootstrap(spark, wh)
    boot.setup()
    private val wmDir = boot.tablePath("etl_watermark")
    val store: WatermarkStore = tracer.fold(new WatermarkStore(spark, wmDir))(
      t => new TracedWatermarkStore(spark, wmDir, t))
    private val metricsDir = boot.tablePath("etl_metrics")
    val metrics: MetricsStore = tracer.fold(new MetricsStore(spark, metricsDir))(
      t => new TracedMetricsStore(spark, metricsDir, t))
    val runner = new IncrementalRunner(spark, store, 90L,
      now = () => { tracer.foreach(_.clockTick()); new Timestamp(clock()) },
      maxConcurrentStreams = 6)
    val sched = new CycleScheduler(runner, 10, metrics = Some(metrics),
      now = () => new Timestamp(clock()),
      maintenance = cycleId =>
        if (cycleId % 120 == 0)
          MergeSink.compactIfNeeded(spark, boot.tablePath("fact_scenario_timeline"),
            maxFiles = 256, targetPartitions = 1, partitionCols = Seq("event_date")))
    tracer.foreach(t => targets.foreach { case (s, (tbl, _)) => t.targets(s) = boot.tablePath(tbl) })

    def streams(src: ScenarioSources, cap: Option[Int] = None): Seq[StreamSpec] = {
      val s = ScenarioPipeline.streams(spark, src, boot)
        .map(x => cap.fold(x)(c => x.copy(cap = c)))
      tracer.fold(s)(_.wrap(s))
    }
  }

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Result = {
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val t = System.nanoTime(); phases(name) = (t - mark) / 1e9; mark = t
    }
    val base = Sources.read(spark, a.inputs)
    @volatile var horizon = Sources.T0
    val clock = () => horizon
    def view() = AsOf.view(base, new Timestamp(horizon))

    val cycles = ArrayBuffer.empty[Cycle]
    val rootIds = ArrayBuffer.empty[Int]
    val warehouse = s"${a.work}/wh"
    val pl = new Pipeline(spark, warehouse, tracer, clock)
    phase("bootstrap")
    horizon = Sources.T0 + a.historyTicks * Sources.TickMs
    // pre-load: the same sinks, drained in one loop each. It is also the
    // JVM's warm-up: the first measured cycle runs as fast as later ones
    // (perfbench/README.md, "Warm-up").
    pl.sched.runOnce(pl.streams(view(), cap = Some(Int.MaxValue)))
    phase("preload")
    val measuredFrom = new Timestamp(horizon)
    val measureStart = System.nanoTime()
    val measureStartMs = System.currentTimeMillis()
    tracer.foreach(_.measuring = true)
    var i = 0
    while (i < a.maxCycles && (i < 2 || System.nanoTime() - measureStart < a.seconds * 1e9)) {
      horizon += Sources.TickMs
      tracer.foreach(_.begin(s"cycle-$i"))
      val streams = pl.streams(view())
      val t0 = System.nanoTime()
      val report = pl.sched.runOnce(streams)
      val t1 = System.nanoTime()
      tracer.foreach { t =>
        t.record(0, "cycle", "", t0, t1, t.root)
        rootIds += t.root
      }
      cycles += Cycle((t1 - t0) / 1e9, report)
      i += 1
    }
    val measured = (System.nanoTime() - measureStart) / 1e9
    tracer.foreach { t => t.drain(); t.measuring = false }
    phase("measure")
    val retained = Files.retainedHeapMb()

    // ---- correctness, untimed ----
    val endTs = new Timestamp(horizon)
    val oneShot = pl.streams(AsOf.view(base, endTs)).map(s => s.name -> s).toMap
    val pending = ArrayBuffer.empty[() => (String, Boolean, String)]
    def check(name: String)(body: => (Boolean, String)): Unit = pending += { () =>
      val r = try body catch { case e: Throwable => (false, e.toString) }
      (name, r._1, r._2)
    }
    if (sys.env.get("PERFBENCH_CORRUPT").contains("target")) Files.corrupt(
      s"$warehouse/fact_node_input_history")
    def target(table: String) = MergeSink.readAny(spark, pl.boot.tablePath(table)).get
    val newRows = new java.util.concurrent.atomic.AtomicLong
    targets.toSeq.sortBy(_._1).foreach { case (stream, (table, key)) =>
      check(s"$table.keys") {
        // one job: key sets compared, and the keys new since measuring began
        val want = oneShot(stream).extract(spark, WatermarkStore.defaultSince)
          .groupBy(col(key).as("k"))
          .agg(max((col("wm_ts") >= lit(measuredFrom)).cast("long")).as("fresh"))
        val got = target(table).select(col(key).as("k")).distinct().withColumn("t", lit(1))
        val r = want.join(got, Seq("k"), "full_outer").agg(
          count(when(col("t").isNull, 1)), count(when(col("fresh").isNull, 1)),
          coalesce(sum(col("fresh")), lit(0L))).head()
        newRows.addAndGet(r.getLong(2))
        (r.getLong(0) == 0 && r.getLong(1) == 0,
          s"missing=${r.getLong(0)} extra=${r.getLong(1)}")
      }
      check(s"$table.duplicates") {
        val n = Quality.duplicates(target(table), Seq(key)).count()
        (n == 0, s"duplicate_keys=$n")
      }
    }
    def scd2(table: String, entity: Seq[String]): Unit = check(s"$table.scd2") {
      val n = MergeSink.scd2Violations(target(table), entity, "is_current_version").count()
      (n == 0, s"violations=$n")
    }
    scd2("fact_node_input_history", Seq("scenario_id", "model_node_id"))
    scd2("fact_event_input_history",
      Seq("scenario_id", "event_type_name", "population_node_name"))
    // current state of the mutable columns the clock drives
    def state(stream: String, cols: Column*): Unit = check(s"${targets(stream)._1}.state") {
      val (table, _) = targets(stream)
      val got = target(table).select(cols: _*)
      val want = oneShot(stream).extract(spark, WatermarkStore.defaultSince)
        .select(cols: _*)
      val diff = want.except(got).count() + got.except(want).count()
      (diff == 0, s"differing_rows=$diff")
    }
    state("fc_scenario", col("scenario_id"), col("scenario_status"), col("locked_at"),
      col("withdraw_at"))
    // a running run's rollup refreshes when it completes, so only finished
    // runs must match the one-shot counts
    state("fc_scenario_run", col("run_id"), col("run_status"), col("run_complete_at"),
      when(col("run_complete_at").isNotNull, col("total_nodes_processed")).as("n"))

    val checks = Par.run(pending.toSeq)
    phase("check")
    val walls = cycles.map(_.wall).toSeq
    val rows = cycles.map(_.report.totalRows).sum
    val loops = cycles.map(_.report.results.map(r => math.max(r.drainedLoops, 1)).sum).sum
    val failedStreams = cycles.map(_.report.failed.size).sum
    val failedChecks = checks.count(!_._2)
    val e2e = Map(
      "unit_s" -> Stats.median(walls),
      "rows_per_s" -> rows / walls.sum,
      "storage_mb" -> Files.size(warehouse) / 1e6,
      "retained_heap_mb" -> retained.last)
    val detail = Map[String, Any]("retained_heap_steps_mb" -> retained,
      "cycles" -> walls.size, "cycle_wall_s" -> walls,
      "cycle_streams" -> cycles.map(_.report.results.map(r =>
        short(r.name) -> Map("rows" -> r.rows, "loops" -> r.drainedLoops)).toMap).toSeq,
      "rows_total" -> rows, "measured_s" -> measured,
      "measure_start_ms" -> measureStartMs, "phases_s" -> phases,
      "new_source_rows" -> newRows.get,
      "checks" -> checks.map { case (n, ok, m) => Map("name" -> n, "ok" -> ok, "detail" -> m) }.toSeq)
    val (layers, trace) = tracer.map(t => Layers.cycles(t, rootIds.toSeq, walls, rows,
      newRows.get, measured)).getOrElse((Map.empty[String, Double], Map.empty[String, Any]))
    Result(e2e, layers, loops + checks.size, failedStreams + failedChecks,
      detail ++ (if (trace.nonEmpty) Map("trace" -> trace) else Map.empty))
  }
}

/** Runs independent Spark actions four at a time, so the checks keep the
  * cores busy. */
object Par {
  def run[T](tasks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }
}
