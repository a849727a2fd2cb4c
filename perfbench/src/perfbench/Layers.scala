package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics from a traced run, plus the span analysis the artifact
  * carries: layer self times, span coverage of the slowest stream, and the
  * watermark store's share of the cycle. */
object Layers {
  val streams: Seq[String] = Seq("scenario", "node_data", "run", "node_calc",
    "event_data", "timeline")
  val mergeModes: Seq[String] = Seq("upsert", "scd2", "insert_if_absent", "append_dedup")

  /** Every declared per-layer metric; layers a workload does not run read 0. */
  val names: Seq[String] =
    Seq("runtime.wm_read_s", "runtime.wm_advance_s", "runtime.wm_lock_wait_s",
      "runtime.wm_calls") ++
    streams.map(s => s"runtime.loops.$s") ++
    streams.map(s => s"runtime.extract_cap_s.$s") ++
    Seq("runtime.cursor_s", "runtime.reextract_ratio") ++
    streams.map(s => s"runtime.stream_span_s.$s") ++
    Seq("runtime.metrics_record_s", "ops.extract_plan_s") ++
    mergeModes.map(m => s"merge.sink_s.$m") ++
    Seq("merge.rows_written", "merge.files_written", "merge.bytes_written",
      "merge.rewrite_ratio",
      "engine.jobs", "engine.tasks", "engine.task_s", "engine.core_busy_ratio",
      "engine.shuffle_read_bytes", "engine.shuffle_write_bytes",
      "engine.spill_bytes", "engine.gc_s",
      "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s") ++
    Queries.paths.map(q => s"query.${q}_s")

  /** Span name to the layer whose code it times. */
  private val layerOf: Map[String, String] = Map(
    "cycle" -> "runtime", "stream" -> "runtime", "loop" -> "runtime",
    "cursor" -> "runtime", "wm_read" -> "runtime", "wm_advance" -> "runtime",
    "wm_lock_wait" -> "runtime", "metrics_record" -> "runtime",
    "extract_plan" -> "ops", "extract_cap" -> "ops", "sink" -> "merge",
    "query" -> "sql", "job" -> "engine")

  /** Every span, for the artifact: times in seconds from the first span. */
  def dump(spans: Seq[Span]): Seq[Map[String, Any]] = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    spans.sortBy(_.start).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name, "stream" -> s.stream,
      "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9))
  }

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Engine and Catalyst counters, per unit of work (cycle or pass). */
  def engine(t: Tracer, units: Int, measured: Double): Map[String, Double] = {
    val n = math.max(units, 1).toDouble
    val cores = Runtime.getRuntime.availableProcessors
    Map(
      "engine.jobs" -> t.jobCount.sum() / n,
      "engine.tasks" -> t.value("tasks") / n,
      "engine.task_s" -> t.value("task_s") / n,
      "engine.core_busy_ratio" -> t.value("task_s") / (measured * cores),
      "engine.shuffle_read_bytes" -> t.value("shuffle_read_bytes") / n,
      "engine.shuffle_write_bytes" -> t.value("shuffle_write_bytes") / n,
      "engine.spill_bytes" -> t.value("spill_bytes") / n,
      "engine.gc_s" -> t.value("gc_s") / n,
      "catalyst.analysis_s" -> t.value("catalyst.analysis") / n,
      "catalyst.optimization_s" -> t.value("catalyst.optimization") / n,
      "catalyst.planning_s" -> t.value("catalyst.planning") / n)
  }

  /** Self time per layer: each span's duration minus what its children
    * cover. Job spans are left out; they overlap the spans of the threads
    * that submitted them. */
  def selfTimes(spans: Seq[Span], units: Int): Map[String, Double] = {
    val kids = spans.filter(_.name != "job").groupBy(_.parent)
    spans.filter(_.name != "job").groupBy(s => layerOf.getOrElse(s.name, "other"))
      .map { case (layer, ss) =>
        val self = ss.map { s =>
          val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
          (s.end - s.start) - covered(c, s.start, s.end)
        }.sum
        layer -> self / 1e9 / math.max(units, 1)
      }
  }

  def cycles(t: Tracer, roots: Seq[Int], walls: Seq[Double], rows: Long,
             newRows: Long, measured: Double): (Map[String, Double], Map[String, Any]) = {
    val spans = t.spans.asScala.toSeq
    val n = math.max(walls.size, 1).toDouble
    def sum(name: String, stream: Option[String] = None): Double =
      spans.filter(s => s.name == name && stream.forall(x => Cycles.short(s.stream) == x))
        .map(_.seconds).sum
    val sinkByMode = mergeModes.map { m =>
      s"merge.sink_s.$m" -> spans.filter(s => s.name == "sink" &&
        Cycles.modes.get(s.stream).contains(m)).map(_.seconds).sum / n
    }
    val written = t.value("records_written.sink")
    val files = t.sums.keys.filter(_.startsWith("files.")).map(t.value).sum
    val bytes = t.sums.keys.filter(_.startsWith("bytes.")).map(t.value).sum
    val m = Map(
      "runtime.wm_read_s" -> sum("wm_read") / n,
      "runtime.wm_advance_s" -> sum("wm_advance") / n,
      "runtime.wm_lock_wait_s" -> sum("wm_lock_wait") / n,
      "runtime.wm_calls" -> t.value("wm_calls") / n,
      "runtime.cursor_s" -> sum("cursor") / n,
      "runtime.reextract_ratio" -> (if (newRows > 0) rows.toDouble / newRows else 0.0),
      "runtime.metrics_record_s" -> sum("metrics_record") / n,
      "ops.extract_plan_s" -> sum("extract_plan") / n,
      "merge.rows_written" -> written / n,
      "merge.files_written" -> files / n,
      "merge.bytes_written" -> bytes / n,
      "merge.rewrite_ratio" -> (if (rows > 0) written / rows else 0.0)) ++
      streams.flatMap { s =>
        Seq(s"runtime.loops.$s" -> spans.count(x => x.name == "loop" &&
            Cycles.short(x.stream) == s) / n,
          s"runtime.extract_cap_s.$s" -> sum("extract_cap", Some(s)) / n,
          s"runtime.stream_span_s.$s" -> sum("stream", Some(s)) / n)
      } ++ sinkByMode ++ engine(t, walls.size, measured)

    // per cycle: the slowest stream, how much of it child spans cover, and
    // the watermark store's part of it (busy plus lock wait)
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    def descendants(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(k => k +: descendants(k.id))
    val perCycle = roots.flatMap(byId.get).map { cyc =>
      val ss = kids.getOrElse(cyc.id, Nil).filter(_.name == "stream")
      val slow = ss.maxBy(s => s.end - s.start)
      val parts = descendants(slow.id).filter(_.name != "loop")
      val cov = covered(parts.map(p => (p.start, p.end)), slow.start, slow.end).toDouble /
        (slow.end - slow.start)
      val wm = parts.filter(_.name.startsWith("wm_")).map(_.seconds).sum
      Map("cycle_s" -> cyc.seconds, "slowest_stream" -> Cycles.short(slow.stream),
        "slowest_stream_s" -> slow.seconds, "child_coverage" -> cov,
        "wm_on_slowest_s" -> wm, "wm_share_of_cycle" -> wm / cyc.seconds,
        "jobs" -> spans.count(s => s.name == "job" && s.trace == cyc.trace))
    }
    def med(k: String) = Stats.median(perCycle.map(_(k).asInstanceOf[Double]))
    val detail = Map[String, Any](
      "self_s_per_unit" -> selfTimes(spans.filter(_.trace.startsWith("cycle")), walls.size),
      "job_s_per_unit" -> sum("job") / n,
      "jobs_by_stream_per_unit" -> t.jobsByStream.map { case (k, v) =>
        (if (k.isEmpty) "scheduler" else Cycles.short(k)) -> v.sum() / n },
      "per_cycle" -> perCycle,
      "slowest_stream_child_coverage_p50" -> med("child_coverage"),
      "wm_share_of_cycle_p50" -> med("wm_share_of_cycle"),
      "wm_finding_holds" -> (med("wm_on_slowest_s") >= 0.5 * Stats.median(walls)),
      "spans" -> dump(spans))
    (m, detail)
  }
}
