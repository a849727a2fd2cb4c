package perfbench

import java.nio.file.{Paths, Files => JFiles}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `SparkEntry` query paths over a seeded corpus, each timed on
  * `write.format("noop")` so every output column is computed. After two
  * unmeasured passes, measured passes run back to back, at least
  * `MinPasses`; each query's time is its median over them. */
object Queries {
  /** Short names; the full names are the `SparkEntry.queries` keys. */
  val paths: Seq[String] = Seq("q04", "q16", "q21", "q112")
  val MinPasses = 4

  def fullName(q: String): String =
    SparkEntry.queries.keys.find(_.startsWith(q + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query path $q"))

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Result = {
    val dir = a.inputs
    val names = paths.map(q => q -> fullName(q))
    def noop(q: String, full: String, pass: Int): Double = {
      tracer.foreach(_.begin(s"$q-$pass"))
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(full)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      // the path's plan is analyzed when it is built, before the write's
      // listener event, so its analysis time comes from its own tracker
      tracer.foreach(_.addPhases(df.queryExecution, Seq("analysis")))
      tracer.foreach(_.record(0, "query", q, t0, t1, tracer.get.root))
      (t1 - t0) / 1e9
    }
    // first pass, untimed: each output goes to parquet for the DuckDB oracle
    // check that run.py makes with the oracle SQL written to the work
    // directory. A path that fails here counts as failed and is left out of
    // the other passes.
    val out = s"${a.work}/query_out"
    val ok = names.filter { case (_, full) =>
      try {
        SparkEntry.queries(full)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$full")
        true
      } catch { case e: Exception =>
        System.err.println(s"perfbench: $full failed: $e")
        false
      }
    }
    JFiles.writeString(Paths.get(s"${a.work}/oracle_sql.json"), Json.render(
      names.map { case (_, full) => full -> SparkEntry.oracleSql(full) }.toMap))
    // second pass, untimed: the first noop writes still run slower than
    // later ones
    ok.foreach { case (q, full) => noop(q, full, -1) }
    val times = ok.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    val measureStart = System.nanoTime()
    val measureStartMs = System.currentTimeMillis()
    tracer.foreach(_.measuring = true)
    var pass = 0
    while (pass < MinPasses || System.nanoTime() - measureStart < a.seconds * 1e9) {
      ok.foreach { case (q, full) => times(q) += noop(q, full, pass) }
      pass += 1
    }
    val measured = (System.nanoTime() - measureStart) / 1e9
    tracer.foreach { t => t.drain(); t.measuring = false }
    val retained = Files.retainedHeapMb()

    val med = ok.map { case (q, _) => q -> Stats.median(times(q).toSeq) }.toMap
    val total = med.values.sum
    // rows_per_s needs the output row counts, which run.py takes from the
    // oracle check
    val e2e = Map(
      "unit_s" -> Stats.geomean(med.values.toSeq),
      "storage_mb" -> Files.size(out) / 1e6,
      "retained_heap_mb" -> retained.last)
    val detail = Map[String, Any]("retained_heap_steps_mb" -> retained,
      "passes" -> pass, "measured_s" -> measured, "measure_start_ms" -> measureStartMs,
      "query_total_s" -> total, "query_geomean_s" -> Stats.geomean(med.values.toSeq),
      "query_median_s" -> med, "query_times_s" -> times.map { case (k, v) => k -> v.toSeq })
    val layers = tracer.map { t =>
      Layers.engine(t, pass, measured) ++ med.map { case (q, v) => s"query.${q}_s" -> v }
    }.getOrElse(Map.empty)
    val trace = tracer.map { t =>
      val spans = t.spans.asScala.toSeq
      Map[String, Any]("self_s_per_unit" -> Layers.selfTimes(spans, pass),
        "job_s_per_unit" -> spans.filter(_.name == "job").map(_.seconds).sum / pass,
        "jobs_per_query" -> ok.map { case (q, _) =>
          q -> spans.count(s => s.name == "job" && s.trace.startsWith(q + "-")) / pass.toDouble
        }.toMap,
        "spans" -> Layers.dump(spans))
    }
    Result(e2e, layers, names.size.toLong * pass, (names.size - ok.size).toLong * pass,
      detail ++ trace.map("trace" -> _))
  }
}
