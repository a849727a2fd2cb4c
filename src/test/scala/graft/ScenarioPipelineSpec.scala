package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.Bootstrap
import graft.merge.MergeSink
import graft.ops.ScenarioPipeline
import graft.runtime.{IncrementalRunner, WatermarkStore}

/** End-to-end reference pipeline (SURVEY §3.1): the six streams over
  * reference-shaped fixtures, one-shot vs incremental convergence, merge
  * semantics, SCD2 invariant, flatten coercions, timeline dedup. */
class ScenarioPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val src = graft.demo.ReferenceFixtures.build(spark)

  private def runAll(warehouse: String, horizons: Seq[Timestamp]): Bootstrap = {
    val boot = new Bootstrap(spark, warehouse)
    boot.setup()
    val store = new WatermarkStore(spark, boot.tablePath("etl_watermark"))
    horizons.foreach { h =>
      val visible = graft.demo.ReferenceFixtures.visibleBefore(src, h)
      val runner = new IncrementalRunner(spark, store, overlapSec = 90, now = () => h)
      val report = runner.runCycle(ScenarioPipeline.streams(spark, visible, boot))
      assert(report.failed.isEmpty, report.failed.mkString("; "))
    }
    boot
  }

  private def read(boot: Bootstrap, name: String): DataFrame =
    spark.read.parquet(boot.tablePath(name))

  test("one-shot pipeline populates all six targets with expected shapes") {
    val boot = runAll(tmpDir("wh1"), Seq(graft.demo.ReferenceFixtures.ts(20)))
    assert(read(boot, "dim_scenario").count() == 20)
    assert(read(boot, "fact_node_input_history").count() ==
      src.fcScenarioNodeData.count())
    assert(read(boot, "fact_run_summary").count() == 30)
    assert(read(boot, "fact_node_calc_results").count() ==
      src.fcScenarioNodeCalc.count())
    assert(read(boot, "fact_event_input_history").count() ==
      src.fcScenarioEventData.count())
    val tl = read(boot, "fact_scenario_timeline")
    assert(tl.select("source_key").distinct().count() == tl.count())
    // 8 branch types present (withdrawn scenarios exist at i%10==0)
    assert(tl.select("event_type").distinct().count() == 8)
  }

  test("incremental (3 cycles) converges to one-shot state on every target") {
    val oneShot = runAll(tmpDir("wh2"), Seq(graft.demo.ReferenceFixtures.ts(20)))
    val inc = runAll(tmpDir("wh3"),
      Seq(graft.demo.ReferenceFixtures.ts(3), graft.demo.ReferenceFixtures.ts(5), graft.demo.ReferenceFixtures.ts(20)))
    for (t <- graft.model.Schemas.targets.keys) {
      val a = read(oneShot, t).drop("etl_loaded_at", "etl_updated_at")
      val b = read(inc, t).drop("etl_loaded_at", "etl_updated_at")
      assert(a.count() == b.count(), s"$t row count")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t content")
    }
  }

  test("concurrent streams produce the same targets as the sequential cycle") {
    val seqBoot = runAll(tmpDir("whseq"), Seq(graft.demo.ReferenceFixtures.ts(20)))
    val parWh = tmpDir("whpar")
    val parBoot = new Bootstrap(spark, parWh)
    parBoot.setup()
    val store = new WatermarkStore(spark, parBoot.tablePath("etl_watermark"))
    val runner = new IncrementalRunner(spark, store, overlapSec = 90,
      now = () => graft.demo.ReferenceFixtures.ts(20), maxConcurrentStreams = 6)
    val report = runner.runCycle(ScenarioPipeline.streams(spark, src, parBoot))
    assert(report.failed.isEmpty, report.failed.mkString("; "))
    for (t <- graft.model.Schemas.targets.keys) {
      val a = read(seqBoot, t).drop("etl_loaded_at", "etl_updated_at")
      val b = read(parBoot, t).drop("etl_loaded_at", "etl_updated_at")
      assert(a.count() == b.count(), s"$t rows")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t content")
    }
    // all six watermark rows survived the concurrent advances, in memory
    // and in the on-disk table a fresh store loads
    val names = ScenarioPipeline.streams(spark, src, parBoot).map(_.name).toSet
    val onDisk = new WatermarkStore(spark, parBoot.tablePath("etl_watermark")).all()
    assert(onDisk == store.all())
    assert(onDisk.keySet.intersect(names).size == 6)
    assert(spark.read.parquet(parBoot.tablePath("etl_watermark")).count() == onDisk.size)
  }

  test("SCD2 invariant: at most one current version per (scenario, node)") {
    val boot = runAll(tmpDir("wh4"), Seq(graft.demo.ReferenceFixtures.ts(20)))
    val nih = read(boot, "fact_node_input_history")
    assert(MergeSink.scd2Violations(nih,
      Seq("scenario_id", "model_node_id"), "is_current_version").isEmpty)
    // closed versions carry end timestamps; current ones don't
    assert(nih.filter(col("is_current_version") &&
      col("version_ended_at").isNotNull).isEmpty)
  }

  test("flatten semantics inside the pipeline: coercions + malformed JSON") {
    val boot = runAll(tmpDir("wh5"), Seq(graft.demo.ReferenceFixtures.ts(20)))
    val nih = read(boot, "fact_node_input_history")
    // variant 0: value "3.5" -> 3.5 double, actuals_flag "yes" -> true
    val v0 = nih.filter(col("input_data_full_text").contains(""""value": "3.5""""))
    assert(v0.count() > 0)
    assert(v0.filter(col("inp_value") === 3.5 && col("inp_actuals_flag")).count() == v0.count())
    // malformed JSON -> all typed fields null, raw preserved verbatim
    val bad = nih.filter(col("input_data_full_text") === "not-valid-json")
    assert(bad.count() > 0)
    assert(bad.filter(col("inp_value").isNull && col("inp_unit").isNull).count() == bad.count())
  }

  test("run summary: childless runs have zeroed counts, duration rounded to 2dp") {
    val boot = runAll(tmpDir("wh6"), Seq(graft.demo.ReferenceFixtures.ts(20)))
    val rs = read(boot, "fact_run_summary")
    val childless = rs.filter(col("branch_count") === 0)
    assert(childless.count() > 0) // i%4==0 runs have no branches
    assert(childless.filter(col("total_nodes_processed") === 0 && col("nodes_success") === 0 &&
      col("nodes_failed") === 0 && col("nodes_timeout") === 0).count() == childless.count())
    // incomplete runs: null duration (concat-null semantics of interval math)
    assert(rs.filter(col("run_status") === "running" &&
      col("run_duration_minutes").isNotNull).isEmpty)
  }

  test("M1 partial upsert in flow: late status change updates dim, created_at immutable") {
    val wh = tmpDir("wh7")
    val boot = new Bootstrap(spark, wh)
    boot.setup()
    val store = new WatermarkStore(spark, boot.tablePath("etl_watermark"))
    // cycle 1: everything as-is
    val r1 = new IncrementalRunner(spark, store, 90, () => graft.demo.ReferenceFixtures.ts(20))
    assert(r1.runCycle(ScenarioPipeline.streams(spark, src, boot)).failed.isEmpty)
    val before = read(boot, "dim_scenario").filter(col("scenario_id") === "s1")
      .select("scenario_status", "created_at").as[(String, Timestamp)].head()
    // cycle 2: source flips s1 to locked with a later updated_at
    val mutated = src.copy(fcScenario = src.fcScenario
      .withColumn("status", when(col("id") === "s1", "locked").otherwise(col("status")))
      .withColumn("updated_at", when(col("id") === "s1",
        lit(graft.demo.ReferenceFixtures.ts(21))).otherwise(col("updated_at")))
      .withColumn("created_at", when(col("id") === "s1",
        lit(graft.demo.ReferenceFixtures.ts(19))).otherwise(col("created_at")))) // must NOT win
    val r2 = new IncrementalRunner(spark, store, 90, () => graft.demo.ReferenceFixtures.ts(22))
    assert(r2.runCycle(ScenarioPipeline.streams(spark, mutated, boot)).failed.isEmpty)
    val after = read(boot, "dim_scenario").filter(col("scenario_id") === "s1")
      .select("scenario_status", "created_at").as[(String, Timestamp)].head()
    assert(after._1 == "locked")          // mutable column updated
    assert(after._2 == before._2)         // immutable column kept first-seen
    assert(before._1 != "locked")
  }
}
