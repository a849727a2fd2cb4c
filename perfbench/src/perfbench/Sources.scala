package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.ScenarioSources

/** The `fc_*` source tables `perfbench/sources.py` writes from the seed:
  * every row carries its final state, on a simulated clock that starts at
  * `T0` and advances one 30 s tick per cycle. */
object Sources {
  val TickMs = 30000L
  val T0: Long = java.time.Instant.parse("2025-01-06T00:00:00Z").toEpochMilli

  def read(spark: SparkSession, dir: String): ScenarioSources = {
    def r(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    ScenarioSources(r("fc_scenario"), r("fc_model"), r("fc_forecast_init"),
      r("fc_scenario_node_data"), r("fc_model_node"), r("fc_model_node_groups"),
      r("fc_model_node_tab"), r("fc_scenario_run"), r("fc_scenario_run_branch"),
      r("fc_scenario_node_calc"), r("fc_scenario_event_data"),
      r("fc_scenario_event_type"), r("fc_event_type"))
  }
}

/** What the OLTP source holds at a horizon: rows created before it are
  * visible; lifecycle, close-out and completion timestamps at or after it
  * read as null, with the status columns they imply. */
object AsOf {
  def view(src: ScenarioSources, horizon: Timestamp): ScenarioSources = {
    val h = lit(horizon)
    def upTo(c: String) = when(col(c) < h, col(c))
    def byIf(ts: String, by: String) = when(col(ts) < h, col(by))
    val sc = src.fcScenario.filter(col("created_at") < h)
      .withColumn("submitted_by", byIf("submitted_at", "submitted_by"))
      .withColumn("submitted_at", upTo("submitted_at"))
      .withColumn("locked_by", byIf("locked_at", "locked_by"))
      .withColumn("locked_at", upTo("locked_at"))
      .withColumn("withdraw_by", byIf("withdraw_at", "withdraw_by"))
      .withColumn("withdraw_at", upTo("withdraw_at"))
      .withColumn("status",
        when(col("withdraw_at").isNotNull, "withdrawn")
          .when(col("locked_at").isNotNull, "locked")
          .when(col("submitted_at").isNotNull, "submitted")
          .otherwise("draft"))
      .withColumn("updated_at", greatest(col("created_at"), col("submitted_at"),
        col("locked_at"), col("withdraw_at")))
    val nd = src.fcScenarioNodeData.filter(col("created_at") < h)
      .withColumn("end_at", upTo("end_at"))
    val ed = src.fcScenarioEventData.filter(col("created_at") < h)
      .withColumn("end_at", upTo("end_at"))
    val done = col("run_complete_at") < h
    val runs = src.fcScenarioRun.filter(col("run_at") < h)
      .withColumn("run_status", when(done, col("run_status")).otherwise("running"))
      .withColumn("fail_reason", when(done, col("fail_reason")))
      .withColumn("run_complete_at", when(done, col("run_complete_at")))
    src.copy(fcScenario = sc, fcScenarioNodeData = nd, fcScenarioEventData = ed,
      fcScenarioRun = runs,
      fcScenarioNodeCalc = src.fcScenarioNodeCalc.filter(col("created_at") < h))
  }
}
