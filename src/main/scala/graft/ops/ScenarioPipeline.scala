package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Bootstrap
import graft.functions.JsonFlatten
import graft.functions.SafeCasts._
import graft.merge.MergeSink
import graft.model.Schemas
import graft.runtime.StreamSpec

/** The reference's six table-pipelines, re-expressed as fused Spark plans
  * (SURVEY §3.1): each extract's joins/filters/aggregates AND its Python
  * row-at-a-time transform collapse into ONE DataFrame plan per stream —
  * scan → join → filter → flatten → project — with the merge sink attached
  * by the incremental runner. Output columns match the target DDL at full
  * fidelity (model.Schemas; column lists from extract.py + transform.py +
  * load.py, cited per method).
  *
  * Source layout mirrors extract.py's tables; dimension sides broadcast.
  * Each extract carries a `wm_ts` column — the greatest of its incremental
  * predicate columns — so the runner's deterministic cap ordering and
  * max-seen watermark advancement (SURVEY §2.12.a/e fixes) have one total
  * order to work with.
  */
final case class ScenarioSources(
    fcScenario: DataFrame, fcModel: DataFrame, fcForecastInit: DataFrame,
    fcScenarioNodeData: DataFrame, fcModelNode: DataFrame,
    fcModelNodeGroups: DataFrame, fcModelNodeTab: DataFrame,
    fcScenarioRun: DataFrame, fcScenarioRunBranch: DataFrame,
    fcScenarioNodeCalc: DataFrame, fcScenarioEventData: DataFrame,
    fcScenarioEventType: DataFrame, fcEventType: DataFrame)

object ScenarioPipeline {

  private def geCoalesced(since: Timestamp, cols: Column*): Column =
    cols.map(c => c.isNotNull && c >= lit(since)).reduce(_ || _)

  /** dim_scenario (extract.py:50-107 + transform.py:107-154): J1 pre-join of
    * model + forecast cycle, 5-column OR incremental predicate (F1). */
  def extractScenarios(src: ScenarioSources, since: Timestamp): DataFrame = {
    val s = src.fcScenario.alias("s")
    s.join(broadcast(src.fcModel.alias("m")), col("s.model_id") === col("m.id"))
      .join(broadcast(src.fcForecastInit.alias("fi")),
        col("s.forecast_init_id") === col("fi.id"))
      .filter(geCoalesced(since, col("s.created_at"), col("s.updated_at"),
        col("s.submitted_at"), col("s.locked_at"), col("s.withdraw_at")))
      .select(
        col("s.id").as("scenario_id"),
        col("s.scenario_display_name"),
        col("s.status").as("scenario_status"),
        col("s.is_starter"),
        col("s.currency"), col("s.currency_code"),
        col("s.scenario_start_year").cast("int").as("scenario_start_year"),
        col("s.scenario_end_year").cast("int").as("scenario_end_year"),
        col("s.scenario_region_name"), col("s.scenario_country_name"),
        col("s.created_at"), col("s.created_by"),
        col("s.submitted_at"), col("s.submitted_by"),
        col("s.locked_at"), col("s.locked_by"),
        col("s.updated_at"), col("s.updated_by"),
        col("s.withdraw_at"), col("s.withdraw_by"),
        col("s.delete_at"),
        col("s.model_id"),
        col("m.model_display_name"),
        col("m.model_type"), col("m.model_publish_level"),
        col("m.therapeutic_area_name"),
        col("m.model_disease_area_name").as("disease_area_name"),
        col("m.has_inherent_event").as("loe_enabled"),
        col("m.model_region_display_name").as("model_region_name"),
        col("m.model_country_display_name").as("model_country_name"),
        col("fi.forecast_cycle_display_name").as("forecast_cycle_name"),
        col("fi.forecast_cycle_start_dt").as("forecast_cycle_start"),
        col("fi.forecast_cycle_end_dt").as("forecast_cycle_end"),
        col("fi.horizon_start_limit").cast("int").as("horizon_start_limit"),
        col("fi.horizon_end_limit").cast("int").as("horizon_end_limit"),
        col("fi.starter_created"),
        current_timestamp().as("etl_loaded_at"),
        current_timestamp().as("etl_updated_at"),
        greatest(col("s.created_at"),
          coalesce(col("s.updated_at"), col("s.created_at")),
          coalesce(col("s.submitted_at"), col("s.created_at")),
          coalesce(col("s.locked_at"), col("s.created_at")),
          coalesce(col("s.withdraw_at"), col("s.created_at"))).as("wm_ts"))
  }

  /** fact_node_input_history (extract.py:113-155 + transform.py:157-205):
    * J2 hierarchy denorm + C12 JSON flatten + C15 is_current. Implements
    * the INTENT of the reference's validation-message passthrough, not its
    * KeyError (SURVEY §2.12.h). */
  def extractNodeData(src: ScenarioSources, since: Timestamp): DataFrame = {
    val nd = src.fcScenarioNodeData.alias("nd")
    val joined = nd
      .join(broadcast(src.fcModelNode.alias("mn")),
        col("nd.model_node_id") === col("mn.id"))
      .join(broadcast(src.fcModelNodeGroups.alias("mg")),
        col("mn.model_node_group_id") === col("mg.id"))
      .join(broadcast(src.fcModelNodeTab.alias("mt")),
        col("mg.model_node_tab_id") === col("mt.id"))
      .filter(col("nd.created_at") >= lit(since) ||
        (col("nd.end_at").isNotNull && col("nd.end_at") >= lit(since)))
    val flat = JsonFlatten.flatten(
      joined.select(
        col("nd.id").as("source_id"),
        col("nd.scenario_id"), col("nd.model_node_id"),
        col("mn.node_display_name"), col("mn.node_type"),
        col("mt.tab_display_name").as("tab_name"),
        col("mt.tab_level").cast("int").as("tab_level"),
        col("mg.group_display_name").as("group_name"),
        col("mg.group_type"),
        col("mn.node_seq").cast("int").as("node_seq"),
        col("mn.flow"),
        col("nd.created_at").as("version_started_at"),
        col("nd.end_at").as("version_ended_at"),
        col("nd.created_by").as("edited_by"),
        col("nd.input_hash"),
        col("nd.input_validated"),
        col("nd.input_validation_message").cast("string").as("validation_message"),
        col("nd.source").as("data_source"),
        col("nd.input_data")),
      "input_data", JsonFlatten.inputDataKeys, prefix = "inp_")
    flat.select(
      col("source_id"), col("scenario_id"), col("model_node_id"),
      col("node_display_name"), col("node_type"),
      col("tab_name"), col("tab_level"),
      col("group_name"), col("group_type"), col("node_seq"), col("flow"),
      col("version_started_at"), col("version_ended_at"),
      isCurrent(col("version_ended_at")).as("is_current_version"),
      col("edited_by"), col("input_hash"),
      col("input_validated"), col("validation_message"), col("data_source"),
      col("inp_value"), col("inp_unit"),
      col("inp_start_year").cast("int").as("inp_start_year"),
      col("inp_end_year").cast("int").as("inp_end_year"),
      col("inp_input_type"), col("inp_timeframe"), col("inp_dosing_type"),
      col("inp_actuals_flag"), col("inp_curve_type"),
      col("inp_selected_output"), col("inp_pfs_flag"), col("inp_ppc_flag"),
      col("inp_full_text").as("input_data_full_text"),
      current_timestamp().as("etl_loaded_at"),
      greatest(col("version_started_at"),
        coalesce(col("version_ended_at"), col("version_started_at"))).as("wm_ts"))
  }

  /** fact_run_summary (extract.py:158-193 + transform.py:208-227): J3 double
    * left join, A1-A4 rollup with C16 null-to-zero, C5/C6 duration. The
    * *_since_prev_run counters default to 0 as in the DDL (the reference
    * never populates them — setup_target.py:178-179). */
  def extractRuns(src: ScenarioSources, since: Timestamp): DataFrame = {
    val sr = src.fcScenarioRun.alias("sr")
    sr.join(src.fcScenarioRunBranch.alias("rb"),
        col("rb.scenario_run_id") === col("sr.id"), "left")
      .join(src.fcScenarioNodeCalc.alias("nc"),
        col("nc.scenario_run_branch_id") === col("rb.id"), "left")
      .filter(col("sr.run_at") >= lit(since) ||
        (col("sr.run_complete_at").isNotNull && col("sr.run_complete_at") >= lit(since)))
      .groupBy(col("sr.id").as("run_id"), col("sr.scenario_id"),
        col("sr.run_status"), col("sr.run_at"), col("sr.run_by"),
        col("sr.run_complete_at"), col("sr.fail_reason"))
      .agg(
        countDistinct(col("rb.id")).as("branch_count"),
        count(col("nc.id")).as("total_nodes_processed"),
        zeroIfNull(sum(when(col("nc.status") === "success", 1).otherwise(0)))
          .as("nodes_success"),
        zeroIfNull(sum(when(col("nc.status") === "failed", 1).otherwise(0)))
          .as("nodes_failed"),
        zeroIfNull(sum(when(col("nc.status") === "timeout", 1).otherwise(0)))
          .as("nodes_timeout"))
      .select(col("run_id"), col("scenario_id"), col("run_status"),
        col("run_at"), col("run_by"), col("run_complete_at"),
        durationMinutes(col("run_at"), col("run_complete_at"))
          .cast("decimal(10,2)").as("run_duration_minutes"),
        col("fail_reason"),
        col("branch_count").cast("int").as("branch_count"),
        col("total_nodes_processed").cast("int").as("total_nodes_processed"),
        col("nodes_success").cast("int").as("nodes_success"),
        col("nodes_failed").cast("int").as("nodes_failed"),
        col("nodes_timeout").cast("int").as("nodes_timeout"),
        lit(0).as("node_edits_since_prev_run"),
        lit(0).as("event_edits_since_prev_run"),
        current_timestamp().as("etl_loaded_at"),
        current_timestamp().as("etl_updated_at"),
        greatest(col("run_at"),
          coalesce(col("run_complete_at"), col("run_at"))).as("wm_ts"))
  }

  /** fact_node_calc_results (extract.py:197-232 + transform.py:230-250): J4
    * fact-chain joins + C5 sub-second duration (3dp) + C2 ::text cast. */
  def extractNodeCalc(src: ScenarioSources, since: Timestamp): DataFrame = {
    val nc = src.fcScenarioNodeCalc.alias("nc")
    nc.join(src.fcScenarioRunBranch.alias("rb"),
        col("nc.scenario_run_branch_id") === col("rb.id"))
      .join(src.fcScenarioRun.alias("sr"), col("rb.scenario_run_id") === col("sr.id"))
      .join(broadcast(src.fcModelNode.alias("mn")),
        col("nc.model_node_id") === col("mn.id"))
      .filter(col("nc.created_at") >= lit(since))
      .select(
        col("nc.id").as("source_id"),
        col("sr.id").as("run_id"),
        col("sr.scenario_id"),
        col("rb.id").as("branch_id"),
        col("rb.event_tag"),
        col("nc.model_node_id"),
        col("mn.node_display_name"), col("mn.node_type"),
        col("nc.status").as("calc_status"),
        col("nc.fail_reason"),
        col("nc.processing_start_at"), col("nc.processing_end_at"),
        durationSeconds(col("nc.processing_start_at"), col("nc.processing_end_at"))
          .cast("decimal(10,3)").as("processing_duration_s"),
        col("nc.output_data").cast("string").as("output_data_text"),
        current_timestamp().as("etl_loaded_at"),
        col("nc.created_at").as("wm_ts"))
  }

  /** fact_event_input_history (extract.py:236-266 + transform.py:253-284):
    * J5 event-type joins + J6 aliased SELF-JOIN of fc_model_node as
    * population (pn) and parent-product (ppn) + C13 flatten. */
  def extractEventData(src: ScenarioSources, since: Timestamp): DataFrame = {
    val ed = src.fcScenarioEventData.alias("ed")
    val pn = src.fcModelNode.select(col("id").as("pn_id"),
      col("node_display_name").as("population_node_name"))
    val ppn = src.fcModelNode.select(col("id").as("ppn_id"),
      col("node_display_name").as("parent_product_name"))
    val joined = ed
      .join(broadcast(src.fcScenarioEventType.alias("st")),
        col("ed.scenario_event_type_id") === col("st.id"))
      .join(broadcast(src.fcEventType.alias("et")),
        col("st.event_type_id") === col("et.id"))
      .join(broadcast(pn), col("ed.population_node_id") === col("pn_id"), "left")
      .join(broadcast(ppn), col("ed.parent_product_node_id") === col("ppn_id"), "left")
      .filter(col("ed.created_at") >= lit(since) ||
        (col("ed.end_at").isNotNull && col("ed.end_at") >= lit(since)))
    val flat = JsonFlatten.flatten(
      joined.select(
        col("ed.id").as("source_id"),
        col("st.scenario_id"),
        col("et.display_name").as("event_type_name"),
        col("et.inherent").as("is_inherent"),
        col("population_node_name"), col("parent_product_name"),
        col("ed.created_at").as("version_started_at"),
        col("ed.end_at").as("version_ended_at"),
        col("ed.created_by").as("edited_by"),
        col("ed.event_data_hash"),
        col("ed.is_overridden"),
        col("ed.event_shares_overridden").cast("string").as("override_data_text"),
        col("ed.is_validated"),
        col("ed.input_validation_message").cast("string").as("validation_message"),
        col("ed.event_data")),
      "event_data", JsonFlatten.eventDataKeys, prefix = "evt_")
    flat.select(
      col("source_id"), col("scenario_id"), col("event_type_name"),
      col("is_inherent"), col("population_node_name"), col("parent_product_name"),
      col("version_started_at"), col("version_ended_at"),
      isCurrent(col("version_ended_at")).as("is_current_version"),
      col("edited_by"), col("event_data_hash"),
      col("is_overridden"), col("override_data_text"),
      col("is_validated"), col("validation_message"),
      col("evt_year").cast("int").as("evt_year"),
      col("evt_share_value"), col("evt_entry_quarter"), col("evt_erosion_rate"),
      col("evt_launch_date"), col("evt_steady_state"), col("evt_sob_value"),
      col("evt_full_text").as("event_data_full_text"),
      current_timestamp().as("etl_loaded_at"),
      greatest(col("version_started_at"),
        coalesce(col("version_ended_at"), col("version_started_at"))).as("wm_ts"))
  }

  private def tlSinceFilter(since: Timestamp)(c: Column): Column =
    c.isNotNull && c >= lit(since)

  private def tlBranch(df: DataFrame, time: Column, eventType: String,
                       category: String, actor: Column, description: Column,
                       runId: Column, nodeName: Column, eventTypeName: Column,
                       scenarioId: Column, keyPrefix: String,
                       keyId: Column): DataFrame =
    df.select(
      scenarioId.as("scenario_id"),
      time.as("event_time"), lit(eventType).as("event_type"),
      lit(category).as("event_category"), actor.as("actor"),
      description.as("description"), runId.as("run_id"),
      nodeName.as("node_name"), eventTypeName.as("event_type_name"),
      Timeline.sourceKey(keyPrefix, keyId).as("source_key"))

  /** The four scenario-lifecycle timeline branches (extract.py:291-334) —
    * exposed separately because they are stateless projections + union and
    * therefore run unchanged over a STREAMING fc_scenario scan (StreamsSpec
    * proves batch/stream equivalence through the dedup sink). */
  def timelineLifecycleBranches(fcScenario: DataFrame, since: Timestamp): DataFrame = {
    import Timeline.nullString
    val sinceFilter = tlSinceFilter(since) _
    val s = fcScenario
    val b1 = tlBranch(s.filter(sinceFilter(col("created_at"))), col("created_at"),
      "SCENARIO_CREATED", "LIFECYCLE", col("created_by"),
      lit("Scenario created"), nullString, nullString, nullString, col("id"),
      "SC", col("id"))
    val b2 = tlBranch(s.filter(sinceFilter(col("submitted_at"))), col("submitted_at"),
      "SUBMITTED", "LIFECYCLE", col("submitted_by"),
      lit("Scenario submitted"), nullString, nullString, nullString, col("id"),
      "SUBM", col("id"))
    val b3 = tlBranch(s.filter(sinceFilter(col("locked_at"))), col("locked_at"),
      "LOCKED", "LIFECYCLE", col("locked_by"),
      lit("Scenario locked"), nullString, nullString, nullString, col("id"),
      "LOCK", col("id"))
    val b4 = tlBranch(s.filter(sinceFilter(col("withdraw_at"))), col("withdraw_at"),
      "WITHDRAWN", "LIFECYCLE", col("withdraw_by"),
      lit("Scenario withdrawn"), nullString, nullString, nullString, col("id"),
      "WITH", col("id"))
    Seq(b1, b2, b3, b4).reduce(_ unionByName _)
  }

  /** fact_scenario_timeline (extract.py:270-419): the 8-branch UNION ALL —
    * literal synthesis (P3), typed nulls (P4), key synthesis (C1), null-
    * propagating concat + COALESCE fragments (C3), union by NAME (U1). */
  def extractTimeline(src: ScenarioSources, since: Timestamp): DataFrame = {
    import Timeline.nullString
    val sinceFilter = tlSinceFilter(since) _
    def branch(df: DataFrame, time: Column, eventType: String, category: String,
               actor: Column, description: Column, runId: Column,
               nodeName: Column, eventTypeName: Column, scenarioId: Column,
               keyPrefix: String, keyId: Column): DataFrame =
      tlBranch(df, time, eventType, category, actor, description, runId,
        nodeName, eventTypeName, scenarioId, keyPrefix, keyId)

    val lifecycle = timelineLifecycleBranches(src.fcScenario, since)

    val ndJoined = src.fcScenarioNodeData.alias("nd")
      .filter(sinceFilter(col("nd.created_at")))
      .join(broadcast(src.fcModelNode.alias("mn")),
        col("nd.model_node_id") === col("mn.id"))
    val b5 = branch(ndJoined, col("nd.created_at"),
      "NODE_EDITED", "INPUT_CHANGE", col("nd.created_by"),
      concat(lit("Node edited: "), col("mn.node_display_name"),
        lit(" | Validated: "), col("nd.input_validated").cast("string")),
      nullString, col("mn.node_display_name"), nullString,
      col("nd.scenario_id"), "NE", col("nd.id"))

    val pn = src.fcModelNode.select(col("id").as("pn_id"),
      col("node_display_name").as("pn_name"))
    val edJoined = src.fcScenarioEventData.alias("ed")
      .filter(sinceFilter(col("ed.created_at")))
      .join(broadcast(src.fcScenarioEventType.alias("st")),
        col("ed.scenario_event_type_id") === col("st.id"))
      .join(broadcast(src.fcEventType.alias("et")),
        col("st.event_type_id") === col("et.id"))
      .join(broadcast(pn), col("ed.population_node_id") === col("pn_id"), "left")
    val b6 = branch(edJoined, col("ed.created_at"),
      "EVENT_EDITED", "EVENT_CHANGE", col("ed.created_by"),
      concat(lit("Event edited: "), col("et.display_name"),
        coalesce(concat(lit(" | Segment: "), col("pn_name")), lit(""))),
      nullString, nullString, col("et.display_name"),
      col("st.scenario_id"), "EVT", col("ed.id"))

    val r = src.fcScenarioRun
    val b7 = branch(r.filter(sinceFilter(col("run_at"))), col("run_at"),
      "RUN_TRIGGERED", "RUN", col("run_by"), lit("Run started"),
      col("id"), nullString, nullString, col("scenario_id"), "RT", col("id"))
    val b8 = branch(r.filter(sinceFilter(col("run_complete_at"))), col("run_complete_at"),
      "RUN_COMPLETED", "RUN", col("run_by"),
      concat(lit("Run completed: "), col("run_status"),
        coalesce(concat(lit(" | Error: "), col("fail_reason")), lit(""))),
      col("id"), nullString, nullString, col("scenario_id"), "RC", col("id"))

    Seq(lifecycle, b5, b6, b7, b8).reduce(_ unionByName _)
      .filter(col("event_time").isNotNull)
      .withColumn("event_date", to_date(col("event_time"))) // partition column
      .withColumn("etl_loaded_at", current_timestamp())
      .withColumn("wm_ts", col("event_time"))
  }

  /** Wire all six pipelines as incremental streams against a bootstrapped
    * warehouse, with the reference's merge mode, mutable-column subset, and
    * cap per stream (pipeline.py:41-110, load.py).
    *
    * Every target commits through the rename-swap protocol; the M1-M4
    * sinks move to the TxTable log together, once deletion vectors and
    * automatic upkeep bound its storage (ROADMAP.md). A target directory
    * that already holds a TxTable log is refused, not overwritten
    * ([[MergeSink.readTarget]]). */
  def streams(spark: SparkSession, src: ScenarioSources,
              boot: Bootstrap): Seq[StreamSpec] = {
    // M1/M2: one MERGE with default clauses into an unpartitioned target.
    // Its wm_ts window is the batch's one dedupe (newest row per key), and
    // its projection onto the bootstrapped target's columns keeps wm_ts out
    def merge(table: String, key: String, mutable: Seq[String]): DataFrame => Unit =
      b => MergeSink.mergeInto(spark, boot.tablePath(table), b, Seq(key), mutable,
        orderCols = Seq("wm_ts"))
    Seq(
      StreamSpec("fc_scenario",
        (sp, since) => extractScenarios(src, since), "wm_ts", "scenario_id",
        merge("dim_scenario", "scenario_id", Schemas.dimScenarioMutable),
        cap = 5000),
      StreamSpec("fc_scenario_node_data",
        (sp, since) => extractNodeData(src, since), "wm_ts", "source_id",
        merge("fact_node_input_history", "source_id", Schemas.nodeHistoryMutable),
        cap = 5000),
      StreamSpec("fc_scenario_run",
        (sp, since) => extractRuns(src, since), "wm_ts", "run_id",
        merge("fact_run_summary", "run_id", Schemas.runSummaryMutable),
        cap = 1000),
      StreamSpec("fc_scenario_node_calc",
        (sp, since) => extractNodeCalc(src, since), "wm_ts", "source_id",
        b => MergeSink.insertIfAbsent(spark,
          boot.tablePath("fact_node_calc_results"), b.drop("wm_ts"), Seq("source_id")),
        cap = 5000),
      StreamSpec("fc_scenario_event_data",
        (sp, since) => extractEventData(src, since), "wm_ts", "source_id",
        merge("fact_event_input_history", "source_id", Schemas.eventHistoryMutable),
        cap = 5000),
      StreamSpec("fc_scenario_timeline",
        (sp, since) => extractTimeline(src, since), "wm_ts", "source_key",
        // date-partitioned event log: BI's "recent events" access path
        // becomes partition pruning; appends touch only the batch's dates
        b => MergeSink.appendDedup(spark, boot.tablePath("fact_scenario_timeline"),
          b.drop("wm_ts"), "source_key", partitionCols = Seq("event_date")),
        cap = 10000))
  }
}
