package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.Bootstrap
import graft.ops.{ScenarioPipeline, ScenarioSources}
import graft.runtime.{CycleScheduler, EngineConf, IncrementalRunner, MetricsStore, WatermarkStore}
import graft.sources.Jdbc

/** Production entrypoint — the reference container's supervised loop
  * (Dockerfile:13 `CMD ["python", "scheduler.py"]`, restart policy
  * docker-compose.yml:16,36) as a spark-submit main:
  *
  * {{{
  * spark-submit --class graft.Main target/scala-2.13/etlpipespark_*.jar
  * }}}
  *
  * Runs the six reference pipelines as incremental streams forever (or
  * `GRAFT_CYCLES` cycles), with the reference's env knobs (EngineConf /
  * config.py) plus:
  *
  *  - `GRAFT_WAREHOUSE`       target warehouse dir (default /tmp/graft_warehouse)
  *  - `GRAFT_SOURCE_DIR`      parquet dir holding the fc_* source tables
  *  - `GRAFT_SOURCE_JDBC_URL` (+`GRAFT_SOURCE_USER`/`GRAFT_SOURCE_PASSWORD`)
  *                            read the fc_* tables from a live PostgreSQL —
  *                            the reference's deployment mode (db.py:20-40).
  *                            NOT integration-tested here: no PostgreSQL
  *                            exists in this environment; the binding is the
  *                            same pushdown reader ApiSurfaceSpec covers;
  *                            `STATEMENT_TIMEOUT_MS` is its query timeout.
  *  - `GRAFT_CYCLES`          cycle count (default: run forever)
  *  - `GRAFT_COMPACT_EVERY_CYCLES` / `GRAFT_COMPACT_MAX_FILES`
  *                            event-log compaction cadence (default 120 / 256)
  *
  * The session comes from [[EngineSession]]: `GRAFT_LOG_LEVEL` sets the log
  * level, and outside spark-submit `SPARK_GRAFT_CPUS` sizes the local master.
  *
  * Every target commits through MergeSink's rename-swap protocol (see
  * `ScenarioPipeline.streams`).
  *
  * With neither source set, the six streams run over the deterministic
  * `ReferenceFixtures` corpus — the local demo (`GRAFT_CYCLES=3`) and the
  * path MainSmokeSpec tests.
  */
object Main {
  def main(args: Array[String]): Unit = run(sys.env)

  def run(env: Map[String, String]): Unit = {
    val conf = EngineConf.fromEnv(env)
    val spark = EngineSession.getOrCreate("graft-etl", env)

    val wh = env.getOrElse("GRAFT_WAREHOUSE", "/tmp/graft_warehouse")
    val boot = new Bootstrap(spark, wh)
    boot.setup()
    val src = resolveSources(spark, env, conf)
    val store = new WatermarkStore(spark, boot.tablePath("etl_watermark"))
    val runner = new IncrementalRunner(spark, store, conf.overlapSec,
      maxConcurrentStreams = 6)
    // append sinks accrete one file set per micro-batch (~2.9k/day at 30s);
    // compact the date-partitioned event log off the hot path every 120
    // cycles (~hourly) once it fragments past 256 files
    val compactEvery = env.getOrElse("GRAFT_COMPACT_EVERY_CYCLES", "120").trim.toInt
    val compactMaxFiles = env.getOrElse("GRAFT_COMPACT_MAX_FILES", "256").trim.toInt
    val sched = new CycleScheduler(runner, conf.maxConsecutiveFailures,
      metrics = Some(new MetricsStore(spark, boot.tablePath("etl_metrics"))),
      maintenance = cycleId =>
        if (compactEvery > 0 && cycleId % compactEvery == 0)
          graft.merge.MergeSink.compactIfNeeded(spark,
            boot.tablePath("fact_scenario_timeline"), maxFiles = compactMaxFiles,
            targetPartitions = 1, partitionCols = Seq("event_date")))
    val cycles = env.get("GRAFT_CYCLES").map(_.trim.toInt).getOrElse(Int.MaxValue)
    sched.run(ScenarioPipeline.streams(spark, src, boot),
      conf.pollIntervalSec, cycles)
  }

  /** Source tables by priority: live JDBC > parquet dir > demo fixtures. */
  private def resolveSources(spark: SparkSession, env: Map[String, String],
                             conf: EngineConf): ScenarioSources = {
    val tables = Seq("fc_scenario", "fc_model", "fc_forecast_init",
      "fc_scenario_node_data", "fc_model_node", "fc_model_node_groups",
      "fc_model_node_tab", "fc_scenario_run", "fc_scenario_run_branch",
      "fc_scenario_node_calc", "fc_scenario_event_data",
      "fc_scenario_event_type", "fc_event_type")
    def build(load: String => DataFrame): ScenarioSources = {
      val t = tables.map(n => n -> load(n)).toMap
      ScenarioSources(t("fc_scenario"), t("fc_model"), t("fc_forecast_init"),
        t("fc_scenario_node_data"), t("fc_model_node"),
        t("fc_model_node_groups"), t("fc_model_node_tab"),
        t("fc_scenario_run"), t("fc_scenario_run_branch"),
        t("fc_scenario_node_calc"), t("fc_scenario_event_data"),
        t("fc_scenario_event_type"), t("fc_event_type"))
    }
    (env.get("GRAFT_SOURCE_JDBC_URL"), env.get("GRAFT_SOURCE_DIR")) match {
      case (Some(url), _) =>
        val jdbc = Jdbc.SourceConf(url,
          env.getOrElse("GRAFT_SOURCE_USER", "etl_reader"),
          env.getOrElse("GRAFT_SOURCE_PASSWORD", ""),
          queryTimeoutSec = conf.queryTimeoutSec)
        build(n => Jdbc.pushdownQuery(spark, jdbc,
          s"SELECT * FROM public.$n").load())
      case (None, Some(dir)) =>
        build(n => spark.read.parquet(s"$dir/$n"))
      case (None, None) =>
        graft.demo.ReferenceFixtures.parquetSources(spark)
    }
  }
}
