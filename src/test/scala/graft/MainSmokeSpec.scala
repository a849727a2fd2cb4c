package graft

/** Smoke test of the production entrypoint: one full cycle over the demo
  * corpus into a fresh warehouse — bootstrap, six streams, merges, metrics,
  * watermark advancement all wired through the same code path spark-submit
  * launches. */
class MainSmokeSpec extends SparkTestBase {

  test("Main runs one cycle end-to-end against the demo corpus") {
    spark // force the shared session so Main reuses it via EngineSession
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val wh = tmpDir("main-smoke")
    Main.run(Map(
      "GRAFT_WAREHOUSE" -> wh,
      "GRAFT_CYCLES" -> "1",
      "POLL_INTERVAL_SEC" -> "1",
      "SPARK_GRAFT_CPUS" -> "1"))
    // the active session is reused unchanged: no conf leaks into later specs
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    val dim = spark.read.parquet(s"$wh/dim_scenario")
    assert(dim.count() == 20)
    val wm = new graft.runtime.WatermarkStore(spark, s"$wh/etl_watermark")
    assert(wm.all().keySet.contains("fc_scenario"))
    assert(spark.read.parquet(s"$wh/etl_metrics").count() > 0)
  }

  test("maintenance compaction keeps the append-sink file count bounded across cycles") {
    spark
    val wh = tmpDir("main-compact")
    // compact aggressively (every cycle, threshold 1) so three cycles of the
    // 30s-cadence append story exercise the maintenance path end-to-end
    Main.run(Map(
      "GRAFT_WAREHOUSE" -> wh,
      "GRAFT_CYCLES" -> "3",
      "POLL_INTERVAL_SEC" -> "0",
      "GRAFT_COMPACT_EVERY_CYCLES" -> "1",
      "GRAFT_COMPACT_MAX_FILES" -> "1"))
    val timeline = s"$wh/fact_scenario_timeline"
    val rows = spark.read.parquet(timeline).count()
    assert(rows > 0)
    // demo fixtures span 7 event dates; targetPartitions=1 ⇒ one file per
    // date partition after compaction (un-compacted, the first cycle alone
    // writes shuffle-partitions × dates file sets)
    val files = graft.merge.MergeSink.dataFileCount(spark, timeline)
    assert(files <= 10, s"expected compacted file count <= 10, got $files")
    // compaction must not disturb correctness: replaying the same corpus
    // produced no duplicate events
    val keyed = spark.read.parquet(timeline).select("source_key")
    assert(keyed.count() == keyed.distinct().count())
  }
}
