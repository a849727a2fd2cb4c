package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.merge.MergeSink
import graft.model.Tables
import graft.streaming.Streams

/** Structured Streaming binding (SURVEY §2.11): a file micro-batch stream
  * through foreachBatch + merge sink equals the batch result; windowed
  * aggregation with watermark runs. */
class StreamsSpec extends SparkTestBase {

  test("txAppendOnce sink: exactly-once raw append under redelivery and checkpoint loss") {
    import graft.merge.TxTable
    val srcDir = tmpDir("eo-src"); val sinkDir = tmpDir("eo-sink")
    val rows = Tables.load(spark, sf(), "events")
      .select("event_id", "user_id").limit(200)
    rows.repartition(4).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val handler = Streams.Sinks.txAppendOnce(sinkDir, "eo-app")
    val q = Streams.toMergeSink(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 2),
      tmpDir("eo-ck"), Trigger.AvailableNow())(handler)
    q.awaitTermination(120000)
    val n = TxTable.read(spark, sinkDir).get.count()
    assert(n == 200)
    // redelivered micro-batch (same epoch): a no-op, not a duplicate append
    handler(spark, rows.limit(10).toDF, 0L)
    assert(TxTable.read(spark, sinkDir).get.count() == n)
    // checkpoint loss: a FRESH checkpoint restarts batchIds at 0 — every
    // epoch is already marked in the sink's log, so the full replay lands
    // zero duplicate rows (this is the failure mode a plain append sink
    // cannot survive)
    val q2 = Streams.toMergeSink(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 2),
      tmpDir("eo-ck2"), Trigger.AvailableNow())(handler)
    q2.awaitTermination(120000)
    assert(TxTable.read(spark, sinkDir).get.count() == n)
    // a genuinely new epoch still lands
    handler(spark, rows.limit(7).toDF, 9999L)
    assert(TxTable.read(spark, sinkDir).get.count() == n + 7)
  }

  test("micro-batch sink + compactSmallFiles: packing mid-stream never breaks exactly-once or loses a row") {
    import graft.merge.TxTable
    val srcDir = tmpDir("opt-src"); val sinkDir = tmpDir("opt-sink")
    val rows = Tables.load(spark, sf(), "events")
      .select("event_id", "user_id").limit(200)
    rows.repartition(8).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val handler = Streams.Sinks.txAppendOnce(sinkDir, "opt-app")
    // phase 1: one tiny file per trigger — the small-file problem
    val q = Streams.toMergeSink(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 1),
      tmpDir("opt-ck"), Trigger.AvailableNow())(handler)
    q.awaitTermination(120000)
    val filesBefore = TxTable.liveFilePaths(spark, sinkDir).size
    assert(filesBefore >= 8, s"expected fragmentation, got $filesBefore")
    // maintenance between triggers: pack everything, clustered on the key
    val st = TxTable.compactSmallFiles(spark, sinkDir,
      targetBytes = 1L << 20, smallBytes = 1L << 20,
      sortCols = Seq("event_id"))
    assert(st.filesPacked == filesBefore)
    assert(TxTable.liveFilePaths(spark, sinkDir).size < filesBefore)
    assert(TxTable.read(spark, sinkDir).get.count() == 200)
    // the txn high-water survives packing: a full checkpoint-loss replay
    // after the rewrite still lands ZERO duplicates
    val q2 = Streams.toMergeSink(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 1),
      tmpDir("opt-ck2"), Trigger.AvailableNow())(handler)
    q2.awaitTermination(120000)
    assert(TxTable.read(spark, sinkDir).get.count() == 200)
    // and the stream keeps appending normally after the pack
    handler(spark, rows.limit(5).toDF, 8888L)
    assert(TxTable.read(spark, sinkDir).get.count() == 205)
  }

  test("txAppendOnce + IncrementalView refresh per micro-batch: streaming aggregate view ≡ recompute") {
    import graft.merge.{IncrementalView, TxTable}
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val srcDir = tmpDir("mvs-src"); val tableDir = tmpDir("mvs-tbl")
    val viewDir = tmpDir("mvs-view")
    // integral cents column: the view's signed-delta sums must compare
    // EXACTLY against a from-scratch recompute, so no float accumulation
    val rows = Tables.load(spark, sf(), "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .limit(400)
    rows.repartition(4).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // the pipeline a warehouse runs as ONE handler: exactly-once raw
    // capture into the commit log, then the aggregate view catches up to
    // the version that append produced — both steps replay-safe (epoch
    // mark / txn-carried source version)
    val handler: (SparkSession, DataFrame, Long) => Unit = (s, b, id) => {
      TxTable.appendOnce(s, tableDir, b, "mvs-app", id)
      IncrementalView.refresh(s, tableDir, viewDir,
        Seq("event_type"), Seq("cents"), buckets = 4)
      ()
    }
    val q = Streams.toMergeSink(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 1),
      tmpDir("mvs-ck"), Trigger.AvailableNow())(handler)
    q.awaitTermination(180000)
    def viewState = TxTable.read(spark, viewDir).get
      .select("event_type", "mv_count", "cents_sum")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val direct = TxTable.read(spark, tableDir).get
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viewState == direct)
    assert(TxTable.read(spark, tableDir).get.count() == 400)
    // full redelivery from a lost checkpoint: appends skip by epoch, the
    // view sees no version advance — state byte-stable
    val q2 = Streams.toMergeSink(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 1),
      tmpDir("mvs-ck2"), Trigger.AvailableNow())(handler)
    q2.awaitTermination(180000)
    assert(viewState == direct)
    assert(TxTable.read(spark, tableDir).get.count() == 400)
  }

  test("parquet stream -> appendDedup sink converges to batch result") {
    val srcDir = tmpDir("stream-src")
    val sinkDir = tmpDir("stream-sink")
    val ckDir = tmpDir("stream-ck")
    val events = Tables.load(spark, sf(), "events")
    // stage the source as several files to get several micro-batches
    events.repartition(5).write.parquet(srcDir)
    val stream = Streams.parquetStream(spark, srcDir,
      spark.read.parquet(srcDir).schema, maxFilesPerTrigger = 2)
    val q = Streams.toMergeSink(stream, ckDir, Trigger.AvailableNow())(
      (s, batch, _) => MergeSink.appendDedup(s, sinkDir, batch, "event_id"))
    q.awaitTermination(120000)
    assert(spark.read.parquet(sinkDir).count() == events.count())
    // re-delivering everything (new checkpoint, same sink) changes nothing
    val q2 = Streams.toMergeSink(
      Streams.parquetStream(spark, srcDir, spark.read.parquet(srcDir).schema),
      tmpDir("stream-ck2"), Trigger.AvailableNow())(
      (s, batch, _) => MergeSink.appendDedup(s, sinkDir, batch, "event_id"))
    q2.awaitTermination(120000)
    assert(spark.read.parquet(sinkDir).count() == events.count())
  }

  test("stateful sessionization closes the same sessions as the batch query") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val srcDir = tmpDir("sess-src")
    val events = Tables.load(spark, sf(), "events")
    // one ts-sorted file -> one ordered micro-batch, so in-batch session
    // splits are deterministic and comparable to the batch q26 result
    events.orderBy("ts").coalesce(1).write.parquet(srcDir)
    val stream = Streams.parquetStream(spark, srcDir,
      spark.read.parquet(srcDir).schema, maxFilesPerTrigger = 1)
      .selectExpr("user_id", "ts").as[Streams.SessionEvent]
    val closed = Streams.sessionize(stream, gapSec = 30 * 60)
    // the processing-time timeout keeps no-data batches coming, so
    // AvailableNow terminates only with them off (see Streams.sessionize)
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    val q = try closed.writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(Trigger.AvailableNow()).start()
    finally prevNoData match {
      case Some(v) => spark.conf.set(noData, v)
      case None => spark.conf.unset(noData)
    }
    // stop unconditionally: a query that outlives its test keeps
    // StateStore maintenance threads alive for the whole suite (the
    // r14 teardown ERROR + 20 minutes of coordinator lag warnings)
    try {
      assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
      val streamed = spark.sql("SELECT COUNT(*) FROM sessions").collect()(0).getLong(0)
      val batchSessions = SparkEntry.queries("q26_sessionize")(spark, sf()).count()
      val nUsers = events.select("user_id").distinct().count()
      // every session closes except each user's final (still-open) one
      assert(streamed == batchSessions - nUsers,
        s"streamed=$streamed batch=$batchSessions users=$nUsers")
    } finally q.stop()
  }

  test("reference timeline lifecycle transform runs unchanged as a stream") {
    import java.sql.Timestamp
    val srcDir = tmpDir("tlstream-src")
    val sinkDir = tmpDir("tlstream-sink")
    val since = Timestamp.valueOf("2024-03-01 00:00:00")
    val fcScenario = graft.demo.ReferenceFixtures.build(spark).fcScenario
    fcScenario.repartition(3).write.parquet(srcDir) // several micro-batches
    val expected = graft.ops.ScenarioPipeline
      .timelineLifecycleBranches(spark.read.parquet(srcDir), since)
      .select("source_key", "event_type", "scenario_id")
      .collect().map(_.toString).sorted.toSeq

    // the SAME transform over a readStream scan, merged via the dedup sink
    val stream = Streams.parquetStream(spark, srcDir,
      spark.read.parquet(srcDir).schema, maxFilesPerTrigger = 1)
    val q = Streams.toMergeSink(
      graft.ops.ScenarioPipeline.timelineLifecycleBranches(stream, since),
      tmpDir("tlstream-ck"), Trigger.AvailableNow())(
      (s, batch, _) => MergeSink.appendDedup(s, sinkDir, batch, "source_key"))
    q.awaitTermination(120000)
    val got = spark.read.parquet(sinkDir)
      .select("source_key", "event_type", "scenario_id")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("curation prep (scrub + sample + chunk) runs unchanged as a stream") {
    // the training-data prep operators are stateless narrow transforms, so
    // the SAME composition must work over readStream with identical output
    import graft.ext.{Sampling, TextPrep}
    val srcDir = tmpDir("prep-src")
    val sinkDir = tmpDir("prep-sink")
    val docs = Tables.load(spark, sf(), "documents")
    docs.repartition(4).write.parquet(srcDir)

    def prep(df: org.apache.spark.sql.DataFrame) = {
      val sampled = Sampling.uniform(df, col("doc_id"), 0.5)
        .select(col("doc_id"), TextPrep.scrubPii(col("text")).as("clean"))
      TextPrep.chunkTokens(sampled, col("doc_id"), col("clean"), 24, 12)
        .withColumn("chunk_key",
          concat(col("doc_id"), lit("#"), col("chunk_no")))
    }
    val expected = prep(spark.read.parquet(srcDir))
      .select("chunk_key", "chunk_tokens")
      .collect().map(_.toString).sorted.toSeq

    val stream = Streams.parquetStream(spark, srcDir,
      spark.read.parquet(srcDir).schema, maxFilesPerTrigger = 1)
    val q = Streams.toMergeSink(prep(stream), tmpDir("prep-ck"),
      Trigger.AvailableNow())(
      (s, batch, _) => MergeSink.appendDedup(s, sinkDir, batch, "chunk_key"))
    q.awaitTermination(120000)
    val got = spark.read.parquet(sinkDir)
      .select("chunk_key", "chunk_tokens")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("streaming top-k converges to the batch heavy hitters") {
    import spark.implicits._
    val srcDir = tmpDir("hh-src")
    val events = Tables.load(spark, sf(), "events")
    events.repartition(3).write.parquet(srcDir)
    val stream = Streams.parquetStream(spark, srcDir,
        spark.read.parquet(srcDir).schema, maxFilesPerTrigger = 1)
      .selectExpr("event_type AS group", "CAST(user_id AS STRING) AS item")
      .as[Streams.KeyedItem]
    val q = Streams.topkFreq(stream, capacity = 512, k = 5)
      .writeStream.outputMode("update")
      .format("memory").queryName("hh")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // update mode re-emits per batch; the LAST snapshot per (group, rank)
    // must equal the batch top-5 (capacity 512 > distinct users => exact)
    val streamed = spark.sql(
      """SELECT group, item, cnt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY group, batch_rank
        |    ORDER BY group_total DESC) AS rn FROM hh) WHERE rn = 1""".stripMargin)
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val batch = events.groupBy("event_type", "user_id").count()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")
          .orderBy(desc("count"), col("user_id").cast("string"))))
      .filter(col("rk") <= 5)
      .select(col("event_type"), col("user_id").cast("string"), col("count"))
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (g, items) =>
      assert(items == batch(g), s"group $g: $items vs ${batch(g)}")
    }
  }

  test("incremental dedup runs as a streaming fold over a persisted index") {
    import spark.implicits._
    import graft.ext.Dedup
    val srcDir = tmpDir("incdedup-src")
    val sigDir = tmpDir("incdedup-sig")
    val bandDir = tmpDir("incdedup-band")
    val asgDir = tmpDir("incdedup-asg")

    // 3 files = 3 micro-batches; copies planted across batches
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(srcDir + "/f1")
    Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
        (4L, "fresh unique content in the second batch entirely"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(srcDir + "/f2")
    Seq((5L, "one two three four five six seven eight nine"),  // dup of 2
        (6L, "alpha beta gamma delta epsilon zeta eta theta")) // dup of 1
      .toDF("doc_id", "text").coalesce(1).write.parquet(srcDir + "/f3")
    // one flat dir for the file stream, ordered by name = batch order
    val flat = tmpDir("incdedup-flat")
    new java.io.File(flat).mkdirs()
    for ((f, i) <- Seq("f1", "f2", "f3").zipWithIndex) {
      val part = new java.io.File(srcDir + "/" + f).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"$f.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // FileStreamSource orders batches by mtime, not name — make it strict
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    def loadIndex() = {
      def loadOr(dir: String, like: org.apache.spark.sql.DataFrame) =
        if (new java.io.File(dir).exists()) spark.read.parquet(dir) else like
      val empty = Dedup.emptyIndex(spark)
      Dedup.DedupIndex(loadOr(sigDir, empty.signatures),
        loadOr(bandDir, empty.bands))
    }
    val stream = Streams.parquetStream(spark, flat,
      spark.read.parquet(flat).schema, maxFilesPerTrigger = 1)
    val q = Streams.toMergeSink(stream, tmpDir("incdedup-ck"),
      Trigger.AvailableNow()) { (s, batch, _) =>
      val (assign, add) = Dedup.incrementalAssignments(
        batch, "doc_id", "text", loadIndex(), threshold = 0.6)
      // persist assignments, then extend the index with the kept docs
      MergeSink.appendDedup(s, asgDir, assign, "doc_id")
      MergeSink.appendDedup(s, sigDir, add.signatures, "doc_id")
      MergeSink.appendDedup(s, bandDir,
        add.bands.withColumn("bk",
          concat_ws("#", col("doc_id"), col("band_id"))), "bk")
    }
    q.awaitTermination(120000)

    val got = spark.read.parquet(asgDir).select("doc_id", "keeper_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L,
      5L -> 2L, 6L -> 1L))
    // the persisted index holds exactly the kept representatives
    assert(spark.read.parquet(sigDir).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L))
  }

  test("streaming HLL distinct fold converges and is redelivery-stable") {
    import spark.implicits._
    import graft.functions.SketchAggs
    // 3 batches, overlapping values per key — the running estimate must
    // count each distinct value once however the batches slice it
    val batches = Seq(
      (1 to 40).map(v => ("a", v.toLong)) ++ (1 to 3).map(v => ("b", v.toLong)),
      (30 to 70).map(v => ("a", v.toLong)) ++ (2 to 5).map(v => ("b", v.toLong)),
      (60 to 100).map(v => ("a", v.toLong)))
    val flat = tmpDir("hll-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"hll-b$i")
      rows.toDF("k", "v").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stateDir = tmpDir("hll-state")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.distinctFold(stateDir, "k", "v"))
      q.awaitTermination(120000)
    }
    run("hll-ck")
    def estimates(): Map[String, Long] =
      SketchAggs.distinctEstimate(MergeSink.readAny(spark, stateDir).get)
        .as[(String, Long)].collect().toMap
    val e = estimates()
    // small cardinalities sit in the sketch's exact regime
    assert(e == Map("a" -> 100L, "b" -> 5L), s"got $e")

    // redelivery: a fresh checkpoint re-sends every batch; register-
    // idempotent union means estimates cannot inflate
    run("hll-ck2")
    assert(estimates() == e, "redelivery drifted")
  }

  test("streaming drift monitor: frozen-reference TV per batch, out-of-range mass clamps in, redelivery-stable") {
    import spark.implicits._
    // reference: uniform 1..100 over 4 bins (frac 0.25 each)
    val refDf = (1 to 100).map(_.toDouble).toDF("v")
    val batches = Seq(
      (1 to 100).map(_.toDouble),        // identical distribution → tv 0
      Seq.fill(50)(1.0),                 // all mass in bin 0 → tv 0.75
      (201 to 300).map(_.toDouble))      // fully out of range → clamps to top bin
    val refDir = tmpDir("dm-ref")
    MergeSink.writeReplace(spark,
      refDir, graft.ops.Stats.driftReference(refDf, "v", 4))
    val flat = tmpDir("dm-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"dm-b$i")
      rows.toDF("v").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val outDir = tmpDir("dm-out")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.driftMonitor(refDir, outDir, "v"))
      q.awaitTermination(120000)
    }
    run("dm-ck")
    def scores(): Map[Long, (Long, Double)] =
      MergeSink.readAny(spark, outDir).get
        .as[(Long, Long, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    val m = scores()
    assert(m(0L) == ((100L, 0.0)), s"got $m")
    assert(m(1L) == ((50L, 0.75)))
    // every out-of-range value clamps into the top cell: drift, not loss
    assert(m(2L) == ((100L, 0.75)))
    run("dm-ck2")
    assert(scores() == m, "redelivery drifted")
  }

  test("dedupWithinWatermark: duplicated input collapses to one row per key with bounded state") {
    val srcDir = tmpDir("ddw-src")
    val events = Tables.load(spark, sf(), "events")
      .select("event_id", "ts", "user_id", "event_type")
    // the same corpus written twice: every key arrives (at least) twice,
    // possibly in different micro-batches
    events.repartition(2).write.parquet(srcDir)
    events.repartition(3).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val deduped = Streams.dedupWithinWatermark(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 2),
      "ts", Seq("event_id"),
      // wider than the corpus's event-time span: no copy can fall outside
      // the horizon, so the output must be EXACTLY one row per key
      delay = "3650 days")
    val outDir = tmpDir("ddw-out")
    val q = deduped.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", tmpDir("ddw-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val got = spark.read.parquet(outDir)
    val n = events.count()
    assert(got.count() == n, "one row per key, none lost")
    assert(got.select("event_id").distinct().count() == n)
  }

  test("stream-stream interval join equals the batch inequality join") {
    val srcDir = tmpDir("ssj-src")
    val events = Tables.load(spark, sf(), "events")
    events.repartition(4).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def stream() = Streams.normalizeEventTime(
      Streams.parquetStream(spark, srcDir, schema, maxFilesPerTrigger = 2), "ts")
    val views = stream().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val joined = Streams.intervalJoinStreams(views, "v_ts", clicks, "c_ts",
        col("v_user") === col("c_user"), withinSec = 600)
      .withColumn("pk", concat_ws("#", col("view_id"), col("click_id")))
    val sinkDir = tmpDir("ssj-sink")
    val q = Streams.toMergeSink(joined, tmpDir("ssj-ck"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())(
      Streams.Sinks.appendDedup(sinkDir, "pk"))
    q.awaitTermination(180000)

    val bv = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val bc = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val expect = bv.join(bc, col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") < col("v_ts") + expr("INTERVAL 600 SECOND"))
      .select("view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = MergeSink.readAny(spark, sinkDir).get
      .select("view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expect.nonEmpty, "the comparison must exercise matches")
    assert(got == expect)
  }

  test("streaming funnel fold equals the batch funnel on time-ordered batches and survives redelivery") {
    import spark.implicits._
    val events = Tables.load(spark, sf(), "events")
      .select("user_id", "event_type", "ts")
    val steps = Seq("view" -> (col("event_type") === "view"),
      "click" -> (col("event_type") === "click"),
      "purchase" -> (col("event_type") === "purchase"))
    // split the stream at event-time terciles: batches arrive in event-time
    // order per user — the contract under which fold ≡ batch exactly
    val b = events.select(unix_micros(col("ts")).as("u"))
      .agg(expr("percentile(u, array(0.33, 0.66))")).head().getSeq[Double](0)
    val batches = Seq(
      events.filter(unix_micros(col("ts")) <= b(0)),
      events.filter(unix_micros(col("ts")) > b(0) &&
        unix_micros(col("ts")) <= b(1)),
      events.filter(unix_micros(col("ts")) > b(1)))
    val expect = graft.ops.Funnel.conversionFunnel(events,
        col("user_id"), col("ts"), steps)
      .select("user_id", "t_view", "t_click", "t_purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
    val flat = tmpDir("ff-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"ff-b$i")
      rows.coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stateDir = tmpDir("ff-state")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.normalizeEventTime(Streams.parquetStream(spark, flat,
          spark.read.parquet(flat).schema, maxFilesPerTrigger = 1), "ts"),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.funnelFold(stateDir, "user_id", "ts", steps))
      q.awaitTermination(180000)
    }
    run("ff-ck")
    def state() = MergeSink.readAny(spark, stateDir).get
      .select("user_id", "t_view", "t_click", "t_purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
    val got = state()
    assert(got == expect)
    // min is idempotent: a fresh-checkpoint redelivery changes nothing
    run("ff-ck2")
    assert(state() == got, "redelivery drifted")
  }

  test("dropDuplicatesWithinWatermark dedups replayed events inside the horizon") {
    import spark.implicits._
    // the same events staged TWICE (an at-least-once redelivery) — the
    // watermarked dedup must emit each event_id once, with bounded state
    // (plain dropDuplicates would key state forever)
    val events = Tables.load(spark, sf(), "events")
      .select("event_id", "user_id", "ts").limit(200)
    val flat = tmpDir("wmd-flat"); new java.io.File(flat).mkdirs()
    for (i <- 0 until 2) {
      val one = tmpDir(s"wmd-b$i")
      events.coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val deduped = Streams.normalizeEventTime(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1), "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val sinkDir = tmpDir("wmd-sink")
    val q = Streams.toMergeSink(deduped, tmpDir("wmd-ck"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())(
      Streams.Sinks.appendDedup(sinkDir, "event_id"))
    q.awaitTermination(120000)
    val got = MergeSink.readAny(spark, sinkDir).get
    assert(got.count() == 200)
    assert(got.select("event_id").distinct().count() == 200)
  }

  test("streaming top-k-rows fold: per-group leaderboard equals the one-shot cut and survives redelivery") {
    import spark.implicits._
    import graft.functions.SketchAggs
    val rnd = new scala.util.Random(5)
    val all = (1 to 300).map(i =>
      (s"g${rnd.nextInt(6)}", i.toLong, rnd.nextInt(1000).toDouble))
    val batches = Seq(all.take(100), all.slice(100, 200), all.drop(200))
    val expect = SketchAggs.topkRows(all.toDF("g", "id", "v"),
        Seq(col("g").as("group_key")), col("v"), col("id"), 3)
      .select("group_key", "tie", "val")
      .as[(String, String, Double)].collect().toSet
    val flat = tmpDir("tk-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"tk-b$i")
      rows.toDF("g", "id", "v").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stateDir = tmpDir("tk-state")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.topkRowsFold(stateDir, "g", "v", "id", 3))
      q.awaitTermination(120000)
    }
    run("tk-ck")
    def state() = MergeSink.readAny(spark, stateDir).get
      .select("group_key", "tie", "val")
      .as[(String, String, Double)].collect().toSet
    val got = state()
    assert(got == expect)
    // (val, tie) set semantics: fresh-checkpoint redelivery is a no-op
    run("tk-ck2")
    assert(state() == got, "redelivery drifted")
  }

  test("streaming cohort fold is order-free: an arbitrary batch split equals the batch retention matrix") {
    import spark.implicits._
    val events = Tables.load(spark, sf(), "events")
      .select("event_id", "user_id", "ts")
    // split by event_id % 3 — batches interleave arbitrarily across time,
    // the order-freedom the min/set-union state algebra guarantees
    val batches = (0 until 3).map(i => events.filter(col("event_id") % 3 === i))
    val expect = graft.ops.Funnel.cohortRetention(events,
        col("user_id"), col("ts"))
      .as[(java.sql.Date, Long, Long)].collect().toSet
    val flat = tmpDir("cf-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"cf-b$i")
      rows.coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val firstDir = tmpDir("cf-first")
    val actDir = tmpDir("cf-act")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.normalizeEventTime(Streams.parquetStream(spark, flat,
          spark.read.parquet(flat).schema, maxFilesPerTrigger = 1), "ts"),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.cohortFold(firstDir, actDir, "user_id", "ts"))
      q.awaitTermination(180000)
    }
    run("cf-ck")
    def matrix() = graft.ops.Funnel.cohortRetentionFromState(
        MergeSink.readAny(spark, firstDir).get,
        MergeSink.readAny(spark, actDir).get)
      .as[(java.sql.Date, Long, Long)].collect().toSet
    val got = matrix()
    assert(got == expect)
    // min + set-union: fresh-checkpoint redelivery changes nothing
    run("cf-ck2")
    assert(matrix() == got, "redelivery drifted")
  }

  test("streaming count-min fold: batch-keyed contributions converge to one-shot counts and survive redelivery") {
    import spark.implicits._
    import graft.functions.SketchAggs
    val (d, w) = (4, 64)
    val batches = Seq(
      Seq.fill(10)("a") ++ Seq.fill(3)("b"),
      Seq.fill(5)("a") ++ Seq.fill(4)("c"),
      Seq.fill(1)("b"))
    val flat = tmpDir("cm-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"cm-b$i")
      rows.map(Tuple1(_)).toDF("item").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stateDir = tmpDir("cm-state")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.cmFold(stateDir, "item", d, w))
      q.awaitTermination(120000)
    }
    run("cm-ck")
    def estimates(): Map[String, Long] = {
      val st = MergeSink.readAny(spark, stateDir).get.select(col("cm"))
      SketchAggs.cmEstimates(SketchAggs.foldCmState(st),
          Seq("a", "b", "c"), d, w)
        .as[(String, Long)].collect().toMap
    }
    val e = estimates()
    assert(e == Map("a" -> 15L, "b" -> 4L, "c" -> 4L), s"got $e")
    assert(MergeSink.readAny(spark, stateDir).get.count() == 3)
    // fresh-checkpoint redelivery: batch_id keying drops duplicates —
    // counter addition would otherwise double-count
    run("cm-ck2")
    assert(estimates() == e, "redelivery drifted")
    assert(MergeSink.readAny(spark, stateDir).get.count() == 3)
  }

  test("streaming manifest fold: additive fingerprint equals the one-shot manifest and survives redelivery") {
    import spark.implicits._
    import graft.ops.Stats
    val batches = Seq(
      Seq((1L, Some("aa"), "s1"), (2L, Some("bb"), "s1")),
      Seq((3L, Option.empty[String], "s1"), (4L, Some("cc"), "s2")),
      Seq((5L, Some("dd"), "s2")))
    val all = batches.flatten
    val flat = tmpDir("mf-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"mf-b$i")
      rows.toDF("id", "text", "src").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stateDir = tmpDir("mf-state")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.manifestFold(stateDir, "src", "id", "text"))
      q.awaitTermination(120000)
    }
    run("mf-ck")
    def current() = Stats.manifestFromContributions(
        MergeSink.readAny(spark, stateDir).get)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = current()
    // the fold must equal the one-shot manifest's additive columns
    val oneShot = Stats.manifest(all.toDF("id", "text", "src"),
        col("src"), col("id"), col("text"))
      .select("group_key", "n_rows", "n_null_content", "content_sig")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == oneShot)
    // one contribution row per (group, batch) that saw the group
    assert(MergeSink.readAny(spark, stateDir).get.count() == 4)
    run("mf-ck2")
    assert(current() == got, "redelivery drifted")
    assert(MergeSink.readAny(spark, stateDir).get.count() == 4)
  }

  test("streaming quantile fold: contribution-keyed KLL state converges and survives redelivery") {
    import spark.implicits._
    import graft.functions.SketchAggs
    // per-key totals stay ≤ k=200, so every quantile is EXACT and the
    // assertions are deterministic despite KLL's randomized compaction
    val batches = Seq(
      (1 to 60).map(v => ("a", v.toDouble)) ++ (1 to 30).map(v => ("b", v.toDouble)),
      (61 to 120).map(v => ("a", v.toDouble)),
      (121 to 180).map(v => ("a", v.toDouble)))
    val flat = tmpDir("kll-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"kll-b$i")
      rows.toDF("k", "v").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stateDir = tmpDir("kll-state")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.quantileFold(stateDir, "k", "v"))
      q.awaitTermination(120000)
    }
    run("kll-ck")
    def estimates(): Map[String, (Double, Double)] = {
      val st = MergeSink.readAny(spark, stateDir).get
        .select(col("key"), col("qsketch"))
      SketchAggs.quantileEstimate(
          SketchAggs.foldQuantileState(200, st), Seq(0.5, 1.0))
        .as[(String, Double, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    }
    val e = estimates()
    assert(e == Map("a" -> ((90.0, 180.0)), "b" -> ((15.0, 30.0))),
      s"got $e")
    // one contribution row per (key, batch) that saw the key
    val st = MergeSink.readAny(spark, stateDir).get
    assert(st.count() == 4)

    // fresh-checkpoint redelivery: (key, batch) contribution keying
    // drops every duplicate — estimates cannot re-weight
    run("kll-ck2")
    assert(estimates() == e, "redelivery drifted")
    assert(MergeSink.readAny(spark, stateDir).get.count() == 4)
  }

  test("streaming k-means fold routes batches to stable clusters and survives redelivery") {
    import spark.implicits._
    import graft.ext.SimSearch
    def b1(i: Int) = Array(1.0f, 0.02f * (i % 3), 0.0f, 0.0f)
    def b2(i: Int) = Array(0.0f, 0.0f, 1.0f, 0.02f * (i % 2))
    // batch 0 shows both blobs (bootstrap k-means sees the full geometry);
    // later batches extend each blob with fresh ids
    val batches = Seq(
      (0 until 8).map(i => (i.toLong, b1(i))) ++
        (8 until 12).map(i => (i.toLong, b2(i))),
      (12 until 16).map(i => (i.toLong, b2(i))),
      (16 until 20).map(i => (i.toLong, b1(i))))
    val flat = tmpDir("km-flat"); new java.io.File(flat).mkdirs()
    for ((rows, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"km-b$i")
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stateDir = tmpDir("km-state")
    val assignDir = tmpDir("km-assign")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.kmeansFold(stateDir, assignDir, "vec_id", "embedding",
          k = 2, lloydIters = 2))
      q.awaitTermination(120000)
    }
    run("km-ck")
    def assignments(): Map[Long, Long] =
      MergeSink.readAny(spark, assignDir).get
        .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    val m = assignments()
    assert(m.keySet == (0L until 20L).toSet, s"got ${m.keySet}")
    // every blob-1 id (incl. batch-2 arrivals) shares one cluster,
    // every blob-2 id the other
    val g1 = ((0L until 8L) ++ (16L until 20L)).map(m).toSet
    val g2 = ((8L until 16L)).map(m).toSet
    assert(g1.size == 1 && g2.size == 1 && g1 != g2, s"m=$m")
    // state: one contribution row per (cluster, batch) that had members
    val contrib = MergeSink.readAny(spark, stateDir).get
    assert(contrib.select(sum(col("n"))).head().getLong(0) == 20L)
    val cents = SimSearch.kmCentroids(
      SimSearch.KmIndex(contrib, 2, 4))
    assert(cents.length == 2)

    // fresh-checkpoint redelivery: same epochs, same batch ids → the
    // fold no-ops and both tables hold exactly the same values
    run("km-ck2")
    assert(assignments() == m, "redelivery moved assignments")
    val contrib2 = MergeSink.readAny(spark, stateDir).get
    assert(contrib2.collect().toSet == contrib.collect().toSet,
      "redelivery drifted state")
  }

  test("incremental segment dedup folds streamed batches against persisted counts") {
    import spark.implicits._
    import graft.ext.Dedup
    val boiler = "subscribe to our newsletter terms of service apply" // 8 toks
    val uniqA = "alpha beta gamma delta epsilon zeta eta theta"
    val uniqB = "iota kappa lambda mu nu xi omicron pi"
    val pair  = "rho sigma tau upsilon phi chi psi omega"
    val batches = Seq(
      Seq(1L -> s"$boiler $uniqA"),                 // boiler count → 1
      Seq(3L -> s"$boiler $uniqB",                  // 1 old + this → cut here
          4L -> s"$pair one two three four five six seven eight",
          5L -> pair))                              // pair: 2 in-batch → cut both

    // driver-side sequential fold = the expected streaming outcome
    var idx = Dedup.emptySegmentIndex(spark)
    val expected = batches.flatMap { b =>
      val (clean, delta) = Dedup.incrementalSegmentDedup(
        b.toDF("doc_id", "text"), "doc_id", "text", idx,
        window = 8, minDocs = 2)
      idx = Dedup.foldSegmentIndex(idx, delta).localCheckpoint()
      clean.as[(Long, String, Long, Long)].collect()
    }.sortBy(_._1)
    assert(expected.map(t => (t._1, t._2)).toSeq == Seq(
      (1L, s"$boiler $uniqA"), (3L, uniqB),
      (4L, "one two three four five six seven eight"), (5L, "")),
      "fixture sanity: cross-batch + in-batch cuts land where expected")

    val flat = tmpDir("segfold-flat"); new java.io.File(flat).mkdirs()
    for ((docs, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"segfold-b$i")
      docs.toDF("doc_id", "text").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val countsDir = tmpDir("segfold-counts")
    val cleanDir = tmpDir("segfold-clean")
    def run(ck: String) = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
          maxFilesPerTrigger = 1),
        tmpDir(ck), Trigger.AvailableNow())(
        Streams.Sinks.segmentFold(countsDir, cleanDir,
          window = 8, minDocs = 2))
      q.awaitTermination(120000)
    }
    run("segfold-ck")
    val got = MergeSink.readAny(spark, cleanDir).get
      .select("doc_id", "clean_text", "n_segs", "segs_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == expected.toSeq)

    // at-least-once redelivery: fresh checkpoint re-sends every batch;
    // contribution inserts dedupe on (seg_hash, batch_id), the probe
    // excludes own prior contribution — output must be byte-stable
    run("segfold-ck2")
    val refolded = MergeSink.readAny(spark, cleanDir).get
      .select("doc_id", "clean_text", "n_segs", "segs_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(refolded.toSeq == expected.toSeq, "redelivery drifted")
    // counts hold ONE contribution row per (segment, batch)
    val ck = MergeSink.readAny(spark, countsDir).get
    assert(ck.groupBy("seg_hash", "batch_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("incremental clustering folds streamed batch edges into persisted labels") {
    import spark.implicits._
    import graft.ext.Dedup
    // cross-batch duplicate CHAINS: 3~1 and 5~3 arrive in different batches,
    // so the final clusters exist only if each fold bridges through the
    // persisted labels (the index holds ALL prior docs — clustering wants
    // every edge, not dedup keepers)
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tB = "one two three four five six seven eight nine"
    val batchesDocs = Seq(
      Seq(1L -> tA, 2L -> tB),
      Seq(3L -> tA, 4L -> "fresh unique content in the second batch entirely"),
      Seq(5L -> tB, 6L -> tA))
    val flat = tmpDir("clust-flat"); new java.io.File(flat).mkdirs()
    for ((docs, i) <- batchesDocs.zipWithIndex) {
      val one = tmpDir(s"clust-b$i")
      docs.toDF("doc_id", "text").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, f"b$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    // equals batch clustering over ALL pairs of the full corpus
    val all = batchesDocs.flatten.toDF("doc_id", "text")
    val batchLabels = Dedup.nearDupClusters(
      Dedup.minhashNearDups(all, "doc_id", "text",
        n = 1, k = 32, bands = 4, threshold = 0.6))
      .as[(Long, Long)].collect().toMap

    // the first-class sink: the label table is a
    // partition-scoped DELTA upsert (never a full rewrite)
    val sigDir = tmpDir("clust-sig")
    val bandDir = tmpDir("clust-band")
    val labelsDir = tmpDir("clust-labels")
    val stream = Streams.parquetStream(spark, flat,
      spark.read.parquet(flat).schema, maxFilesPerTrigger = 1)
    val q = Streams.toMergeSink(stream, tmpDir("clust-ck"),
      Trigger.AvailableNow())(
      Streams.Sinks.clusterFold(sigDir, bandDir, labelsDir,
        n = 1, k = 32, bands = 4, threshold = 0.6))
    q.awaitTermination(120000)

    val folded = MergeSink.readAny(spark, labelsDir).get
      .select("doc_id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    assert(folded == batchLabels)
    assert(folded == Map(1L -> 1L, 3L -> 1L, 6L -> 1L, 2L -> 2L, 5L -> 2L))

    // at-least-once redelivery: a fresh checkpoint re-sends EVERY batch
    // through the same sinks; re-folded edges yield an empty remap, the
    // index appends dedupe — labels must be byte-for-byte stable
    val q2 = Streams.toMergeSink(
      Streams.parquetStream(spark, flat, spark.read.parquet(flat).schema,
        maxFilesPerTrigger = 1),
      tmpDir("clust-ck2"), Trigger.AvailableNow())(
      Streams.Sinks.clusterFold(sigDir, bandDir, labelsDir,
        n = 1, k = 32, bands = 4, threshold = 0.6))
    q2.awaitTermination(120000)
    val refolded = MergeSink.readAny(spark, labelsDir).get
      .select("doc_id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    assert(refolded == batchLabels, "redelivery changed labels")
  }

  test("streaming corpus pipeline (dedup -> curation -> packing) equals the one-shot batch run") {
    import spark.implicits._
    import graft.ext.{Corpus, Curation, Dedup}

    // distinct vocabularies so the only near-dup pairs are the planted
    // copies; every dup cluster's min id arrives in its EARLIEST batch, so
    // first-seen (streaming) and min-id (batch) keeper rules coincide
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val textB = "one two three four five six seven eight nine ten eleven twelve"
    val textC = "crimson amber cobalt viridian ochre sienna umber teal magenta cyan"
    val textD = "quartz basalt gneiss schist marble granite slate obsidian pumice chert"
    val batches = Seq(
      Seq(10L -> textA, 20L -> textB),
      Seq(30L -> textA, 40L -> textC, 15L -> "tiny scrap"), // 15: quality-gate drop
      Seq(50L -> textB, 60L -> textD, 70L -> textC))
    val allDocs = batches.flatten.toDF("doc_id", "text")

    // ---- one-shot baseline: whole corpus in a single batch
    val (asgAll, _) = Dedup.incrementalAssignments(allDocs, "doc_id", "text",
      Dedup.emptyIndex(spark), threshold = 0.6)
    val keptAll = allDocs.join(
      asgAll.filter(col("keeper_id") === col("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val curatedAll = Curation.curate(keptAll)
    val packedAll = Corpus.packSequences(curatedAll, col("doc_id"), col("text"),
      capacity = 16, nShards = 2)

    // ---- streaming fold: three micro-batches through the same pieces
    val flat = tmpDir("corpus-flat"); new java.io.File(flat).mkdirs()
    for ((docs, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"corpus-b$i")
      docs.toDF("doc_id", "text").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, f"b$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // FileStreamSource orders batches by mtime — make the order strict
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val sigDir = tmpDir("corpus-sig"); val bandDir = tmpDir("corpus-band")
    val corpusDir = tmpDir("corpus-out")
    def loadIndex() = {
      def loadOr(dir: String, like: org.apache.spark.sql.DataFrame) =
        if (new java.io.File(dir).exists()) spark.read.parquet(dir) else like
      val empty = Dedup.emptyIndex(spark)
      Dedup.DedupIndex(loadOr(sigDir, empty.signatures),
        loadOr(bandDir, empty.bands))
    }
    val stream = Streams.parquetStream(spark, flat,
      spark.read.parquet(flat).schema, maxFilesPerTrigger = 1)
    val q = Streams.toMergeSink(stream, tmpDir("corpus-ck"),
      Trigger.AvailableNow()) { (s, batch, _) =>
      val (assign, delta) = Dedup.incrementalAssignments(
        batch, "doc_id", "text", loadIndex(), threshold = 0.6)
      MergeSink.appendDedup(s, sigDir, delta.signatures, "doc_id")
      MergeSink.appendDedup(s, bandDir,
        delta.bands.withColumn("bk",
          concat_ws("#", col("doc_id"), col("band_id"))), "bk")
      val kept = batch.join(
        assign.filter(col("keeper_id") === col("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      MergeSink.appendDedup(s, corpusDir, Curation.curate(kept), "doc_id")
    }
    q.awaitTermination(120000)

    val curatedStream = spark.read.parquet(corpusDir)
    // curated corpora identical: same docs, same enrichment
    assert(curatedStream.columns.sorted.sameElements(curatedAll.columns.sorted))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "text").as[(Long, Long, String)]
        .collect().toSet
    assert(snap(curatedStream) == snap(curatedAll))
    assert(snap(curatedStream).map(_._1) == Set(10L, 20L, 40L, 60L))

    // ...and the published pack table is identical pack-for-pack
    val packedStream = Corpus.packSequences(curatedStream, col("doc_id"),
      col("text"), capacity = 16, nShards = 2)
    def packSnap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "pack_id", "pack_offset", "n_tokens")
        .as[(Long, Int, Long, Long, Long)].collect().toSet
    assert(packSnap(packedStream) == packSnap(packedAll))
  }

  test("every Sinks family applies its merge mode through the rename swap") {
    import spark.implicits._
    val b1 = Seq((1L, "open", "n1"), (2L, "open", "n2")).toDF("k", "status", "note")
    val b2 = Seq((2L, "closed", "IGNORED"), (3L, "open", "n3"))
      .toDF("k", "status", "note")
    def apply2(mk: String => (org.apache.spark.sql.SparkSession,
        org.apache.spark.sql.DataFrame, Long) => Unit, tag: String)
        : Set[(Long, String, String)] = {
      val d = tmpDir(s"sink-$tag"); val sink = mk(d)
      for ((b, i) <- Seq(b1, b2).zipWithIndex) sink(spark, b, i.toLong)
      assert(!graft.merge.TxTable.exists(spark, d), tag)
      spark.read.parquet(d).select("k", "status", "note")
        .as[(Long, String, String)].collect().toSet
    }
    val u = apply2(Streams.Sinks.upsertPartial(_, Seq("k"), Seq("status")), "upsert")
    assert(u == Set((1L, "open", "n1"), (2L, "closed", "n2"), (3L, "open", "n3")))
    // M2 ≡ M1 on a single key
    assert(apply2(Streams.Sinks.scd2(_, "k", Seq("status")), "scd2") == u)
    // conflict on k=2 dropped, first-seen kept
    assert(apply2(Streams.Sinks.insertIfAbsent(_, Seq("k")), "insert") ==
      Set((1L, "open", "n1"), (2L, "open", "n2"), (3L, "open", "n3")))
  }

  test("Sinks.upsertScoped binds the partition-scoped merge") {
    import spark.implicits._
    val scheme = MergeSink.PartitionScheme.keyHash(Seq("k"), 8)
    val dir = tmpDir("sink-scoped")
    val b1 = Seq(("k1", "open"), ("k2", "open")).toDF("k", "status")
    val b2 = Seq(("k2", "closed")).toDF("k", "status")
    val sink = Streams.Sinks.upsertScoped(dir, Seq("k"), Seq("status"), scheme)
    for ((b, i) <- Seq(b1, b2).zipWithIndex) sink(spark, b, i.toLong)
    val target = spark.read.parquet(dir)
    assert(target.select("k", "status").as[(String, String)].collect().toMap ==
      Map("k1" -> "open", "k2" -> "closed"))
    // the scoped layout: rows land in hash-bucket partition directories
    assert(target.columns.contains(scheme.colName))
    assert(!graft.merge.TxTable.exists(spark, dir))
  }

  test("streaming embedding batches fold through the persisted semantic index") {
    import spark.implicits._
    import graft.ext.SimSearch

    val base = Array.tabulate(64)(i => 0.1f * ((i % 7) + 1))
    val nearBase = base.clone(); nearBase(0) += 0.001f
    val far = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val other = Array.tabulate(64)(i => ((i % 5) - 2).toFloat)
    val nearOther = other.clone(); nearOther(1) += 0.001f
    // batch 2's near-dup of vec 10 has a SMALLER id: only first-seen
    // corpus-keeper semantics (not id order) give 5 -> 10
    val batches = Seq(
      Seq(10L -> base, 20L -> far),
      Seq(5L -> nearBase, 15L -> other),
      Seq(30L -> nearOther))

    val flat = tmpDir("semidx-flat"); new java.io.File(flat).mkdirs()
    for ((vecs, i) <- batches.zipWithIndex) {
      val one = tmpDir(s"semidx-b$i")
      vecs.toDF("vec_id", "embedding").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, f"b$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val asgDir = tmpDir("semidx-asg"); val idxDir = tmpDir("semidx-idx")
    def loadIndex() =
      if (new java.io.File(idxDir).exists())
        SimSearch.SemIndex(spark.read.parquet(idxDir))
      else SimSearch.emptySemIndex(spark)
    val stream = Streams.parquetStream(spark, flat,
      spark.read.parquet(flat).schema, maxFilesPerTrigger = 1)
    val q = Streams.toMergeSink(stream, tmpDir("semidx-ck"),
      Trigger.AvailableNow()) { (s, batch, _) =>
      val (assign, delta) = SimSearch.incrementalSemanticAssignments(
        batch, "vec_id", "embedding", loadIndex(),
        threshold = 0.95, tables = 12, planesPerTable = 3, dim = 64)
      MergeSink.appendDedup(s, asgDir, assign, "vec_id")
      MergeSink.appendDedup(s, idxDir, delta.entries, "vec_id")
    }
    q.awaitTermination(120000)

    val got = spark.read.parquet(asgDir).select("vec_id", "keeper_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 20L -> 20L, 5L -> 10L, 15L -> 15L,
      30L -> 15L))
    // the persisted index holds exactly the kept representatives
    assert(spark.read.parquet(idxDir).select("vec_id")
      .as[Long].collect().toSet == Set(10L, 20L, 15L))
  }

  /** Restart-recovery contract: a streaming corpus query stopped mid-corpus
    * restarts against the SAME checkpoint dir (a NEW query, same sinks) and
    * converges to the one-shot batch result. The restart also REPLAYS its
    * last micro-batch — the checkpoint's final commit marker is deleted to
    * reproduce the real crash window (sink wrote, checkpoint commit didn't
    * land) — so the idempotent-sink + checkpoint design is exercised on
    * exactly the path a crash takes. */
  test("restart recovery: rename-mode corpus stream resumes from its checkpoint") {
    import spark.implicits._
    import graft.ext.{Curation, Dedup}
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val textB = "one two three four five six seven eight nine ten eleven twelve"
    val textC = "crimson amber cobalt viridian ochre sienna umber teal magenta cyan"
    val textD = "quartz basalt gneiss schist marble granite slate obsidian pumice chert"
    val batches = Seq(
      Seq(10L -> textA, 20L -> textB),
      Seq(30L -> textA, 40L -> textC, 15L -> "tiny scrap"),
      Seq(50L -> textB, 60L -> textD),
      Seq(70L -> textC, 80L -> textD))
    val allDocs = batches.flatten.toDF("doc_id", "text")

    // one-shot baseline
    val (asgAll, _) = Dedup.incrementalAssignments(allDocs, "doc_id", "text",
      Dedup.emptyIndex(spark), threshold = 0.6)
    val curatedAll = Curation.curate(allDocs.join(
      asgAll.filter(col("keeper_id") === col("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi"))

    val flat = tmpDir("restart-flat"); new java.io.File(flat).mkdirs()
    def stage(i: Int): Unit = {
      val one = tmpDir(s"restart-b$i")
      batches(i).toDF("doc_id", "text").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, f"b$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val ck = tmpDir("restart-ck")
    val sigDir = tmpDir("restart-sig")
    val bandDir = tmpDir("restart-band")
    val corpusDir = tmpDir("restart-out")
    def loadIndex() = {
      val empty = Dedup.emptyIndex(spark)
      Dedup.DedupIndex(
        MergeSink.readAny(spark, sigDir).getOrElse(empty.signatures),
        MergeSink.readAny(spark, bandDir).getOrElse(empty.bands))
    }
    val sinkSig = Streams.Sinks.appendDedup(sigDir, "doc_id")
    val sinkBand = Streams.Sinks.appendDedup(bandDir, "bk")
    val sinkCorpus = Streams.Sinks.appendDedup(corpusDir, "doc_id")
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery =
      Streams.toMergeSink(
        Streams.parquetStream(spark, flat,
          allDocs.schema, maxFilesPerTrigger = 1),
        ck, Trigger.AvailableNow()) { (s, batch, id) =>
        val (assign, delta) = Dedup.incrementalAssignments(
          batch, "doc_id", "text", loadIndex(), threshold = 0.6)
        sinkSig(s, delta.signatures, id)
        sinkBand(s, delta.bands.withColumn("bk",
          concat_ws("#", col("doc_id"), col("band_id"))), id)
        val kept = batch.join(
          assign.filter(col("keeper_id") === col("doc_id")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        sinkCorpus(s, Curation.curate(kept), id)
      }

    // phase 1: only half the corpus exists; the query drains it and stops
    stage(0); stage(1)
    val q1 = startQuery()
    q1.awaitTermination(120000)
    assert(MergeSink.readAny(spark, corpusDir).get.count() >= 2)

    // crash simulation: the sinks RECEIVED batch 1 but its checkpoint
    // commit never landed — delete the latest commit marker, keeping the
    // offsets, so the restart must re-deliver batch 1 to already-written
    // sinks (the idempotent-replay window)
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length == 2, s"expected 2 committed batches, got ${commits.length}")
    val crc = new java.io.File(commits.last.getParent,
      s".${commits.last.getName}.crc") // ChecksumFs sidecar blocks the redo
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())

    // phase 2: the rest of the corpus arrives; a NEW query on the SAME
    // checkpoint replays batch 1, then processes batches 2 and 3
    stage(2); stage(3)
    val q2 = startQuery()
    q2.awaitTermination(120000)

    val curatedStream = MergeSink.readAny(spark, corpusDir).get
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "text").as[(Long, Long, String)]
        .collect().toSet
    assert(snap(curatedStream) == snap(curatedAll),
      "restarted stream diverged from one-shot batch")
    assert(snap(curatedStream).map(_._1) == Set(10L, 20L, 40L, 60L))
    // the index also converged to exactly the DEDUP-kept representatives
    // (15 is unique so dedup keeps it; the curation quality gate drops it
    // from the corpus only)
    assert(MergeSink.readAny(spark, sigDir).get.select("doc_id")
      .as[Long].collect().toSet == Set(10L, 15L, 20L, 40L, 60L))
  }


  test("windowed counts with watermark produce sane totals") {
    val srcDir = tmpDir("wstream-src")
    val events = Tables.load(spark, sf(), "events")
    events.write.parquet(srcDir)
    val stream = Streams.parquetStream(spark, srcDir,
      spark.read.parquet(srcDir).schema)
    val agg = Streams.windowedCounts(stream, "ts", "event_type",
      "1 day", "90 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode emits only closed windows; the final (open) window is held
    // back, so totals are <= input count and strictly positive
    val emitted = spark.sql("SELECT sum(n) FROM win").collect()(0)
    assert(!emitted.isNullAt(0) && emitted.getLong(0) > 0)
    assert(emitted.getLong(0) <= events.count())
  }

  test("windowed counts accept a RAW corpus stream whatever its ts encoding") {
    // the round-7 incident path: stream the corpus events.parquet DIRECTLY
    // (no Tables.load normalization) — when that file carries TIMESTAMP_NTZ
    // micros, withWatermark without normalizeEventTime throws
    // EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE at analysis; the normalized path
    // must accept either encoding and produce the same totals as the
    // loader-normalized stream above
    val rawSchema = spark.read.parquet(s"${sf()}/events.parquet").schema
    assume(rawSchema("ts").dataType !=
      org.apache.spark.sql.types.LongType, // nanos-long corpora stream as
      "raw long ts streams are not event-time streams")  // longs — skip
    // byte-copy the corpus file into a dir (FileStreamSource needs a dir;
    // a Spark rewrite would re-encode and defeat the raw-encoding point)
    val rawDir = tmpDir("wstream-raw")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rawDir))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$rawDir/events-part0.parquet"))
    val stream = Streams.parquetStream(spark, rawDir, rawSchema)
    val agg = Streams.windowedCounts(stream, "ts", "event_type",
      "1 day", "90 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_raw")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.sql("SELECT sum(n) FROM win_raw").collect()(0)
    assert(!emitted.isNullAt(0) && emitted.getLong(0) > 0)
    assert(emitted.getLong(0) <= Tables.load(spark, sf(), "events").count())
  }

  test("mergeCdcDV sink: streamed CDC batches ≡ sequential batch merges; replay and fresh-checkpoint rerun are no-ops") {
    import graft.merge.{MergeSink, TxTable}
    val sq = spark.sqlContext; import sq.implicits._
    // CDC feed: inserts, an update, a tombstone, a re-keyed insert — in
    // three ordered micro-batches (one staged file per trigger)
    val batches = Seq(
      Seq((1L, "a1", 10.0, "U"), (2L, "b1", 20.0, "U"), (3L, "c1", 30.0, "U")),
      Seq((2L, "b2", 22.0, "U"), (4L, "d1", 40.0, "U"), (3L, "x", 0.0, "D")),
      Seq((5L, "e1", 50.0, "U"), (1L, "x", 0.0, "D"), (6L, "f1", 60.0, "U")))
    val schema = batches.head.toDF("k", "v", "w", "op").schema
    val flat = tmpDir("cdcdv-flat"); new java.io.File(flat).mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val one = tmpDir(s"cdcdv-b$i")
      b.toDF("k", "v", "w", "op").coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(flat, f"b$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    // baseline: the same tri-clause merge applied batch-by-batch (replace
    // engine) on a twin table
    val twin = tmpDir("cdcdv-twin")
    batches.foreach { b =>
      MergeSink.mergeIntoTx(spark, twin, b.toDF("k", "v", "w", "op"),
        Seq("k"), updateCols = Seq("v", "w"),
        matchedDeleteCond = Some(expr("s.op = 'D'")),
        insertCond = Some(expr("s.op <> 'D'")))
    }
    val dir = tmpDir("cdcdv-tgt"); val ck = tmpDir("cdcdv-ck")
    val sink = Streams.Sinks.mergeCdcDV(dir, "cdc-apply", Seq("k"),
      updateCols = Seq("v", "w"),
      matchedDeleteCond = Some(expr("s.op = 'D'")),
      insertCond = Some(expr("s.op <> 'D'")))
    def drain(checkpoint: String): Unit = {
      val q = Streams.toMergeSink(
        Streams.parquetStream(spark, flat, schema, maxFilesPerTrigger = 1),
        checkpoint, Trigger.AvailableNow())(sink)
      q.awaitTermination()
    }
    drain(ck)
    def state(d: String): Map[Long, (String, Double)] =
      TxTable.read(spark, d).get.select("k", "v", "w")
        .as[(Long, String, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(state(dir) == state(twin))
    assert(state(dir) == Map(2L -> (("b2", 22.0)), 4L -> (("d1", 40.0)),
      5L -> (("e1", 50.0)), 6L -> (("f1", 60.0))))
    // a FRESH checkpoint replays every batch: the txn marks make the
    // rerun a structural no-op — same rows, no new data commit
    val head = TxTable.headVersion(spark, dir)
    drain(tmpDir("cdcdv-ck2"))
    assert(TxTable.headVersion(spark, dir) == head)
    assert(state(dir) == state(twin))
  }
}
