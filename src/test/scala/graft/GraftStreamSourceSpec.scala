package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.merge.{MergeSink, Replicator, TxTable}

/** The commit log as a Structured Streaming SOURCE
  * (`spark.readStream.format("graft")`): version-ranged micro-batches,
  * rate limiting under Trigger.AvailableNow, appends/cdc modes, restart
  * from checkpoint, and streaming replication converging to
  * Replicator.sync's batch result. */
class GraftStreamSourceSpec extends SparkTestBase {

  private def df(ids: Range, tag: String): DataFrame = {
    val sq = spark.sqlContext; import sq.implicits._
    ids.map(i => (i.toLong, s"$tag-$i", i * 10.0)).toDF("id", "name", "score")
      .repartition(1)
  }

  private def contents(dir: String): Set[(Long, String, Double)] =
    TxTable.read(spark, dir).map(_.select("id", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet)
      .getOrElse(Set.empty)

  test("appends mode drains history + follows, one commit per batch under the rate limit") {
    val src = tmpDir("ss-src")
    TxTable.append(spark, src, df(1 to 10, "a"))
    TxTable.append(spark, src, df(11 to 20, "b"))
    TxTable.append(spark, src, df(21 to 30, "c"))

    val batches = mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerBatch", "1").load(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("ss-ck"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        batches.synchronized {
          batches += ((id, b.select("id").collect().map(_.getLong(0)).toSet))
        }; ()
      }.start()
    q.awaitTermination(120000)

    // three commits, rate limit 1 -> exactly three non-empty micro-batches
    val nonEmpty = batches.filter(_._2.nonEmpty)
    assert(nonEmpty.size == 3, batches.toString)
    assert(nonEmpty.map(_._2) == Seq((1L to 10L).toSet, (11L to 20L).toSet,
      (21L to 30L).toSet), batches.toString)
  }

  test("appends mode without a rate limit drains everything in one batch") {
    val src = tmpDir("ss-one")
    TxTable.append(spark, src, df(1 to 5, "a"))
    TxTable.append(spark, src, df(6 to 9, "b"))
    var n = 0L; var batches = 0
    val q = spark.readStream.format("graft").load(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("ss-one-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val c = b.count(); if (c > 0) { n += c; batches += 1 }; ()
      }.start()
    q.awaitTermination(120000)
    assert(n == 9 && batches == 1)
  }

  private def drainAppends(src: String, ck: String,
                           opts: Map[String, String] = Map.empty): Seq[Long] = {
    val seen = mutable.ArrayBuffer.empty[Long]
    val r0 = spark.readStream.format("graft")
    val q = opts.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }
      .load(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.awaitTermination(120000)
    seen.sorted.toSeq
  }

  test("appends mode fails loudly on removing commits; ignoreDeletes skips only delete-ONLY commits") {
    val src = tmpDir("ss-del")
    TxTable.append(spark, src, df(1 to 10, "a"))
    TxTable.deleteWhere(spark, src, col("id") > 8) // row-level REWRITE: 1-8 re-staged
    TxTable.append(spark, src, df(11 to 12, "b"))

    val e = intercept[StreamingQueryException] {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("ss-del-ck1"))
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
      q.awaitTermination(120000)
    }
    assert(e.getCause.getMessage.contains("removed or rewrote files"),
      e.getCause.getMessage)

    // ignoreDeletes must ALSO fail here: the rewrite re-added rows 1-8, and
    // skipping only the delete half would re-emit them as fresh inserts —
    // silent duplication downstream
    val e2 = intercept[StreamingQueryException] {
      drainAppends(src, tmpDir("ss-del-ck2"), Map("ignoreDeletes" -> "true"))
    }
    assert(e2.getCause.getMessage.contains("delete-only commits"),
      e2.getCause.getMessage)

    // skipChangeCommits consciously drops the whole rewrite version: only
    // the pure appends flow (1-10 from v1, 11-12 from v3) — exactly once
    assert(drainAppends(src, tmpDir("ss-del-ck3"),
      Map("skipChangeCommits" -> "true")) == (1L to 12L))
  }

  test("a deletion-vector commit is a rewrite to appends mode: loud without skipChangeCommits, skipped with") {
    val src = tmpDir("ss-dv")
    TxTable.append(spark, src, df(1 to 10, "a"))
    // MoR delete: no data file moves, but the touched file's LIVE rows
    // changed — the (path, dv) identity presents it as remove+add, so an
    // appends consumer must not silently re-emit or silently miss it
    TxTable.deleteWhereDV(spark, src, col("id") > 8)
    TxTable.append(spark, src, df(11 to 12, "b"))

    val e = intercept[StreamingQueryException] {
      drainAppends(src, tmpDir("ss-dv-ck1"), Map.empty)
    }
    assert(e.getCause.getMessage.contains("removed or rewrote files"),
      e.getCause.getMessage)
    // skipChangeCommits drops the dv version whole: pure appends flow,
    // and the v1 file is read WITHOUT the vector (its rows as appended)
    assert(drainAppends(src, tmpDir("ss-dv-ck2"),
      Map("skipChangeCommits" -> "true")) == (1L to 12L))
    // the cdc path handles it exactly (delete+insert pairs) — proven by
    // ReplicatorSpec's merge-on-read sync case; here just the shape:
    val ch = TxTable.readChanges(spark, src, 1L, Some(2L)).get
    assert(ch.filter(col("_change_type") === "delete").count() == 10 &&
      ch.filter(col("_change_type") === "insert").count() == 8)
  }

  test("ignoreDeletes skips a delete-only commit (whole file dropped, no survivors)") {
    val src = tmpDir("ss-delonly")
    TxTable.append(spark, src, df(1 to 10, "a"))
    TxTable.append(spark, src, df(11 to 20, "b"))
    // every row of batch b's file matches: nothing survives to re-add
    TxTable.deleteWhere(spark, src, col("id") >= 11)
    TxTable.append(spark, src, df(21 to 22, "c"))

    assert(drainAppends(src, tmpDir("ss-delonly-ck"),
      Map("ignoreDeletes" -> "true")) == ((1L to 20L) ++ Seq(21L, 22L)))
  }

  test("maintenance rewrites (dataChange=false) are invisible to every stream mode") {
    val src = tmpDir("ss-maint")
    TxTable.append(spark, src, df(1 to 10, "a").repartition(4))
    TxTable.append(spark, src, df(11 to 20, "b").repartition(4))
    // compaction rewrites all eight small files into one — same rows
    val st = TxTable.compactSmallFiles(spark, src)
    assert(st.filesPacked > 0)
    TxTable.append(spark, src, df(21 to 25, "c"))

    // appends mode, NO ignoreDeletes: the compaction commit must not trip
    // the removal guard nor re-emit the table — each row exactly once
    assert(drainAppends(src, tmpDir("ss-maint-ck")) == (1L to 25L))

    // the cdc feed likewise carries no churn from the compaction version
    val ch = TxTable.readChanges(spark, src, 0L).get
    assert(ch.filter(col("_change_type") === "delete").isEmpty)
    assert(ch.filter(col("_change_type") === "insert").count() == 25)
  }

  test("maxFilesPerBatch / maxBytesPerBatch bound batches by data, not commit count") {
    val src = tmpDir("ss-bytes")
    TxTable.append(spark, src, df(1 to 5, "a"))                  // 1 file
    TxTable.append(spark, src, df(6 to 45, "big").repartition(6)) // 6 files
    TxTable.append(spark, src, df(46 to 50, "c"))                // 1 file

    def batchSets(opts: Map[String, String], ck: String): Seq[Set[Long]] = {
      val batches = mutable.ArrayBuffer.empty[Set[Long]]
      val q = opts.foldLeft(spark.readStream.format("graft")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val s = b.select("id").collect().map(_.getLong(0)).toSet
          batches.synchronized { if (s.nonEmpty) batches += s }; ()
        }.start()
      q.awaitTermination(120000)
      batches.toSeq
    }

    // cap 2 files: v1 fits; v2 (6 files) exceeds but is the next batch's
    // FIRST data version so it flows alone; v3 lands in a third batch —
    // under maxVersionsPerBatch alone v1 would have merged with v2
    val byFiles = batchSets(Map("maxFilesPerBatch" -> "2"),
      tmpDir("ss-bytes-ck1"))
    assert(byFiles.size == 3, byFiles.toString)
    assert(byFiles(0) == (1L to 5L).toSet)
    assert(byFiles(1) == (6L to 45L).toSet)
    assert(byFiles(2) == (46L to 50L).toSet)

    // a 1-byte cap degrades to one data-bearing version per batch — the
    // oversized-commit guarantee (never wedge, always progress)
    val byBytes = batchSets(Map("maxBytesPerBatch" -> "1"),
      tmpDir("ss-bytes-ck2"))
    assert(byBytes.size == 3, byBytes.toString)
    assert(byBytes.map(_.size).sum == 50)
  }

  test("restart from checkpoint consumes only new commits, no duplicates") {
    val src = tmpDir("ss-restart")
    val ck = tmpDir("ss-restart-ck")
    TxTable.append(spark, src, df(1 to 10, "a"))
    TxTable.append(spark, src, df(11 to 20, "b"))

    val seen = mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (b: DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.select("id").collect().map(_.getLong(0)) }; ()
        }.start()
      q.awaitTermination(120000)
    }
    run()
    assert(seen.sorted == (1L to 20L))
    run() // caught up: nothing re-delivered
    assert(seen.sorted == (1L to 20L))
    TxTable.append(spark, src, df(21 to 25, "c"))
    run() // only the new commit arrives
    assert(seen.sorted == (1L to 25L))
  }

  test("cdc mode tags versions; streaming replication == Replicator.sync's batch result") {
    val src = tmpDir("ss-cdc-src")
    // v1: seed; v2: keyed upsert (update 3 rows + insert 2); v3: delete 4
    TxTable.append(spark, src, df(1 to 20, "a"))
    MergeSink.mergeIntoTx(spark, src,
      df(18 to 22, "upd"), Seq("id"), updateCols = Seq("name", "score"))
    TxTable.deleteWhere(spark, src, col("id") <= 4)

    // streamed replica: one micro-batch per commit
    val dstStream = tmpDir("ss-cdc-dst1")
    val q = Replicator.stream(spark, src, dstStream, Seq("id"),
      checkpointDir = tmpDir("ss-cdc-ck"),
      maxVersionsPerBatch = Some(1L))
    q.awaitTermination(120000)

    // batch replica built by the sync loop (snapshot at head)
    val dstSync = tmpDir("ss-cdc-dst2")
    Replicator.sync(spark, src, dstSync, Seq("id"))

    val expected = contents(src)
    assert(expected.nonEmpty && contents(dstStream) == expected)
    assert(contents(dstSync) == expected)
    // the streamed replica applied multiple epoch-marked merge commits
    assert(TxTable.headVersion(spark, dstStream).exists(_ >= 2))
    assert(Replicator.appliedVersion(spark, dstStream, Seq("id"))
      .contains(TxTable.headVersion(spark, src).get))

    // follow-up commits keep converging through the SAME checkpoint
    TxTable.append(spark, src, df(40 to 44, "late"))
    MergeSink.mergeIntoTx(spark, src, df(40 to 41, "fix"), Seq("id"),
      updateCols = Seq("name", "score"))
    val q2 = Replicator.stream(spark, src, dstStream, Seq("id"),
      checkpointDir = tmpDir("ss-cdc-ck") /* fresh ck also converges */)
    q2.awaitTermination(120000)
    Replicator.sync(spark, src, dstSync, Seq("id"))
    assert(contents(dstStream) == contents(src))
    assert(contents(dstSync) == contents(src))
  }

  test("readStream.table through the graft catalog rides the same V1 source") {
    val sq = org.apache.spark.sql.graftbridge.GraftBridge
      .withExtensions(spark, new GraftExtensions()(_))
    val root = tmpDir("ss-cat-root")
    sq.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    sq.conf.set("spark.sql.catalog.graft.root", root)
    sq.sql("CREATE NAMESPACE graft.db")
    TxTable.append(sq, s"$root/db/ev", {
      val c = sq.sqlContext; import c.implicits._
      (1 to 12).map(i => (i.toLong, s"e-$i")).toDF("id", "name").repartition(1)
    })

    val seen = mutable.Set.empty[Long]
    val q = sq.readStream.table("graft.db.ev")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("ss-cat-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.awaitTermination(120000)
    assert(seen == (1L to 12L).toSet)
  }

  test("startingVersion = head follows only future commits") {
    val src = tmpDir("ss-future")
    TxTable.append(spark, src, df(1 to 50, "old"))
    val head = TxTable.headVersion(spark, src).get
    TxTable.append(spark, src, df(51 to 55, "new"))

    val seen = mutable.Set.empty[Long]
    val q = spark.readStream.format("graft")
      .option("startingVersion", head.toString).load(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("ss-future-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.awaitTermination(120000)
    assert(seen == (51L to 55L).toSet)
  }

  test("startingTimestamp resolves to the newest commit <= ts; later commits stream") {
    val src = tmpDir("ss-ts")
    TxTable.append(spark, src, df(1 to 10, "old"))
    Thread.sleep(60)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(60)
    TxTable.append(spark, src, df(11 to 15, "new"))

    val seen = mutable.Set.empty[Long]
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", betweenMs.toString).load(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("ss-ts-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.awaitTermination(120000)
    assert(seen == (11L to 15L).toSet)

    // both boundary options together are refused
    val e = intercept[Exception] {
      spark.readStream.format("graft")
        .option("startingTimestamp", betweenMs.toString)
        .option("startingVersion", "0").load(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("ss-ts-ck2"))
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
        .awaitTermination(120000)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("not both")), msgs(e).toString)
  }
}
