package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.merge.MergeSink

/** The four merge modes (SURVEY §2.10): semantics + the idempotency property
  * every mode must satisfy under 90 s-overlap replay (apply twice ≡ once). */
class MergeSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def snapshot(dir: String): Seq[(String, String, String)] =
    spark.read.parquet(dir).select("k", "status", "note")
      .as[(String, String, String)].collect().toSeq.sortBy(_._1)

  test("M1 upsertPartial: mutable cols overwritten, immutable keep first-seen") {
    val dir = tmpDir("m1")
    val b1 = Seq(("a", "open", "created-a"), ("b", "open", "created-b"))
      .toDF("k", "status", "note")
    MergeSink.upsertPartial(spark, dir, b1, Seq("k"), Seq("status"))
    val b2 = Seq(("a", "closed", "SHOULD-NOT-REPLACE"), ("c", "open", "created-c"))
      .toDF("k", "status", "note")
    MergeSink.upsertPartial(spark, dir, b2, Seq("k"), Seq("status"))
    assert(snapshot(dir) == Seq(
      ("a", "closed", "created-a"),   // status updated, note immutable
      ("b", "open", "created-b"),     // untouched
      ("c", "open", "created-c")))    // inserted
    // idempotency: replaying b2 changes nothing
    MergeSink.upsertPartial(spark, dir, b2, Seq("k"), Seq("status"))
    assert(snapshot(dir) == Seq(("a", "closed", "created-a"),
      ("b", "open", "created-b"), ("c", "open", "created-c")))
  }

  test("M1 partial update applies batch NULLs to mutable cols (SET c = EXCLUDED.c)") {
    val dir = tmpDir("m1null")
    val b1 = Seq(("a", "open", "n1")).toDF("k", "status", "note")
    MergeSink.upsertPartial(spark, dir, b1, Seq("k"), Seq("status"))
    val b2 = Seq(("a", null: String, "nX")).toDF("k", "status", "note")
    MergeSink.upsertPartial(spark, dir, b2, Seq("k"), Seq("status"))
    val r = spark.read.parquet(dir).collect()(0)
    assert(r.getAs[String]("status") == null)
    assert(r.getAs[String]("note") == "n1")
  }

  test("M2 scd2: close-out flips is_current, invariant holds, replay converges") {
    val dir = tmpDir("m2")
    def row(id: String, entity: String, endAt: Option[String], cur: Boolean) =
      (id, entity, endAt.orNull, cur)
    // v1 arrives current
    val b1 = Seq(row("v1", "e1", None, cur = true))
      .toDF("source_id", "entity", "version_ended_at", "is_current_version")
    MergeSink.scd2(spark, dir, b1, "source_id",
      Seq("version_ended_at", "is_current_version"))
    // v2 arrives: source closed v1 (end_at set) and opened v2
    val b2 = Seq(
      row("v1", "e1", Some("2024-01-02 00:00:00"), cur = false),
      row("v2", "e1", None, cur = true))
      .toDF("source_id", "entity", "version_ended_at", "is_current_version")
    MergeSink.scd2(spark, dir, b2, "source_id",
      Seq("version_ended_at", "is_current_version"))
    val t = spark.read.parquet(dir)
    assert(t.count() == 2)
    assert(t.filter(col("is_current_version")).select("source_id").as[String].head() == "v2")
    assert(MergeSink.scd2Violations(t, Seq("entity"), "is_current_version").isEmpty)
    // overlap replay of b2
    MergeSink.scd2(spark, dir, b2, "source_id",
      Seq("version_ended_at", "is_current_version"))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("M3 insertIfAbsent: conflicts dropped, facts never change") {
    val dir = tmpDir("m3")
    val b1 = Seq(("r1", 1.0), ("r2", 2.0)).toDF("k", "v")
    MergeSink.insertIfAbsent(spark, dir, b1, Seq("k"))
    val b2 = Seq(("r2", 999.0), ("r3", 3.0)).toDF("k", "v")
    MergeSink.insertIfAbsent(spark, dir, b2, Seq("k"))
    val got = spark.read.parquet(dir).as[(String, Double)].collect().toMap
    assert(got == Map("r1" -> 1.0, "r2" -> 2.0, "r3" -> 3.0)) // r2 kept original
    MergeSink.insertIfAbsent(spark, dir, b2, Seq("k"))        // replay
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("M4 appendDedup: within-batch and cross-batch dedup on source_key") {
    val dir = tmpDir("m4")
    val b = Seq(("SC_1", "x"), ("SC_1", "x"), ("SC_2", "y")).toDF("source_key", "payload")
    MergeSink.appendDedup(spark, dir, b, "source_key")
    assert(spark.read.parquet(dir).count() == 2)
    MergeSink.appendDedup(spark, dir, b, "source_key")
    assert(spark.read.parquet(dir).count() == 2)
  }

  // ---- partition-scoped merge + crash-atomic swap --------------------

  private val scheme = MergeSink.PartitionScheme.keyHash(Seq("k"), 8)

  /** (relative path, length, mtime) of every parquet data file under dir. */
  private def fileState(dir: String): Set[(String, Long, Long)] = {
    val base = new java.io.File(dir).toPath
    val out = scala.collection.mutable.Set[(String, Long, Long)]()
    java.nio.file.Files.walk(base).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        out += ((base.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
    }
    out.toSet
  }

  test("scoped upsert rewrites ONLY touched partitions; untouched files byte-identical") {
    val dir = tmpDir("scoped")
    val init = (1 to 100).map(i => (s"k$i", "open", s"note-$i")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, init, Seq("k"), Seq("status"), scheme)
    val before = fileState(dir)
    assert(before.map(_._1.split('/').head).size >= 2) // really partitioned

    // one-key batch: touches exactly one bucket
    val b = Seq(("k7", "closed", "IGNORED")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, b, Seq("k"), Seq("status"), scheme)
    val after = fileState(dir)

    val touchedBucket = spark.range(1).select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.lit("k7")),
        org.apache.spark.sql.functions.lit(8L)).cast("int")).head().getInt(0)
    val untouchedBefore = before.filterNot(_._1.startsWith(s"part_bucket=$touchedBucket/"))
    val untouchedAfter = after.filterNot(_._1.startsWith(s"part_bucket=$touchedBucket/"))
    assert(untouchedAfter == untouchedBefore) // same files, sizes, mtimes
    assert(untouchedAfter.nonEmpty)

    // semantics identical to the unscoped merge
    val got = spark.read.parquet(dir).select("k", "status", "note")
      .as[(String, String, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got("k7") == ("closed", "note-7"))
    assert(got("k8") == ("open", "note-8"))
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("scoped upsert is idempotent under overlap replay") {
    val dir = tmpDir("scopedreplay")
    val init = (1 to 40).map(i => (s"k$i", "open", s"n$i")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, init, Seq("k"), Seq("status"), scheme)
    val b = Seq(("k3", "closed", "X"), ("k41", "open", "n41")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, b, Seq("k"), Seq("status"), scheme)
    val snap1 = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    MergeSink.upsertPartialScoped(spark, dir, b, Seq("k"), Seq("status"), scheme)
    val snap2 = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(snap1 == snap2 && snap1.length == 41)
  }

  test("scoped upsert migrates a legacy unpartitioned target in one rewrite") {
    val dir = tmpDir("scopedmigrate")
    val init = Seq(("a", "open", "n1")).toDF("k", "status", "note")
    MergeSink.upsertPartial(spark, dir, init, Seq("k"), Seq("status")) // legacy layout
    val b = Seq(("a", "closed", "X"), ("b", "open", "n2")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, b, Seq("k"), Seq("status"), scheme)
    val t = spark.read.parquet(dir)
    assert(t.columns.contains("part_bucket"))
    assert(t.count() == 2)
    val got = t.select("k", "status", "note").as[(String, String, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got("a") == ("closed", "n1"))
  }

  test("recover restores a table stranded mid writeReplace swap (live missing, __bak present)") {
    val dir = tmpDir("crashswap")
    val init = Seq(("a", "open", "n1")).toDF("k", "status", "note")
    MergeSink.upsertPartial(spark, dir, init, Seq("k"), Seq("status"))
    // simulate the crash window: live renamed aside, replacement never landed
    val f = new java.io.File(dir)
    assert(f.renameTo(new java.io.File(dir + "__bak")))
    assert(!new java.io.File(dir).exists())
    val restored = MergeSink.readTarget(spark, dir) // recovery path
    assert(restored.isDefined && restored.get.count() == 1)
    assert(!new java.io.File(dir + "__bak").exists())
  }

  test("scoped upsert with a byDate scheme rewrites only the batch's dates") {
    val dateScheme = MergeSink.PartitionScheme.byDate("at")
    val dir = tmpDir("scopeddate")
    val init = (1 to 30).map(i =>
      (s"k$i", "open", f"2024-01-${1 + i % 3}%02d 00:00:00"))
      .toDF("k", "status", "at").withColumn("at", col("at").cast("timestamp"))
    MergeSink.upsertPartialScoped(spark, dir, init, Seq("k"), Seq("status"), dateScheme)
    val before = fileState(dir)
    // batch touches only 2024-01-02 (k1 -> 1 % 3 = 1 -> day 02)
    val b = Seq(("k1", "closed", "2024-01-02 00:00:00")).toDF("k", "status", "at")
      .withColumn("at", col("at").cast("timestamp"))
    MergeSink.upsertPartialScoped(spark, dir, b, Seq("k"), Seq("status"), dateScheme)
    val after = fileState(dir)
    val untouchedB = before.filterNot(_._1.startsWith("part_date=2024-01-02/"))
    val untouchedA = after.filterNot(_._1.startsWith("part_date=2024-01-02/"))
    assert(untouchedA == untouchedB && untouchedA.nonEmpty)
    val got = spark.read.parquet(dir).select("k", "status")
      .as[(String, String)].collect().toMap
    assert(got("k1") == "closed" && got("k2") == "open" && got.size == 30)
  }

  test("changing the partition scheme triggers a full migration, never duplicates") {
    val dir = tmpDir("scopedresize")
    val init = (1 to 60).map(i => (s"k$i", "open", s"n$i")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, init, Seq("k"), Seq("status"),
      MergeSink.PartitionScheme.keyHash(Seq("k"), 4))
    // ops resizes the bucket count: pruning under the old layout would merge
    // against the wrong partitions and leave stale duplicates
    val b = Seq(("k7", "closed", "X")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, b, Seq("k"), Seq("status"),
      MergeSink.PartitionScheme.keyHash(Seq("k"), 16))
    val t = spark.read.parquet(dir)
    assert(t.count() == 60) // no duplicated keys
    assert(t.filter(col("k") === "k7").select("status").as[String].head() == "closed")
    assert(t.select(col("part_bucket")).distinct().count() > 4) // new layout live
  }

  test("scoped byDate merge keeps existing rows in the null partition") {
    val dateScheme = MergeSink.PartitionScheme.byDate("at")
    val dir = tmpDir("scopednull")
    val init = Seq(("k1", "open", Some("2024-01-02 00:00:00")),
        ("k2", "open", None), ("k3", "open", None))
      .toDF("k", "status", "at").withColumn("at", col("at").cast("timestamp"))
    MergeSink.upsertPartialScoped(spark, dir, init, Seq("k"), Seq("status"), dateScheme)
    // a later null-dated batch must merge WITH the null partition, not
    // replace it wholesale
    val b = Seq(("k2", "closed", None: Option[String]))
      .toDF("k", "status", "at").withColumn("at", col("at").cast("timestamp"))
    MergeSink.upsertPartialScoped(spark, dir, b, Seq("k"), Seq("status"), dateScheme)
    val got = spark.read.parquet(dir).select("k", "status")
      .as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "open", "k2" -> "closed", "k3" -> "open"))
  }

  test("recover restores partitions stranded in __pbak mid scoped swap") {
    val dir = tmpDir("crashpart")
    val init = (1 to 50).map(i => (s"k$i", "open", s"n$i")).toDF("k", "status", "note")
    MergeSink.upsertPartialScoped(spark, dir, init, Seq("k"), Seq("status"), scheme)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part_bucket="))
    assert(parts.length >= 2)
    // simulate: one live partition moved aside, crash before tmp moved in
    val victim = parts.head
    val pbak = new java.io.File(dir + "__pbak")
    assert(pbak.mkdirs())
    assert(victim.renameTo(new java.io.File(pbak, victim.getName)))
    val restored = MergeSink.readTarget(spark, dir)
    assert(restored.isDefined && restored.get.count() == 50) // nothing lost
    assert(!pbak.exists())
  }

  test("latestPerKey picks newest by orderCols for within-batch upserts") {
    val b = Seq(("a", "old", "2024-01-01 00:00:00"), ("a", "new", "2024-01-02 00:00:00"))
      .toDF("k", "v", "at")
    val got = MergeSink.latestPerKey(b, Seq("k"), Seq("at")).select("v").as[String].collect()
    assert(got.toSeq == Seq("new"))
  }

  test("mergeInto: tri-clause MERGE — CDC tombstones delete, updates apply, inserts land, absent rows retire conditionally") {
    val dir = tmpDir("merge-full")
    // target: op column is part of the row shape (source must carry all cols)
    val t0 = Seq(("a", "open", "n-a", "U"), ("b", "open", "n-b", "U"),
      ("c", "stale", "n-c", "U"), ("d", "stale", "n-d", "U"))
      .toDF("k", "status", "note", "op")
    MergeSink.writeReplace(spark, dir, t0)
    // CDC batch: delete a (tombstone), update b, insert e; c/d absent
    val batch = Seq(("a", "whatever", "x", "D"), ("b", "closed", "x", "U"),
      ("e", "open", "n-e", "U")).toDF("k", "status", "note", "op")
    def applyBatch(): Unit = MergeSink.mergeInto(spark, dir, batch, Seq("k"),
      updateCols = Seq("status"),
      matchedDeleteCond = Some(col("s.op") === "D"),
      insertNotMatched = true,
      // the tombstone guard: without it a REPLAYED delete for an
      // already-deleted key arrives source-only and resurrects the row
      insertCond = Some(col("s.op") =!= "D"),
      // retire rows missing from the source ONLY if already stale AND not 'd'
      notMatchedBySourceDeleteCond =
        Some(col("t.status") === "stale" && col("t.k") =!= "d"))
    applyBatch()
    assert(snapshot(dir) == Seq(
      ("b", "closed", "n-b"),   // matched update: status from source, note kept
      ("d", "stale", "n-d"),    // not-matched-by-source, condition false → kept
      ("e", "open", "n-e")))    // inserted
    // a deleted by tombstone; c retired by the not-matched-by-source clause

    // replaying the same batch: a's tombstone is source-only but guarded,
    // b's update idempotent, e re-matches with identical values —
    // converged state is unchanged
    applyBatch()
    assert(snapshot(dir) == Seq(
      ("b", "closed", "n-b"), ("d", "stale", "n-d"), ("e", "open", "n-e")))
  }

  test("mergeInto: insertNotMatched=false drops source-only rows; null conditions mean keep") {
    val dir = tmpDir("merge-noins")
    MergeSink.writeReplace(spark, dir,
      Seq(("a", "open", "n-a", "U")).toDF("k", "status", "note", "op"))
    val batch = Seq(("a", "closed", "x", null.asInstanceOf[String]),
      ("z", "open", "n-z", "U")).toDF("k", "status", "note", "op")
    MergeSink.mergeInto(spark, dir, batch, Seq("k"),
      updateCols = Seq("status"),
      // s.op === "D" is NULL for a's row: three-valued logic → don't delete
      matchedDeleteCond = Some(col("s.op") === "D"),
      insertNotMatched = false)
    assert(snapshot(dir) == Seq(("a", "closed", "n-a"))) // z not inserted
  }

  test("mergeIntoTx matches the rename-mode result and replays idempotently") {
    import graft.merge.TxTable
    val txDir = tmpDir("merge-tx"); val fsDir = tmpDir("merge-fs")
    val t0 = Seq(("a", "open", "n-a", "U"), ("b", "open", "n-b", "U"))
      .toDF("k", "status", "note", "op")
    MergeSink.writeReplace(spark, fsDir, t0)
    TxTable.replace(spark, txDir, t0)
    val batch = Seq(("a", "x", "x", "D"), ("c", "open", "n-c", "U"))
      .toDF("k", "status", "note", "op")
    for (_ <- 1 to 2) { // includes a replay
      MergeSink.mergeInto(spark, fsDir, batch, Seq("k"), Seq("status"),
        matchedDeleteCond = Some(col("s.op") === "D"),
        insertCond = Some(col("s.op") =!= "D"))
      MergeSink.mergeIntoTx(spark, txDir, batch, Seq("k"), Seq("status"),
        matchedDeleteCond = Some(col("s.op") === "D"),
        insertCond = Some(col("s.op") =!= "D"))
    }
    val fromTx = TxTable.read(spark, txDir).get.select("k", "status", "note")
      .as[(String, String, String)].collect().toSeq.sortBy(_._1)
    assert(fromTx == snapshot(fsDir))
    assert(fromTx == Seq(("b", "open", "n-b"), ("c", "open", "n-c")))
  }

  test("rename-mode sinks refuse a directory that holds a TxTable log") {
    import graft.merge.TxTable
    val dir = tmpDir("tx-guard")
    val rows = Seq(("a", "open", "n-a"), ("b", "open", "n-b"))
      .toDF("k", "status", "note")
    MergeSink.mergeIntoTx(spark, dir, rows, Seq("k"), Seq("status"))
    val batch = Seq(("b", "closed", "n-b"), ("c", "open", "n-c"))
      .toDF("k", "status", "note")
    intercept[IllegalStateException](MergeSink.upsertPartialScoped(spark, dir,
      batch, Seq("k"), Seq("status"), MergeSink.PartitionScheme.keyHash(Seq("k"), 4)))
    intercept[IllegalStateException](
      MergeSink.insertIfAbsent(spark, dir, batch, Seq("k")))
    intercept[IllegalStateException](
      MergeSink.compactIfNeeded(spark, dir, maxFiles = 0, targetPartitions = 1))
    intercept[IllegalStateException](MergeSink.writeReplace(spark, dir, batch))
    intercept[IllegalStateException](
      graft.streaming.Streams.Sinks.distinctFold(dir, "k", "status")(spark, batch, 0L))
    assert(TxTable.read(spark, dir).get.select("k", "status", "note")
      .as[(String, String, String)].collect().toSeq.sortBy(_._1) ==
      Seq(("a", "open", "n-a"), ("b", "open", "n-b")))
  }
}
