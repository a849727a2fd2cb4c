package graft

import org.apache.spark.sql.functions._
import graft.merge.TxTable

/** Merge-on-read DELETE via deletion vectors — the write-amplification
  * escape hatch beside TxTable's copy-on-write `deleteWhere`: a delete
  * records `(file, position)` sidecar rows and one `dv` commit instead of
  * rewriting every touched file. The matrix here pins the interplay that
  * makes the feature trustworthy: reads (plain, time-travelled, skipped,
  * partitioned), merging a second delete into one ref per file, CoW
  * rewrites folding vectors in, the change feed presenting a dv commit
  * like a rewrite, purge restoring clean files silently, and vacuum /
  * compactLog retaining exactly the referenced sidecars. */
class DeleteVectorSpec extends SparkTestBase {
  import spark.implicits._

  private def build(dir: String, n: Int = 100, perFile: Int = 25): Unit = {
    // several appends so the live set spans files with disjoint id ranges
    (0 until n by perFile).foreach { lo =>
      TxTable.append(spark, dir,
        (lo until math.min(lo + perFile, n))
          .map(i => (i.toLong, s"u${i % 7}", i * 10L)).toDF("id", "user", "amt")
          .coalesce(1))
    }
  }

  private def ids(dir: String, asOf: Option[Long] = None): Seq[Long] =
    TxTable.read(spark, dir, asOf = asOf).get
      .select("id").as[Long].collect().sorted.toSeq

  private def livePaths(dir: String): Seq[String] =
    TxTable.liveFilePaths(spark, dir).sorted

  test("extension-less format(graft) read of a DV'd table warns exactly once per relation build, naming GraftExtensions") {
    val dir = tmpDir("dv-warn")
    build(dir)
    TxTable.deleteWhereDV(spark, dir, col("id") < 10)
    val c0 = graft.sql.GraftDataSource.dvFallbackWarnings.get()
    // bare session (no extensions): the V1 fallback is chosen -> ONE
    // warning per relation build, regardless of how many actions run on it
    val rel = spark.read.format("graft").load(dir)
    assert(rel.count() == 90 && rel.select("id").count() == 90)
    assert(graft.sql.GraftDataSource.dvFallbackWarnings.get() == c0 + 1,
      "one relation build must warn exactly once")
    // a second read builds a second relation -> one more
    assert(spark.read.format("graft").load(dir).count() == 90)
    assert(graft.sql.GraftDataSource.dvFallbackWarnings.get() == c0 + 2)
    // an extensions-enabled session swaps the plan — no warning
    val ext = org.apache.spark.sql.graftbridge.GraftBridge
      .withExtensions(spark, new GraftExtensions()(_))
    // force rule instantiation (registration happens when the analyzer
    // first builds the session's rules)
    ext.sql("SELECT 1").collect()
    assert(ext.read.format("graft").load(dir).count() == 90)
    assert(graft.sql.GraftDataSource.dvFallbackWarnings.get() == c0 + 2,
      "extensions-enabled sessions must not warn")
  }

  test("DV delete removes rows without rewriting any data file") {
    val dir = tmpDir("dv-basic")
    build(dir)
    val before = livePaths(dir)
    val st = TxTable.deleteWhereDV(spark, dir, col("id") % 10 === 3)
    assert(st.matchedRows == 10 && st.filesTouched == 4 && st.filesLive == 4)
    // merge-on-read promise: the data files never moved
    assert(livePaths(dir) == before)
    assert(ids(dir) == (0L until 100L).filterNot(_ % 10 == 3))
    // the rows are gone from aggregates too (no survivor duplication)
    assert(TxTable.read(spark, dir).get.agg(sum("amt")).as[Long].head() ==
      (0 until 100).filterNot(_ % 10 == 3).map(_ * 10L).sum)
  }

  test("second DV delete merges into one ref per file; time travel reads each version") {
    val dir = tmpDir("dv-merge")
    build(dir)
    val v0 = TxTable.headVersion(spark, dir).get
    TxTable.deleteWhereDV(spark, dir, col("id") < 10)
    val v1 = TxTable.headVersion(spark, dir).get
    val st2 = TxTable.deleteWhereDV(spark, dir, col("id") >= 10 && col("id") < 30)
    // second delete touches file 0 (ids 0-24) again and file 1 (25-49):
    // already-deleted ids 0-9 must not re-match
    assert(st2.matchedRows == 20 && st2.filesTouched == 2)
    assert(ids(dir) == (30L until 100L))
    assert(ids(dir, Some(v1)) == (10L until 100L))
    assert(ids(dir, Some(v0)) == (0L until 100L))
  }

  test("copy-on-write delete and update fold existing vectors in, never resurrect") {
    val dir = tmpDir("dv-cow")
    build(dir)
    TxTable.deleteWhereDV(spark, dir, col("id") === 7L)
    // CoW delete on the same file: survivors of BOTH deletes only
    val rs = TxTable.deleteWhere(spark, dir, col("id") === 8L)
    assert(rs.matchedRows == 1 && rs.filesRewritten == 1)
    assert(ids(dir) == (0L until 100L).filterNot(i => i == 7 || i == 8))
    // the rewritten file dropped its ref; an update elsewhere stays MoR-safe
    TxTable.deleteWhereDV(spark, dir, col("id") === 40L)
    TxTable.updateWhere(spark, dir, col("id") === 41L,
      Map("amt" -> lit(-1L)))
    val t = TxTable.read(spark, dir).get
    assert(t.filter(col("id") === 40L).isEmpty)
    assert(t.filter(col("amt") === -1L).select("id").as[Long].head() == 41L)
  }

  test("change feed presents a dv commit as delete+insert of the touched file") {
    val dir = tmpDir("dv-cdc")
    TxTable.append(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    val v1 = TxTable.headVersion(spark, dir).get
    TxTable.deleteWhereDV(spark, dir, col("id") === 2L)
    val ch = TxTable.readChanges(spark, dir, v1).get
      .select("id", "_change_type").as[(Long, String)].collect().toSeq
    // pre image = all 3 rows as deletes, post image = 2 survivors as inserts
    assert(ch.filter(_._2 == "delete").map(_._1).sorted == Seq(1L, 2L, 3L))
    assert(ch.filter(_._2 == "insert").map(_._1).sorted == Seq(1L, 3L))
    // keyed collapse: survivors re-tag as update pairs, the deleted row
    // stays a pure delete — the signed-delta contract consumers net on
    val keyed = TxTable.readChangesKeyed(spark, dir, Seq("id"), v1).get
      .select("id", "_change_type").as[(Long, String)].collect().toSeq
    assert(keyed.filter(_._1 == 2L).map(_._2) == Seq("delete"))
    assert(keyed.filter(_._1 == 1L).map(_._2).sorted ==
      Seq("update_postimage", "update_preimage"))
  }

  test("purgeDvs rewrites only files over the threshold, silently (dataChange=false)") {
    val dir = tmpDir("dv-purge")
    build(dir) // 4 files of 25 rows
    // file 0 loses 20/25 rows, file 2 loses 1/25
    TxTable.deleteWhereDV(spark, dir, col("id") < 20 || col("id") === 60L)
    val before = ids(dir)
    val vBefore = TxTable.headVersion(spark, dir).get
    val st = TxTable.purgeDvs(spark, dir, minDeletedFraction = 0.5)
    assert(st.filesPacked == 1) // only the 80%-deleted file
    assert(ids(dir) == before) // row-preserving
    // silent for the change feed, like compaction
    assert(TxTable.readChanges(spark, dir, vBefore).isEmpty)
    // full purge clears the rest; reads stay identical
    val st2 = TxTable.purgeDvs(spark, dir)
    assert(st2.filesPacked == 1)
    assert(ids(dir) == before)
    assert(!TxTable.hasLiveDvs(spark, dir))
    // idempotent once clean
    assert(TxTable.purgeDvs(spark, dir).filesPacked == 0)
  }

  test("vacuum reclaims superseded sidecars, keeps referenced ones, survives compactLog") {
    val dir = tmpDir("dv-vacuum")
    build(dir, n = 50, perFile = 25)
    TxTable.deleteWhereDV(spark, dir, col("id") === 1L) // sidecar S1
    TxTable.deleteWhereDV(spark, dir, col("id") === 2L) // S2 (file 0 ref moves S1->S2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvDirs: Seq[String] = {
      val dd = new org.apache.hadoop.fs.Path(dir, "data")
      fs.listStatus(dd).map(_.getPath.getName).filter(_.startsWith("dv-")).sorted.toSeq
    }
    assert(dvDirs.size == 2)
    val report = TxTable.vacuumReport(spark, dir, retainVersions = 1,
      dryRun = false)
    // S1 is unreferenced by the head live set -> reclaimed; S2 survives
    assert(report.batchDirs.count(_.startsWith("data/dv-")) == 1)
    assert(dvDirs.size == 1)
    assert(ids(dir) == (0L until 50L).filterNot(i => i == 1 || i == 2))
    // checkpoint the log: the ckpt must carry the ref, and the ghost scan
    // must not eat the live sidecar's part files
    TxTable.compactLog(spark, dir, retainVersions = 0)
    TxTable.vacuum(spark, dir, retainVersions = 1)
    assert(dvDirs.size == 1)
    assert(ids(dir) == (0L until 50L).filterNot(i => i == 1 || i == 2))
  }

  test("compactSmallFiles folds vectors; partitioned tables delete and prune correctly") {
    val dir = tmpDir("dv-part")
    // two appends per bucket so each fragment holds >= 2 packable files
    for (p <- 0 until 4; half <- 0 until 2) {
      TxTable.append(spark, dir,
        (half * 10 until half * 10 + 10)
          .map(i => (p, i.toLong + p * 100)).toDF("bucket", "id")
          .coalesce(1), partitionCols = Seq("bucket"))
    }
    val st = TxTable.deleteWhereDV(spark, dir, col("id") % 2 === 1)
    assert(st.matchedRows == 40)
    // partition-scoped read applies the vector
    val scoped = TxTable.read(spark, dir, Some(Set("bucket=2"))).get
    assert(scoped.count() == 10 &&
      scoped.agg(max(col("id") % 2)).head().getLong(0) == 0L)
    // compaction reads DV-applied rows and drops the refs on packed files
    val cs = TxTable.compactSmallFiles(spark, dir,
      targetBytes = 1L << 30, smallBytes = 1L << 30)
    assert(cs.filesPacked == 8)
    assert(!TxTable.hasLiveDvs(spark, dir))
    assert(TxTable.read(spark, dir).get.count() == 40)
  }

  test("updateWhereDV: old rows vectored out, transformed copies appended, one atomic commit") {
    val dir = tmpDir("dv-upd")
    build(dir)
    val before = livePaths(dir)
    val commits0 = TxTable.versions(spark, dir).size
    val st = TxTable.updateWhereDV(spark, dir, col("id") % 20 === 0,
      Map("amt" -> (col("amt") + 1L), "user" -> lit("bumped")))
    assert(st.matchedRows == 5 && st.filesTouched == 4)
    // exactly ONE commit; every pre-existing data file still live
    assert(TxTable.versions(spark, dir).size == commits0 + 1)
    assert(before.forall(livePaths(dir).contains))
    val t = TxTable.read(spark, dir).get
    assert(t.count() == 100) // no row lost or duplicated
    val bumped = t.filter(col("user") === "bumped")
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(bumped == (0 until 100 by 20).map(i => i.toLong -> (i * 10L + 1)).toMap)
    // untouched rows byte-identical
    assert(t.filter(col("id") === 1L).select("amt").as[Long].head() == 10L)
    // a second MoR update re-touching the same files merges vectors
    TxTable.updateWhereDV(spark, dir, col("user") === "bumped",
      Map("amt" -> lit(0L)))
    val t2 = TxTable.read(spark, dir).get
    assert(t2.count() == 100)
    assert(t2.filter(col("user") === "bumped").agg(sum("amt"))
      .as[Long].head() == 0L)
  }

  test("updateWhereDV: partition-column update restages the copy into its new fragment") {
    val dir = tmpDir("dv-upd-part")
    (0 until 2).foreach { p =>
      TxTable.append(spark, dir,
        (0 until 10).map(i => (p, i.toLong + p * 100)).toDF("bucket", "id")
          .coalesce(1), partitionCols = Seq("bucket"))
    }
    TxTable.updateWhereDV(spark, dir, col("id") === 3L,
      Map("bucket" -> lit(1)))
    val t = TxTable.read(spark, dir).get
    assert(t.count() == 20)
    assert(t.filter(col("id") === 3L).select("bucket").as[Int].head() == 1)
    // log-level partition scope agrees with the moved row
    assert(TxTable.read(spark, dir, Some(Set("bucket=1"))).get.count() == 11)
    assert(TxTable.read(spark, dir, Some(Set("bucket=0"))).get.count() == 9)
  }

  test("mergeIntoDV ≡ mergeIntoTx on the tri-clause CDC shape; zero files rewritten") {
    import graft.merge.MergeSink
    val txDir = tmpDir("dv-mrg-tx"); val dvDir = tmpDir("dv-mrg-dv")
    val base = (1 to 60).map(i => (i.toLong, s"v$i", i * 1.0))
      .toDF("k", "v", "w").repartition(3)
    TxTable.append(spark, txDir, base); TxTable.append(spark, dvDir, base)
    // CDC batch: tombstones (k%10=0), updates (k<=30), inserts (k>60),
    // a guarded insert that must NOT fire (op='D' on an absent key), and
    // retirement of dormant rows (k in 55..59 absent from source + cond)
    val src = ((1 to 30) ++ (55 to 70)).map { i =>
      (i.toLong, s"new$i", i * 2.0, if (i % 10 == 0) "D" else "U")
    }.toDF("k", "v", "w", "op")
    def run(dir: String, f: MergeSink.type => Unit): Unit = f(MergeSink)
    val args = (dir: String) => (spark, dir, src, Seq("k"), Seq("v", "w"))
    MergeSink.mergeIntoTx(spark, txDir, src, Seq("k"),
      updateCols = Seq("v", "w"),
      matchedDeleteCond = Some(expr("s.op = 'D'")),
      insertCond = Some(expr("s.op <> 'D'")),
      notMatchedBySourceDeleteCond = Some(expr("t.k BETWEEN 31 AND 40")))
    val before = livePaths(dvDir)
    MergeSink.mergeIntoDV(spark, dvDir, src, Seq("k"),
      updateCols = Seq("v", "w"),
      matchedDeleteCond = Some(expr("s.op = 'D'")),
      insertCond = Some(expr("s.op <> 'D'")),
      notMatchedBySourceDeleteCond = Some(expr("t.k BETWEEN 31 AND 40")))
    // merge-on-read: every original data file is still live (plus copies)
    assert(before.forall(livePaths(dvDir).contains))
    def snap(dir: String) = TxTable.read(spark, dir).get
      .select("k", "v", "w").as[(Long, String, Double)].collect().sorted.toSeq
    assert(snap(dvDir) == snap(txDir))
    // replay the same batch: both engines converge (idempotent algebra)
    MergeSink.mergeIntoDV(spark, dvDir, src, Seq("k"),
      updateCols = Seq("v", "w"),
      matchedDeleteCond = Some(expr("s.op = 'D'")),
      insertCond = Some(expr("s.op <> 'D'")))
    MergeSink.mergeIntoTx(spark, txDir, src, Seq("k"),
      updateCols = Seq("v", "w"),
      matchedDeleteCond = Some(expr("s.op = 'D'")),
      insertCond = Some(expr("s.op <> 'D'")))
    assert(snap(dvDir) == snap(txDir))
  }

  test("mergeIntoDV: divergent UPDATE/INSERT values via the side channel; first batch") {
    import graft.merge.MergeSink
    val dir = tmpDir("dv-mrg-side")
    // first batch on an empty table takes the insert-only path
    val b0 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "w")
    MergeSink.mergeIntoDV(spark, dir, b0, Seq("k"), updateCols = Seq("v", "w"))
    assert(TxTable.read(spark, dir).get.count() == 2)
    // UPDATE sets v='upd', INSERT sets v='ins' — side channel carries the
    // update value
    val b1 = Seq((2L, "ins", 2.0, "upd"), (3L, "ins", 3.0, "upd"))
      .toDF("k", "v", "w", "__upd_v")
    MergeSink.mergeIntoDV(spark, dir, b1, Seq("k"),
      updateCols = Seq("v", "w"),
      updateSources = Map("v" -> "__upd_v"))
    val m = TxTable.read(spark, dir).get.select("k", "v")
      .as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "a", 2L -> "upd", 3L -> "ins"))
  }

  test("OCC: a dv commit pinned to a stale head fails loudly; empty match commits nothing") {
    val dir = tmpDir("dv-occ")
    build(dir, n = 20, perFile = 10)
    val head = TxTable.headVersion(spark, dir).get
    TxTable.append(spark, dir, Seq((999L, "x", 0L)).toDF("id", "user", "amt"))
    intercept[TxTable.CommitConflictException] {
      TxTable.deleteWhereDV(spark, dir, col("id") === 1L,
        expectedHead = Some(head))
    }
    // no match -> no commit, no sidecar debris in the live set
    val v = TxTable.headVersion(spark, dir).get
    val st = TxTable.deleteWhereDV(spark, dir, col("id") === 12345L)
    assert(st.matchedRows == 0L)
    assert(TxTable.headVersion(spark, dir).get == v)
  }

  test("racing DV deletes: the loser's withRetry re-scan sees the winner's vector") {
    val dir = tmpDir("dv-race")
    build(dir, n = 40, perFile = 20)
    // two writers race overlapping deletes on the same files; OCC pins
    // each commit to its pre-scan head, so exactly one attempt per round
    // lands and the retry re-reads — the second delete's scan then runs
    // against the first's vector (already-deleted rows can't re-match,
    // counts stay exact)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val fa = Future(TxTable.withRetry() {
      TxTable.deleteWhereDV(spark, dir, col("id") % 4 === 0) })
    val fb = Future(TxTable.withRetry() {
      TxTable.deleteWhereDV(spark, dir, col("id") % 4 === 1) })
    val (sa, sb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    pool.shutdown()
    assert(sa.matchedRows == 10 && sb.matchedRows == 10)
    assert(ids(dir) == (0L until 40L).filterNot(i => i % 4 == 0 || i % 4 == 1))
    // per-file cardinality is the union, never double-counted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deleted = TxTable.read(spark, dir) // sanity via the TVF-equivalent
    assert(TxTable.hasLiveDvs(spark, dir))
    assert(deleted.get.count() == 20)
  }

  test("applyRowChanges with already-deleted positions: exact counts, no duplicate sidecar rows") {
    val dir = tmpDir("dv-resubmit")
    build(dir, n = 10, perFile = 10) // one file, positions 0..9
    val file = livePaths(dir).head
    def pairs(ps: Long*) = ps.map(p => (file, p)).toDF("file", "pos")
    val s1 = TxTable.applyRowChanges(spark, dir, pairs(0L, 1L, 2L), None)
    assert(s1.matchedRows == 3)
    // second call overlaps: pos 1,2 are ALREADY deleted (a caller not
    // derived from a DV-aware scan), pos 3 is new — and pos 4 arrives
    // twice in the same call. Newly deleted must be exactly {3, 4}.
    val s2 = TxTable.applyRowChanges(spark, dir,
      pairs(1L, 2L, 3L, 4L, 4L), None)
    assert(s2.matchedRows == 2, s"expected 2 newly deleted, got $s2")
    assert(ids(dir) == (5L until 10L))
    // the live DvRef's cardinality is the exact distinct union (drives
    // purgeDvs' deleted-fraction policy), and the sidecar holds no dups
    val entry = TxTable.liveEntriesForSql(spark, dir, None)
      .find(_.dv.isDefined).get
    assert(entry.dv.get.deleted == 5L, entry.dv)
    val sidecar = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, entry.dv.get.dir).toString)
    assert(sidecar.count() == 5 && sidecar.distinct().count() == 5)
    // purge folds exactly those five out
    TxTable.purgeDvs(spark, dir)
    assert(ids(dir) == (5L until 10L) && !TxTable.hasLiveDvs(spark, dir))
  }

  test("schema evolution: DV'd tables read declared columns; restore round-trips refs") {
    val dir = tmpDir("dv-evo")
    build(dir, n = 20, perFile = 10)
    TxTable.deleteWhereDV(spark, dir, col("id") === 5L)
    val vDel = TxTable.headVersion(spark, dir).get
    TxTable.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    val t = TxTable.read(spark, dir).get
    assert(t.columns.contains("note") && t.count() == 19)
    // RESTORE re-commits entries incl. their dv refs: same rows after
    TxTable.append(spark, dir, Seq((777L, "z", 1L)).toDF("id", "user", "amt"))
    TxTable.restore(spark, dir, vDel)
    assert(ids(dir) == (0L until 20L).filterNot(_ == 5))
    assert(TxTable.hasLiveDvs(spark, dir))
  }
}
