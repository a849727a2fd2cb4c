package graft

import org.apache.spark.sql.functions._
import graft.merge.{MergeSink, TxTable}

/** Commit-log table format: atomicity without renames-of-live-data.
  * Mirrors MergeSinkSpec's crash-recovery coverage — here the "recovery"
  * assertion is stronger: there is nothing to recover, because uncommitted
  * state is never visible. */
class TxTableSpec extends SparkTestBase {
  import spark.implicits._

  private val scheme = MergeSink.PartitionScheme.keyHash(Seq("k"), 8)

  private def snapshot(dir: String): Map[String, (String, String)] =
    TxTable.read(spark, dir).get.select("k", "status", "note")
      .as[(String, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap

  test("M1 as mergeIntoTx matches rename-mode upsertPartial exactly") {
    val txDir = tmpDir("tx-m1"); val fsDir = tmpDir("fs-m1")
    val b1 = Seq(("a", "open", "created-a"), ("b", "open", "created-b"))
      .toDF("k", "status", "note")
    val b2 = Seq(("a", "closed", "SHOULD-NOT-REPLACE"), ("c", "open", "created-c"))
      .toDF("k", "status", "note")
    for (b <- Seq(b1, b2, b2)) { // includes an overlap replay
      MergeSink.mergeIntoTx(spark, txDir, b, Seq("k"), Seq("status"))
      MergeSink.upsertPartial(spark, fsDir, b, Seq("k"), Seq("status"))
    }
    val fromFs = spark.read.parquet(fsDir).select("k", "status", "note")
      .as[(String, String, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(snapshot(txDir) == fromFs)
    assert(snapshot(txDir)("a") == ("closed", "created-a"))
  }

  test("M2 as mergeIntoTx: close-out flips is_current, replay converges") {
    val dir = tmpDir("tx-m2")
    def row(id: String, ended: Option[String], cur: Boolean) =
      (id, "e1", ended.orNull, cur)
    val cols = Seq("source_id", "entity", "version_ended_at", "is_current_version")
    val b1 = Seq(row("v1", None, cur = true)).toDF(cols: _*)
    MergeSink.mergeIntoTx(spark, dir, b1, Seq("source_id"),
      Seq("version_ended_at", "is_current_version"))
    val b2 = Seq(
      row("v1", Some("2024-01-02 00:00:00"), cur = false),
      row("v2", None, cur = true)).toDF(cols: _*)
    MergeSink.mergeIntoTx(spark, dir, b2, Seq("source_id"),
      Seq("version_ended_at", "is_current_version"))
    MergeSink.mergeIntoTx(spark, dir, b2, Seq("source_id"),
      Seq("version_ended_at", "is_current_version")) // replay
    val t = TxTable.read(spark, dir).get
    assert(t.count() == 2)
    assert(t.filter(col("is_current_version")).select("source_id")
      .as[String].head() == "v2")
    assert(MergeSink.scd2Violations(t, Seq("entity"), "is_current_version").isEmpty)
  }

  test("scoped Tx upsert: untouched partitions' files never touched, semantics exact") {
    val dir = tmpDir("tx-scoped")
    val init = (1 to 100).map(i => (s"k$i", "open", s"note-$i"))
      .toDF("k", "status", "note")
    MergeSink.upsertPartialScopedTx(spark, dir, init, Seq("k"), Seq("status"), scheme)

    def files(d: String): Set[(String, Long, Long)] = {
      val base = new java.io.File(d).toPath
      val out = scala.collection.mutable.Set[(String, Long, Long)]()
      java.nio.file.Files.walk(base).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out += ((base.relativize(p).toString, java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
      }
      out.toSet
    }
    val before = files(dir)

    val b = Seq(("k7", "closed", "IGNORED")).toDF("k", "status", "note")
    MergeSink.upsertPartialScopedTx(spark, dir, b, Seq("k"), Seq("status"), scheme)
    val after = files(dir)

    // every pre-existing file is still there, byte- and mtime-identical:
    // replacePartitions only ADDS files + a log entry (stale ones wait for
    // vacuum) — strictly stronger than the rename-swap's guarantee
    assert(before.subsetOf(after))
    assert(after.size > before.size)

    val got = snapshot(dir)
    assert(got("k7") == ("closed", "note-7"))
    assert(got("k8") == ("open", "note-8"))
    assert(TxTable.read(spark, dir).get.count() == 100)

    // replay converges
    MergeSink.upsertPartialScopedTx(spark, dir, b, Seq("k"), Seq("status"), scheme)
    assert(snapshot(dir) == got)
  }

  test("scheme change migrates scoped Tx table via one full rewrite") {
    val dir = tmpDir("tx-migrate")
    val init = (1 to 20).map(i => (s"k$i", "open", s"n$i")).toDF("k", "status", "note")
    MergeSink.upsertPartialScopedTx(spark, dir, init, Seq("k"), Seq("status"), scheme)
    val resized = MergeSink.PartitionScheme.keyHash(Seq("k"), 16)
    val b = Seq(("k3", "closed", "X")).toDF("k", "status", "note")
    MergeSink.upsertPartialScopedTx(spark, dir, b, Seq("k"), Seq("status"), resized)
    assert(TxTable.currentScheme(spark, dir).contains(resized.descriptor))
    val got = snapshot(dir)
    assert(got.size == 20 && got("k3") == ("closed", "n3"))
  }

  test("crash window: uncommitted staging and tmp log files are invisible; vacuum reclaims") {
    val dir = tmpDir("tx-crash")
    MergeSink.mergeIntoTx(spark, dir,
      Seq(("a", "open", "n1")).toDF("k", "status", "note"), Seq("k"), Seq("status"))
    val committed = snapshot(dir)

    // simulate a writer that died after staging data but before the log
    // rename: parquet files exist under data/, no commit references them
    Seq(("zz", "GHOST", "GHOST")).toDF("k", "status", "note")
      .write.parquet(s"$dir/data/b-orphan-crash")
    // ...and one that died mid-log-write
    val tmpLog = java.nio.file.Paths.get(s"$dir/_graft_log/.tmp-crashed")
    java.nio.file.Files.write(tmpLog, "action\treplace\n".getBytes)

    assert(snapshot(dir) == committed)          // readers never see either
    assert(TxTable.vacuum(spark, dir) == 1)     // orphan staging reclaimed
    assert(!new java.io.File(s"$dir/data/b-orphan-crash").exists())
    assert(snapshot(dir) == committed)

    // vacuum also drops batches superseded by a later replace
    MergeSink.mergeIntoTx(spark, dir,
      Seq(("a", "closed", "X")).toDF("k", "status", "note"), Seq("k"), Seq("status"))
    assert(TxTable.vacuum(spark, dir) >= 1)
    assert(snapshot(dir)("a") == ("closed", "n1"))
  }

  test("compactLog squashes history without touching data; reads unchanged") {
    val dir = tmpDir("tx-logcompact")
    for (i <- 1 to 5)
      TxTable.append(spark, dir, Seq((s"r$i", i.toDouble)).toDF("k", "v"))
    val before = TxTable.read(spark, dir).get.as[(String, Double)].collect().toSet
    TxTable.compactLog(spark, dir)
    val logs = new java.io.File(s"$dir/_graft_log").listFiles()
      .filter(_.getName.endsWith(".commit"))
    assert(logs.length == 1)
    assert(TxTable.read(spark, dir).get.as[(String, Double)].collect().toSet == before)
    // still writable after compaction
    TxTable.append(spark, dir, Seq(("r9", 9.0)).toDF("k", "v"))
    assert(TxTable.read(spark, dir).get.count() == 6)
  }

  test("randomized op sequence matches an in-memory model, incl. time travel") {
    val dir = tmpDir("tx-model")
    val rnd = new scala.util.Random(7)
    var nextK = 0L
    def rows(n: Int): Seq[(Long, Double, Int)] =
      (1 to n).map { _ => nextK += 1; (nextK, rnd.nextDouble(), rnd.nextInt(4)) }
    def df(rs: Seq[(Long, Double, Int)]) = rs.toDF("k", "v", "p")

    var model = Set.empty[(Long, Double, Int)]
    val history = Seq.newBuilder[(Long, Set[(Long, Double, Int)])]
    def readSet(asOf: Option[Long] = None): Set[(Long, Double, Int)] =
      TxTable.read(spark, dir, asOf = asOf)
        .map(_.select("k", "v", "p").as[(Long, Double, Int)].collect().toSet)
        .getOrElse(Set.empty)

    for (_ <- 1 to 24) {
      rnd.nextInt(3) match {
        case 0 =>
          val rs = rows(1 + rnd.nextInt(5))
          TxTable.replace(spark, dir, df(rs), Seq("p"))
          model = rs.toSet
        case 1 =>
          val rs = rows(1 + rnd.nextInt(5))
          TxTable.append(spark, dir, df(rs), Seq("p"))
          model = model ++ rs
        case 2 =>
          val rs = rows(1 + rnd.nextInt(5))
          val touched = rs.map(_._3).toSet
          TxTable.replacePartitions(spark, dir, df(rs), "p")
          model = model.filterNot(r => touched(r._3)) ++ rs
      }
      assert(readSet() == model)
      history += ((TxTable.versions(spark, dir).last, model))
    }
    // every historical version time-travels back exactly (nothing vacuumed)
    for ((v, snap) <- history.result())
      assert(readSet(asOf = Some(v)) == snap, s"time travel to v$v diverged")
  }

  test("randomized model WITH row-level rewrites: delete/update/pack interleave with writes; time travel and restore stay exact") {
    val dir = tmpDir("tx-model-rw")
    val rnd = new scala.util.Random(11)
    var nextK = 0L
    def rows(n: Int): Seq[(Long, Double, Int)] =
      (1 to n).map { _ => nextK += 1
        (nextK, rnd.nextInt(1000).toDouble, rnd.nextInt(3)) }
    def df(rs: Seq[(Long, Double, Int)]) = rs.toDF("k", "v", "p")
    var model = Set.empty[(Long, Double, Int)]
    val history = Seq.newBuilder[(Long, Set[(Long, Double, Int)])]
    def readSet(asOf: Option[Long] = None): Set[(Long, Double, Int)] =
      TxTable.read(spark, dir, asOf = asOf)
        .map(_.select("k", "v", "p").as[(Long, Double, Int)].collect().toSet)
        .getOrElse(Set.empty)

    for (i <- 1 to 24) {
      rnd.nextInt(6) match {
        case 0 =>
          val rs = rows(1 + rnd.nextInt(5))
          TxTable.replace(spark, dir, df(rs), Seq("p"))
          model = rs.toSet
        case 1 =>
          val rs = rows(1 + rnd.nextInt(5))
          TxTable.append(spark, dir, df(rs), Seq("p"))
          model = model ++ rs
        case 2 =>
          val rs = rows(1 + rnd.nextInt(5))
          val touched = rs.map(_._3).toSet
          TxTable.replacePartitions(spark, dir, df(rs), "p")
          model = model.filterNot(r => touched(r._3)) ++ rs
        case 3 if model.nonEmpty => // row-level delete of a (range, fragment)
          val ks = model.map(_._1).toSeq.sorted
          val cut = ks(rnd.nextInt(ks.size)); val pr = rnd.nextInt(3)
          TxTable.deleteWhere(spark, dir, col("k") <= cut && col("p") === pr)
          model = model.filterNot(r => r._1 <= cut && r._3 == pr)
        case 4 if model.nonEmpty => // row-level update of one key
          val ks = model.map(_._1).toSeq.sorted
          val target = ks(rnd.nextInt(ks.size))
          TxTable.updateWhere(spark, dir, col("k") === target,
            Map("v" -> (col("v") + lit(1000.0))))
          model = model.map(r =>
            if (r._1 == target) (r._1, r._2 + 1000.0, r._3) else r)
        case 5 => // pure layout op: packing must never change contents
          TxTable.compactSmallFiles(spark, dir,
            targetBytes = 1L << 20, smallBytes = 1L << 20)
        case _ => // delete/update drawn on an empty model: no-op round
      }
      assert(readSet() == model, s"op $i diverged")
      TxTable.versions(spark, dir).lastOption.foreach(v =>
        history += ((v, model)))
    }
    val snaps = history.result()
    for ((v, snap) <- snaps)
      assert(readSet(asOf = Some(v)) == snap, s"time travel to v$v diverged")
    // metadata-only rollback into the middle of that history
    val (v, snap) = snaps(snaps.size / 2)
    TxTable.restore(spark, dir, v)
    assert(readSet() == snap, s"restore to v$v diverged")
  }

  test("append commits retry past a taken log slot; replace fails loudly") {
    val dir = tmpDir("tx-occ")
    TxTable.append(spark, dir, Seq(("r1", 1.0)).toDF("k", "v"))
    // simulate a concurrent writer grabbing the next slot
    def occupyNextSlot(): Unit = {
      val next = TxTable.versions(spark, dir).last + 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/_graft_log/$next%020d.commit"),
        "action\tappend\n".getBytes)
    }
    occupyNextSlot()
    // append is conflict-free: lands in the slot after the interloper
    TxTable.append(spark, dir, Seq(("r2", 2.0)).toDF("k", "v"))
    assert(TxTable.read(spark, dir).get.count() == 2)

    // OCC: capture the head as a reader would, let a writer interleave,
    // then try to commit a replace merged against the stale read
    val staleHead = TxTable.headVersion(spark, dir)
    occupyNextSlot()
    val e = intercept[java.io.IOException] {
      TxTable.replace(spark, dir, Seq(("x", 9.0)).toDF("k", "v"),
        expectedHead = staleHead)
    }
    assert(e.getMessage.contains("re-read and re-merge"))
    assert(TxTable.read(spark, dir).get.count() == 2) // state unchanged
  }

  test("compactData collapses an append-fragmented table to one batch, contents intact") {
    val dir = tmpDir("tx-datacompact")
    for (i <- 1 to 6)
      TxTable.append(spark, dir,
        Seq((s"e$i", s"2024-03-0${(i % 3) + 1}", i.toDouble)).toDF("k", "d", "v"),
        Seq("d"))
    assert(TxTable.liveBatchCount(spark, dir) == 6)
    // partition inference types d as DATE and appends it — project explicitly
    def snap() = TxTable.read(spark, dir).get
      .select(col("k"), col("d").cast("string"), col("v"))
      .as[(String, String, Double)].collect().toSet
    val before = snap()

    assert(TxTable.compactData(spark, dir, targetPartitions = 1))
    assert(TxTable.liveBatchCount(spark, dir) == 1)   // union fan-in bounded
    val after = snap()
    assert(after == before)
    // partition column survives the rewrite (layout preserved)
    assert(TxTable.read(spark, dir).get
      .filter(col("d") === "2024-03-02").count() == before.count(_._2 == "2024-03-02"))
    // superseded staging dirs were vacuumed
    val batches = new java.io.File(s"$dir/data").listFiles().count(_.isDirectory)
    assert(batches == 1, s"expected 1 staging dir after vacuum, got $batches")
    // still writable; appends start fragmenting again from the compacted base
    TxTable.append(spark, dir,
      Seq(("e9", "2024-03-01", 9.0)).toDF("k", "d", "v"), Seq("d"))
    assert(TxTable.read(spark, dir).get.count() == 7)
  }

  test("partitioned append Tx keeps partition column round-trippable") {
    val dir = tmpDir("tx-partapp")
    val b = Seq(("e1", "2024-03-01", 1.0), ("e2", "2024-03-02", 2.0))
      .toDF("k", "d", "v")
    TxTable.append(spark, dir, b, Seq("d"))
    TxTable.append(spark, dir,
      Seq(("e3", "2024-03-01", 3.0)).toDF("k", "d", "v"), Seq("d"))
    val t = TxTable.read(spark, dir).get
    assert(t.count() == 3)
    assert(t.columns.toSet == Set("k", "d", "v"))
    assert(t.filter(col("d") === "2024-03-01").count() == 2)
  }

  test("vacuum retention: reader resolved pre-compaction survives; floor rejects older asOf") {
    val dir = tmpDir("tx-retain")
    // v1's batch is superseded by v2's replace — it exists ONLY for time
    // travel; v3 appends on top of v2
    TxTable.replace(spark, dir, Seq((1L, "old")).toDF("k", "s"))              // v1
    TxTable.replace(spark, dir,
      Seq((1L, "v1"), (2L, "v2")).toDF("k", "s"))                             // v2
    TxTable.append(spark, dir, Seq((3L, "v3")).toDF("k", "s"))                // v3
    val preHead = TxTable.headVersion(spark, dir).get                         // 3
    // a reader resolves its file paths NOW (plan is lazy; collect later)
    val midFlight = TxTable.read(spark, dir).get

    // compaction + retention vacuum lands while that reader is in flight
    assert(TxTable.compactData(spark, dir, targetPartitions = 1,
      retainVersions = 2))                                                    // v4
    // retained = {v3, v4} live sets → the pre-compaction reader's files
    // are still on disk; its deferred collect works
    assert(midFlight.as[(Long, String)].collect().toSet ==
      Set((1L, "v1"), (2L, "v2"), (3L, "v3")))
    assert(TxTable.read(spark, dir, asOf = Some(preHead)).get.count() == 3)

    // ...but v1's superseded batch was reclaimed: floor recorded,
    // versions() stops advertising v1/v2, read(asOf) fails loudly up front
    assert(TxTable.versions(spark, dir) == Seq(3L, 4L))
    val e = intercept[IllegalArgumentException] {
      TxTable.read(spark, dir, asOf = Some(1L))
    }
    assert(e.getMessage.contains("retention floor"))
    // head read unaffected
    assert(TxTable.read(spark, dir).get.count() == 3)
  }

  test("vacuum floor is monotonic and survives a subsequent head-only vacuum") {
    val dir = tmpDir("tx-floor")
    for (i <- 1 to 4)
      TxTable.replace(spark, dir, Seq((i.toLong, s"v$i")).toDF("k", "s"))
    TxTable.vacuum(spark, dir, retainVersions = 2)   // floor = 3
    assert(TxTable.versions(spark, dir) == Seq(3L, 4L))
    TxTable.vacuum(spark, dir, retainVersions = 2)   // nothing new to remove
    assert(TxTable.versions(spark, dir) == Seq(3L, 4L))
    TxTable.replace(spark, dir, Seq((5L, "v5")).toDF("k", "s"))  // v5
    TxTable.vacuum(spark, dir, retainVersions = 1)   // floor advances to 5
    assert(TxTable.versions(spark, dir) == Seq(5L))
    assert(TxTable.read(spark, dir).get.as[(Long, String)].head() == ((5L, "v5")))
  }

  test("vacuum minOrphanAgeMs: a fresh in-flight staging dir is not swept") {
    val dir = tmpDir("tx-orphanage")
    TxTable.replace(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    // simulate a concurrent writer mid-stage: parquet exists, no commit yet
    Seq((9L, "inflight")).toDF("k", "s").write.parquet(s"$dir/data/b-inflight")
    assert(TxTable.vacuum(spark, dir, retainVersions = 1,
      minOrphanAgeMs = 60 * 1000L) == 0)             // too young to sweep
    assert(new java.io.File(s"$dir/data/b-inflight").exists())
    assert(TxTable.vacuum(spark, dir) == 1)          // age 0 = crash-debris mode
    assert(!new java.io.File(s"$dir/data/b-inflight").exists())
  }

  test("randomized ops with interleaved retention vacuums + log compaction match the model") {
    val dir = tmpDir("tx-model-vac")
    val rnd = new scala.util.Random(13)
    var nextK = 0L
    def rows(n: Int): Seq[(Long, Double, Int)] =
      (1 to n).map { _ => nextK += 1; (nextK, rnd.nextDouble(), rnd.nextInt(4)) }
    def df(rs: Seq[(Long, Double, Int)]) = rs.toDF("k", "v", "p")
    def readSet(asOf: Option[Long] = None): Set[(Long, Double, Int)] =
      TxTable.read(spark, dir, asOf = asOf)
        .map(_.select("k", "v", "p").as[(Long, Double, Int)].collect().toSet)
        .getOrElse(Set.empty)

    var model = Set.empty[(Long, Double, Int)]
    var history = Vector.empty[(Long, Set[(Long, Double, Int)])]
    for (_ <- 1 to 24) {
      rnd.nextInt(5) match {
        case 0 =>
          val rs = rows(1 + rnd.nextInt(4))
          TxTable.replace(spark, dir, df(rs), Seq("p"))
          model = rs.toSet
        case 1 =>
          val rs = rows(1 + rnd.nextInt(4))
          TxTable.append(spark, dir, df(rs), Seq("p"))
          model = model ++ rs
        case 2 =>
          val rs = rows(1 + rnd.nextInt(4))
          val touched = rs.map(_._3).toSet
          TxTable.replacePartitions(spark, dir, df(rs), "p")
          model = model.filterNot(r => touched(r._3)) ++ rs
        case 3 if history.nonEmpty =>
          TxTable.vacuum(spark, dir, retainVersions = 1 + rnd.nextInt(3))
        case 4 if history.nonEmpty =>
          TxTable.compactLog(spark, dir, retainVersions = rnd.nextInt(3))
        case _ => ()
      }
      if (TxTable.versions(spark, dir).nonEmpty) {
        assert(readSet() == model)
        history = history :+ ((TxTable.versions(spark, dir).last, model))
      }
    }
    // every version still advertised time-travels exactly; every version
    // aged out of retention fails loudly, never with a mid-scan surprise
    val advertised = TxTable.versions(spark, dir).toSet
    for ((v, snap) <- history) {
      if (advertised(v))
        assert(readSet(asOf = Some(v)) == snap, s"time travel to v$v diverged")
      else {
        val e = intercept[IllegalArgumentException] {
          TxTable.read(spark, dir, asOf = Some(v))
        }
        assert(e.getMessage.contains("retention floor"))
      }
    }
  }

  test("multi-threaded OCC: racing appends all land; racing replace wins once or fails loudly") {
    val dir = tmpDir("tx-race")
    TxTable.replace(spark, dir, Seq((0L, "base")).toDF("k", "s"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._

    // the replace is merged against the PRE-RACE head: it may only win the
    // very next slot (before any racing append lands) or fail loudly
    val h0 = TxTable.headVersion(spark, dir)
    val appendsPerWriter = 4
    def appender(base: Long) = Future {
      var ok = 0
      for (i <- 1 to appendsPerWriter) {
        try { TxTable.append(spark, dir,
          Seq((base + i, s"w$base-$i")).toDF("k", "s")); ok += 1 }
        catch { case _: java.io.IOException => () } // bounded retry exhausted
      }
      ok
    }
    val fa = appender(100) // all three race from here
    val fb = appender(200)
    val fr = Future {
      try { TxTable.replace(spark, dir,
        Seq((999L, "replaced")).toDF("k", "s"), expectedHead = h0); true }
      catch { case e: java.io.IOException =>
        assert(e.getMessage.contains("re-read and re-merge")); false }
    }
    val (okA, okB, replaced) = Await.result(
      for (a <- fa; b <- fb; r <- fr) yield (a, b, r), 120.seconds)
    pool.shutdown()

    val rowsNow = TxTable.read(spark, dir).get.as[(Long, String)].collect().toSet
    val versions = TxTable.versions(spark, dir)
    // log is gapless and strictly ordered — no clobbered slots
    assert(versions == (versions.min to versions.max))
    // no lost commit, either way: every append that reported success is
    // live (a replace that won slot h0+1 preceded all of them; one that
    // would have overwritten them failed instead)
    assert(rowsNow.count(r => r._2.startsWith("w")) == okA + okB)
    if (replaced) assert(rowsNow.contains((999L, "replaced")))
    else assert(rowsNow.contains((0L, "base")))
  }

  test("multi-PROCESS OCC: three separate JVMs race appends into one table; gapless log, no lost commit") {
    // The r6/r7 ask: the in-process race above shares one JVM (one
    // FileSystem cache, one lock table); the commit protocol's claim is
    // CROSS-PROCESS atomicity via link(2)/rename. Prove it with three real
    // JVMs, each its own SparkSession, all appending to the same table.
    val dir = tmpDir("tx-jvmrace")
    TxTable.replace(spark, dir, Seq((0L, "base")).toDF("k", "s"))
    val barrier = tmpDir("tx-jvmbarrier")
    new java.io.File(barrier).mkdirs()

    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // Test / fork := true, so java.class.path IS the full test classpath;
    // replicate build.sbt's JDK17 module opens for the child SparkSessions.
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val appendsPerWriter = 3
    def launch(id: Int): Process = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.TxRaceWorker", dir, id.toString,
        appendsPerWriter.toString, barrier)
      new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    }
    val ids = Seq(1, 2, 3)
    val procs = ids.map(launch)
    try {
      // hold the gate until every JVM is up, then release them together
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (!ids.forall(i =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(barrier, s"ready-$i")))) {
        assert(System.nanoTime() < deadline, "workers never reached the barrier")
        Thread.sleep(50)
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(barrier, "go"), "go")

      val results = procs.map { p =>
        val out = new String(p.getInputStream.readAllBytes,
          java.nio.charset.StandardCharsets.UTF_8)
        assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
          "worker JVM hung")
        (p.exitValue, out)
      }
      results.foreach { case (code, out) =>
        assert(code == 0, s"worker failed:\n${out.takeRight(2000)}")
      }
      val okCounts = results.map { case (_, out) =>
        "TXRACE_OK=(\\d+)".r.findFirstMatchIn(out)
          .getOrElse(fail(s"no result line:\n${out.takeRight(2000)}"))
          .group(1).toInt
      }

      val versions = TxTable.versions(spark, dir)
      assert(versions == (versions.min to versions.max),
        "log must be gapless — a clobbered slot would leave a hole")
      val rows = TxTable.read(spark, dir).get.as[(Long, String)].collect().toSet
      assert(rows.contains((0L, "base")))
      // the no-lost-commit invariant: every append a worker saw ACCEPTED
      // is live after all three JVMs exit
      assert(rows.count(_._2.startsWith("w")) == okCounts.sum,
        s"live worker rows vs accepted commits: $rows vs $okCounts")
      // and with bounded-retry OCC under only 3 writers, most should land
      assert(okCounts.sum >= ids.size,
        s"suspiciously few accepted commits: $okCounts")
    } finally procs.foreach(_.destroyForcibly())
  }

  test("two-partition-column layout: pruning, scoped swap, and compaction are exact") {
    val dir = tmpDir("tx-multipart")
    def df(rs: Seq[(Long, String, String)]) = rs.toDF("k", "p1", "p2")
    val init = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y"))
    TxTable.replace(spark, dir, df(init), Seq("p1", "p2"))
    TxTable.append(spark, dir, df(Seq((5L, "a", "x"))), Seq("p1", "p2"))
    def readSet(parts: Option[Set[String]] = None): Set[(Long, String, String)] =
      TxTable.read(spark, dir, parts = parts)
        .map(_.select("k", "p1", "p2").as[(Long, String, String)].collect().toSet)
        .getOrElse(Set.empty)
    assert(readSet() == init.toSet + ((5L, "a", "x")))

    // log-level pruning: a full fragment hits one leaf; a one-column prefix
    // addresses the whole subtree (and "p1=a" must NOT match "p1=ab")
    assert(readSet(Some(Set("p1=a/p2=x"))) == Set((1L, "a", "x"), (5L, "a", "x")))
    assert(readSet(Some(Set("p1=b"))) == Set((3L, "b", "x"), (4L, "b", "y")))
    TxTable.append(spark, dir, df(Seq((9L, "ab", "x"))), Seq("p1", "p2"))
    assert(readSet(Some(Set("p1=a"))) ==
      Set((1L, "a", "x"), (2L, "a", "y"), (5L, "a", "x")))

    // scoped swap at the full-combination grain: only (a,x) is replaced
    TxTable.replacePartitionsBy(spark, dir, df(Seq((10L, "a", "x"))),
      Seq("p1", "p2"))
    assert(readSet() == Set((10L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"),
      (4L, "b", "y"), (9L, "ab", "x")))

    // compactData preserves the nested layout and the contents
    val before = readSet()
    assert(TxTable.compactData(spark, dir, targetPartitions = 1))
    assert(readSet() == before)
    assert(readSet(Some(Set("p1=b"))) == Set((3L, "b", "x"), (4L, "b", "y")))
    assert(TxTable.liveBatchCount(spark, dir) == 1)

    // the shallow-layout duplicate hazard is ENFORCED: swapping at a
    // one-column grain against this two-column table must fail loudly
    // (the removed fragments would match nothing and old rows stay live)
    val shallow = intercept[IllegalArgumentException] {
      TxTable.replacePartitionsBy(spark, dir, df(Seq((99L, "a", "x"))), Seq("p1"))
    }
    assert(shallow.getMessage.contains("live partition layout"), shallow.getMessage)
    assert(readSet() == before, "the refused swap must not change the table")
  }

  test("randomized two-col model: replace/append/scoped-swap with vacuum + compactLog") {
    val dir = tmpDir("tx-model-2col")
    val rnd = new scala.util.Random(29)
    var nextK = 0L
    def rows(n: Int): Seq[(Long, Int, Int)] =
      (1 to n).map { _ => nextK += 1; (nextK, rnd.nextInt(3), rnd.nextInt(3)) }
    def df(rs: Seq[(Long, Int, Int)]) = rs.toDF("k", "p1", "p2")
    def readSet(asOf: Option[Long] = None): Set[(Long, Int, Int)] =
      TxTable.read(spark, dir, asOf = asOf)
        .map(_.select("k", "p1", "p2").as[(Long, Int, Int)].collect().toSet)
        .getOrElse(Set.empty)

    var model = Set.empty[(Long, Int, Int)]
    var history = Vector.empty[(Long, Set[(Long, Int, Int)])]
    for (_ <- 1 to 20) {
      rnd.nextInt(5) match {
        case 0 =>
          val rs = rows(1 + rnd.nextInt(4))
          TxTable.replace(spark, dir, df(rs), Seq("p1", "p2"))
          model = rs.toSet
        case 1 =>
          val rs = rows(1 + rnd.nextInt(4))
          TxTable.append(spark, dir, df(rs), Seq("p1", "p2"))
          model = model ++ rs
        case 2 =>
          val rs = rows(1 + rnd.nextInt(4))
          val touched = rs.map(r => (r._2, r._3)).toSet
          TxTable.replacePartitionsBy(spark, dir, df(rs), Seq("p1", "p2"))
          model = model.filterNot(r => touched((r._2, r._3))) ++ rs
        case 3 if history.nonEmpty =>
          TxTable.vacuum(spark, dir, retainVersions = 1 + rnd.nextInt(3))
        case 4 if history.nonEmpty =>
          TxTable.compactLog(spark, dir, retainVersions = rnd.nextInt(3))
        case _ => ()
      }
      if (TxTable.versions(spark, dir).nonEmpty) {
        assert(readSet() == model)
        history = history :+ ((TxTable.versions(spark, dir).last, model))
      }
    }
    val advertised = TxTable.versions(spark, dir).toSet
    for ((v, snap) <- history) {
      if (advertised(v))
        assert(readSet(asOf = Some(v)) == snap, s"time travel to v$v diverged")
      else intercept[IllegalArgumentException] {
        TxTable.read(spark, dir, asOf = Some(v))
      }
    }
  }

  test("compactLog with retention: recent versions stay time-travelable, pruned ones fence") {
    val dir = tmpDir("tx-ckpt")
    val snaps = (1 to 6).map { i =>
      if (i % 2 == 1)
        TxTable.replace(spark, dir, Seq((i.toLong, s"v$i")).toDF("k", "s"))
      else
        TxTable.append(spark, dir, Seq((100L + i, s"v$i")).toDF("k", "s"))
      i.toLong -> TxTable.read(spark, dir).get
        .as[(Long, String)].collect().toSet
    }.toMap

    TxTable.compactLog(spark, dir, retainVersions = 2)
    // commits 1-3 pruned, base checkpoint at 4 = head-2, tail 5-6 kept
    assert(TxTable.versions(spark, dir) == Seq(4L, 5L, 6L))
    for (v <- 4L to 6L)
      assert(TxTable.read(spark, dir, asOf = Some(v)).get
        .as[(Long, String)].collect().toSet == snaps(v), s"asOf=$v diverged")
    val e = intercept[IllegalArgumentException] {
      TxTable.read(spark, dir, asOf = Some(3L))
    }
    assert(e.getMessage.contains("retention floor"))
    // no data file was touched: vacuum still sees every retained batch
    assert(TxTable.read(spark, dir).get
      .as[(Long, String)].collect().toSet == snaps(6L))
    // still writable; replay seeds from the checkpoint
    TxTable.append(spark, dir, Seq((999L, "v7")).toDF("k", "s"))
    assert(TxTable.versions(spark, dir) == Seq(4L, 5L, 6L, 7L))
    assert(TxTable.read(spark, dir).get.count() == snaps(6L).size + 1)
    // idempotent: a second compaction at the same head prunes to the new tail
    TxTable.compactLog(spark, dir, retainVersions = 2)
    assert(TxTable.versions(spark, dir) == Seq(5L, 6L, 7L))
    assert(TxTable.read(spark, dir).get.count() == snaps(6L).size + 1)
  }

  test("partition scheme survives checkpointed log compaction (scoped path stays scoped)") {
    val dir = tmpDir("tx-ckpt-scheme")
    val init = (1 to 40).map(i => (s"k$i", "open", s"n$i")).toDF("k", "status", "note")
    MergeSink.upsertPartialScopedTx(spark, dir, init, Seq("k"), Seq("status"), scheme)
    MergeSink.upsertPartialScopedTx(spark, dir,
      Seq(("k3", "closed", "X")).toDF("k", "status", "note"),
      Seq("k"), Seq("status"), scheme)
    assert(TxTable.currentScheme(spark, dir).contains(scheme.descriptor))

    TxTable.compactLog(spark, dir) // aggressive squash: scheme must ride the ckpt
    assert(TxTable.currentScheme(spark, dir).contains(scheme.descriptor))
    // a follow-up scoped merge takes the pruned fast path, not a migration
    // rewrite: version advances by exactly one replacePartitions commit
    val vBefore = TxTable.headVersion(spark, dir).get
    MergeSink.upsertPartialScopedTx(spark, dir,
      Seq(("k5", "closed", "Y")).toDF("k", "status", "note"),
      Seq("k"), Seq("status"), scheme)
    assert(TxTable.headVersion(spark, dir).contains(vBefore + 1))
    val got = snapshot(dir)
    assert(got.size == 40 && got("k3") == (("closed", "n3")) &&
      got("k5") == (("closed", "n5")))
  }

  test("vacuum after a pruned log enumerates versions from the checkpoint base") {
    val dir = tmpDir("tx-ckpt-vac")
    TxTable.replace(spark, dir, Seq((1L, "a")).toDF("k", "s"))   // v1
    TxTable.replace(spark, dir, Seq((2L, "b")).toDF("k", "s"))   // v2
    TxTable.append(spark, dir, Seq((3L, "c")).toDF("k", "s"))    // v3
    TxTable.compactLog(spark, dir, retainVersions = 1)           // base ckpt @2
    // retention vacuum over the pruned log: keeps live sets of v2+v3
    // (enumerated from the checkpoint), reclaims v1's superseded batch
    assert(TxTable.vacuum(spark, dir, retainVersions = 2) == 1)
    assert(TxTable.read(spark, dir).get.as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
    assert(TxTable.read(spark, dir, asOf = Some(2L)).get.count() == 1)
  }

  test("describe reports the log's operational state without opening data files") {
    val dir = tmpDir("tx-describe")
    assert(TxTable.describe(spark, dir).isEmpty)
    TxTable.replace(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    TxTable.replace(spark, dir, Seq((2L, "b"), (3L, "c")).toDF("k", "s"))
    TxTable.append(spark, dir, Seq((4L, "d")).toDF("k", "s"))
    val i1 = TxTable.describe(spark, dir).get
    assert(i1.headVersion == 3 && i1.commitCount == 3)
    assert(i1.checkpointVersion.isEmpty && i1.retentionFloor.isEmpty)
    assert(i1.liveBatches == 2 && i1.onDiskBatches == 3) // v1's superseded batch
    TxTable.vacuum(spark, dir, retainVersions = 2)
    TxTable.compactLog(spark, dir, retainVersions = 1)
    val i2 = TxTable.describe(spark, dir).get
    assert(i2.headVersion == 3 && i2.commitCount == 2)   // v1's commit pruned
    assert(i2.checkpointVersion.contains(2L))
    assert(i2.retentionFloor.contains(2L))
    assert(i2.onDiskBatches == 2 && i2.liveBatches == 2)
  }

  test("scheme migration over a log whose live set is empty starts fresh, no crash") {
    val dir = tmpDir("tx-emptymigrate")
    // a committed replace of ZERO rows: log exists, live set is empty
    TxTable.replace(spark, dir,
      Seq.empty[(String, String, String)].toDF("k", "status", "note")
        .withColumn(scheme.colName, scheme.expr),
      Seq(scheme.colName), Some("legacy-scheme"))
    assert(TxTable.exists(spark, dir))
    // a replace-to-empty DECLARES its schema (same contract as TRUNCATE):
    // the read is Some(empty typed frame), never None
    assert(TxTable.read(spark, dir).exists(_.isEmpty))
    assert(TxTable.read(spark, dir).get.columns.contains("k"))
    // previously: NoSuchElementException from read().get in the migration arm
    val b = Seq(("k1", "open", "n1")).toDF("k", "status", "note")
    MergeSink.upsertPartialScopedTx(spark, dir, b, Seq("k"), Seq("status"), scheme)
    assert(snapshot(dir) == Map("k1" -> (("open", "n1"))))
  }

  test("additive schema evolution: a widened batch adds a column, earlier batches read it as null, time travel keeps the old schema") {
    import spark.implicits._
    val dir = tmpDir("tx-evolve")
    TxTable.append(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = TxTable.headVersion(spark, dir).get
    TxTable.append(spark, dir,
      Seq((3L, "c", "x3"), (4L, "d", "x4")).toDF("id", "v", "extra"))
    val now = TxTable.read(spark, dir).get
    assert(now.columns.toSet == Set("id", "v", "extra"))
    val rows = now.select("id", "v", "extra")
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        Option(r.getString(2))))).toMap
    assert(rows == Map(1L -> (("a", None)), 2L -> (("b", None)),
      3L -> (("c", Some("x3"))), 4L -> (("d", Some("x4")))))
    // time travel to before the widening: the old schema, untouched
    val old = TxTable.read(spark, dir, asOf = Some(v1)).get
    assert(old.columns.toSet == Set("id", "v") && old.count() == 2)
    // conflicting TYPE on a shared name fails AT PLANNING with a clear
    // message — never a mid-scan cast error (or worse, a silent coercion
    // for rows that happen to parse)
    TxTable.append(spark, dir, Seq((5L, 9.5)).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      TxTable.read(spark, dir)
    }
    assert(e.getMessage.contains("conflicting types"), e.getMessage)
  }

  test("string stats skipping: truncated bounds prune, never falsely, incl. 16-byte boundary") {
    import spark.implicits._
    val dir = tmpDir("tx-str-stats")
    val p16 = "a" * 16 // exactly the truncation width
    // three single-file batches with disjoint string ranges on k:
    //  b1: short keys "apple..banana"; b2: long keys sharing the 16-byte
    //  prefix p16 (truncation collapses them all to [p16, p16+1));
    //  b3: "zebra..zulu"
    TxTable.append(spark, dir,
      Seq(("apple", 1L), ("banana", 2L)).toDF("k", "v").repartition(1))
    TxTable.append(spark, dir,
      Seq((p16 + "m-suffix-one", 3L), (p16 + "q-suffix-two", 4L))
        .toDF("k", "v").repartition(1))
    TxTable.append(spark, dir,
      Seq(("zebra", 5L), ("zulu", 6L)).toDF("k", "v").repartition(1))

    def kept(lo: Option[String], hi: Option[String]): Int =
      TxTable.skippingStatsString(spark, dir, "k", lo, hi)._1

    // point probes prune to one file
    assert(kept(Some("apple"), Some("apple")) == 1)
    assert(kept(Some("zebra"), Some("zebra")) == 1)
    // a probe INSIDE b2's truncated envelope must keep b2 even though the
    // exact value is absent (superset semantics, truncation-lossy)
    assert(kept(Some(p16 + "n-not-present"), Some(p16 + "n-not-present")) == 1)
    // the truncation boundary itself: p16 is b2's recorded LOWER bound;
    // probing exactly p16 must keep b2 (lower bound truncated DOWN)
    assert(kept(Some(p16), Some(p16)) == 1)
    // strictly above b2's incremented upper bound ("a"*15 + "b"): b2
    // prunes; b1 ("banana" > lo) and b3 survive
    assert(kept(Some("a" * 15 + "c"), None) == 2)
    // ranges: everything below "b" = b1 + b2 (b2's lower starts with 'a')
    assert(kept(None, Some("b")) == 2)
    // disjoint probe prunes all three
    assert(kept(Some("mmm"), Some("mmm")) == 0)
    // rows still correct through a skipped read path (superset contract):
    // the SQL index applies the same test — proven in PlanQualitySpec
  }

  test("addColumns: metadata-only ALTER — typed NULLs until written, time travel keeps old schema") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    import spark.implicits._
    val dir = tmpDir("tx-addcols")
    TxTable.append(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = TxTable.headVersion(spark, dir).get
    TxTable.addColumns(spark, dir, Seq(StructField("bonus", LongType)))
    // no data commit happened: one empty property commit, zero files
    assert(TxTable.headVersion(spark, dir).contains(v1 + 1))
    val widened = TxTable.read(spark, dir).get
    assert(widened.columns.toSeq == Seq("id", "v", "bonus"))
    assert(widened.filter(col("bonus").isNull).count() == 2)
    // a write carrying the column takes over; old rows still read null
    TxTable.append(spark, dir, Seq((3L, "c", 7L)).toDF("id", "v", "bonus"))
    val mixed = TxTable.read(spark, dir).get
    assert(mixed.agg(sum("bonus")).head.getLong(0) == 7L)
    assert(mixed.filter(col("bonus").isNull).count() == 2)
    // time travel below the ALTER: the old schema
    assert(TxTable.read(spark, dir, asOf = Some(v1)).get
      .columns.toSeq == Seq("id", "v"))
    // UPDATE can SET a declared-but-never-written column (widened rewrite)
    TxTable.addColumns(spark, dir,
      Seq(StructField("note", StringType)))
    TxTable.updateWhere(spark, dir, col("id") === 1L,
      Map("note" -> lit("first")))
    val notes = TxTable.read(spark, dir).get.select("id", "note")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(notes == Map(1L -> Some("first"), 2L -> None, 3L -> None))
    // guards: duplicate name, non-nullable, direct property poke
    val e1 = intercept[IllegalArgumentException] {
      TxTable.addColumns(spark, dir, Seq(StructField("BONUS", LongType)))
    }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.addColumns(spark, dir,
        Seq(StructField("req", LongType, nullable = false)))
    }
    assert(e2.getMessage.contains("nullable"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      TxTable.setProperties(spark, dir, Map("graft.schema.added" -> "{}"))
    }
    assert(e3.getMessage.contains("managed by addColumns"), e3.getMessage)
    // declared type conflicting with a later batch fails at planning
    val dir2 = tmpDir("tx-addcols-conflict")
    TxTable.append(spark, dir2, Seq((1L, "a")).toDF("id", "v"))
    TxTable.addColumns(spark, dir2, Seq(StructField("x", LongType)))
    TxTable.append(spark, dir2, Seq((2L, "b", 1.5)).toDF("id", "v", "x"))
    val e4 = intercept[IllegalArgumentException](TxTable.read(spark, dir2))
    assert(e4.getMessage.contains("declared"), e4.getMessage)
  }

  test("file-stats skipping: clustered batches prune at the log level, stats survive compactLog") {
    import spark.implicits._
    val dir = tmpDir("tx-stats")
    // three appends, each one file clustered on k: [0,100), [100,200), [200,300)
    for (base <- Seq(0, 100, 200))
      TxTable.append(spark, dir,
        (base until base + 100).map(i => (i.toLong, i / 2.0, s"r$i"))
          .toDF("k", "x", "s").repartition(1))
    assert(TxTable.skippingStats(spark, dir, "k",
      BigDecimal(120), BigDecimal(150)) == ((1, 3)))
    // exact envelope boundaries are inclusive
    assert(TxTable.skippingStats(spark, dir, "k",
      BigDecimal(99), BigDecimal(100)) == ((2, 3)))
    // double column prunes too
    assert(TxTable.skippingStats(spark, dir, "x",
      BigDecimal(10.3), BigDecimal(10.4)) == ((1, 3)))
    // strings carry no stats → never pruned on (safe superset)
    assert(TxTable.skippingStats(spark, dir, "s",
      BigDecimal(0), BigDecimal(1)) == ((3, 3)))

    // the skipped read + row filter ≡ the full read + row filter
    val viaSkip = TxTable.readSkipping(spark, dir, "k",
      BigDecimal(120), BigDecimal(150)).get
      .filter(col("k").between(120, 150)).select("k")
      .as[Long].collect().sorted
    val viaFull = TxTable.read(spark, dir).get
      .filter(col("k").between(120, 150)).select("k")
      .as[Long].collect().sorted
    assert(viaSkip.sameElements(viaFull) && viaSkip.length == 31)
    // a range NO file can contain: None, no scan planned
    assert(TxTable.readSkipping(spark, dir, "k",
      BigDecimal(1000), BigDecimal(2000)).isEmpty)

    // envelopes must survive log compaction (the checkpoint re-renders
    // file entries WITH their stat lines)
    TxTable.compactLog(spark, dir, retainVersions = 0)
    assert(TxTable.skippingStats(spark, dir, "k",
      BigDecimal(120), BigDecimal(150)) == ((1, 3)))
  }

  test("deleteWhere: copy-on-write rewrites ONLY files holding matches; NULL keeps its row; time travel, compactLog, and OCC hold") {
    import spark.implicits._
    val dir = tmpDir("tx-delete")
    // three single-file batches clustered on k: [0,100)+null, [100,200), [200,300)
    val first = (0 until 100).map(i => (Option(i.toLong), s"r$i")) :+
      ((None: Option[Long]) -> "rnull")
    TxTable.append(spark, dir, first.toDF("k", "v").repartition(1))
    for (base <- Seq(100, 200))
      TxTable.append(spark, dir,
        (base until base + 100).map(i => (Option(i.toLong), s"r$i"))
          .toDF("k", "v").repartition(1))
    val vBefore = TxTable.headVersion(spark, dir).get
    val before = TxTable.liveFilePaths(spark, dir).toSet

    val st = TxTable.deleteWhere(spark, dir,
      col("k") >= 120L && col("k") < 130L)
    assert(st == TxTable.RewriteStats(10L, 1, 3))
    val now = TxTable.read(spark, dir).get
    assert(now.count() == 291 &&
      now.filter(col("k").between(120L, 129L)).count() == 0)
    // the NULL-k row survives: DELETE removes only cond=TRUE rows
    assert(now.filter(col("k").isNull).count() == 1)
    // exactly one file left the live set — the other two are byte-identical
    val after = TxTable.liveFilePaths(spark, dir).toSet
    assert((before & after).size == 2 && (before -- after).size == 1)
    // time travel below the rewrite still sees the deleted rows
    assert(TxTable.read(spark, dir, asOf = Some(vBefore)).get.count() == 301)
    // a no-match delete commits nothing
    val head = TxTable.headVersion(spark, dir).get
    assert(TxTable.deleteWhere(spark, dir, col("k") === -1L) ==
      TxTable.RewriteStats(0L, 0, 3))
    assert(TxTable.headVersion(spark, dir).get == head)
    // OCC: a delete pinned to a stale head fails loudly, table unchanged
    intercept[java.io.IOException] {
      TxTable.deleteWhere(spark, dir, col("k") === 5L,
        expectedHead = Some(vBefore))
    }
    assert(TxTable.read(spark, dir).get.count() == 291)
    // the rewrite folds through log compaction
    TxTable.compactLog(spark, dir, retainVersions = 0)
    assert(TxTable.read(spark, dir).get.count() == 291)
  }

  test("updateWhere: matching rows transform in place, schema stays, constraints gate, partition-column moves restage") {
    import spark.implicits._
    val dir = tmpDir("tx-update")
    TxTable.append(spark, dir,
      Seq((1L, 10L, 0L), (2L, 20L, 0L), (3L, 30L, 1L)).toDF("id", "qty", "pb"),
      Seq("pb"))
    TxTable.setConstraint(spark, dir, "qty_pos", "qty >= 0")
    def state() = TxTable.read(spark, dir).get.select("id", "qty", "pb")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap

    val st = TxTable.updateWhere(spark, dir, col("id") === 2L,
      Map("qty" -> (col("qty") + 5)))
    assert(st.matchedRows == 1L && st.filesRewritten == 1)
    assert(state() == Map(1L -> ((10L, 0L)), 2L -> ((25L, 0L)),
      3L -> ((30L, 1L))))
    // the int literal casts back to the column's LongType (schema stable)
    assert(TxTable.read(spark, dir).get.schema("qty").dataType ==
      org.apache.spark.sql.types.LongType)
    // a CHECK-violating update is refused before staging
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, dir, col("id") === 1L, Map("qty" -> lit(-5)))
    }
    assert(state()(1L) == ((10L, 0L)))
    // unknown SET column fails loudly
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, dir, col("id") === 1L, Map("nope" -> lit(1)))
    }
    // updating the partition column restages the row into its new fragment
    TxTable.updateWhere(spark, dir, col("id") === 3L, Map("pb" -> lit(0L)))
    val pb0 = TxTable.read(spark, dir, parts = Some(Set("pb=0"))).get
    assert(pb0.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("vacuum reclaims rewrite-retired files inside still-live batches, file by file") {
    import spark.implicits._
    val dir = tmpDir("tx-vacuum-files")
    // ONE batch, two files (pb=0, pb=1): the rewrite retires only pb=0's
    // file, so the batch stays live and batch-level vacuum alone would
    // pin the dead bytes forever
    TxTable.append(spark, dir,
      Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("id", "v", "pb"), Seq("pb"))
    val before = TxTable.liveFilePaths(spark, dir).toSet
    TxTable.deleteWhere(spark, dir, col("id") === 1L)
    val retired = (before -- TxTable.liveFilePaths(spark, dir).toSet).toSeq
    assert(retired.size == 1)
    val retiredFile = new java.io.File(new java.net.URI(retired.head))
    assert(retiredFile.exists, "bytes linger until vacuum — time travel works")
    assert(TxTable.read(spark, dir, asOf = Some(1L)).get.count() == 2)
    val reclaimed = TxTable.vacuum(spark, dir, retainVersions = 1)
    assert(reclaimed >= 1 && !retiredFile.exists, s"reclaimed=$reclaimed")
    // survivors unharmed, floor fences the pre-rewrite version
    assert(TxTable.read(spark, dir).get.select("id").as[Long]
      .collect().toSeq == Seq(2L))
    intercept[IllegalArgumentException] {
      TxTable.read(spark, dir, asOf = Some(1L))
    }
  }

  test("racing row-level rewrites: exactly one deleteWhere wins the slot, the loser fails loudly, no row lost twice") {
    import spark.implicits._
    val dir = tmpDir("tx-rewrite-race")
    TxTable.append(spark, dir,
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "v")
        .repartition(1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // both deletes target the SAME file; both pin the same head — the
    // rewrite computed against a state another rewrite just replaced must
    // fail, or one delete's surviving rows would resurrect the other's
    // deleted ones
    val h0 = TxTable.headVersion(spark, dir)
    def del(lo: Long, hi: Long) = Future {
      try Some(TxTable.deleteWhere(spark, dir,
        col("k") >= lo && col("k") < hi, expectedHead = h0))
      catch { case _: java.io.IOException => None }
    }
    val (a, b) = (del(0L, 10L), del(50L, 60L))
    val results = Seq(Await.result(a, 120.seconds),
      Await.result(b, 120.seconds))
    val wins = results.flatten
    assert(wins.size == 1, s"exactly one rewrite must land, got $results")
    assert(wins.head.matchedRows == 10L)
    assert(TxTable.read(spark, dir).get.count() == 90)
    pool.shutdown()
  }

  test("restore: metadata-only rollback to a retained version; the rollback itself stays time-travelable and OCC-pinned") {
    import spark.implicits._
    val dir = tmpDir("tx-restore")
    TxTable.append(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    val v1 = TxTable.headVersion(spark, dir).get
    val v1Paths = TxTable.liveFilePaths(spark, dir).toSet
    TxTable.append(spark, dir, Seq((2L, "b")).toDF("id", "v"))
    TxTable.deleteWhere(spark, dir, col("id") === 1L)
    val preRestore = TxTable.headVersion(spark, dir).get
    def ids() = TxTable.read(spark, dir).get.select("id")
      .as[Long].collect().toSet
    assert(ids() == Set(2L))

    TxTable.restore(spark, dir, v1)
    assert(ids() == Set(1L))
    // metadata-only: the restored live set IS v1's original files
    assert(TxTable.liveFilePaths(spark, dir).toSet == v1Paths)
    // the mistake stays inspectable above the floor
    assert(TxTable.read(spark, dir, asOf = Some(preRestore)).get
      .select("id").as[Long].collect().toSet == Set(2L))
    // a version that never existed is refused loudly
    intercept[IllegalArgumentException] {
      TxTable.restore(spark, dir, 999L)
    }
    // OCC: a restore pinned to a stale head fails instead of silently
    // rolling back the interleaved write
    intercept[java.io.IOException] {
      TxTable.restore(spark, dir, v1, expectedHead = Some(v1))
    }
    assert(ids() == Set(1L))
  }

  test("compactSmallFiles: six micro-batch files pack per fragment in one rewrite; the large file never moves") {
    import spark.implicits._
    val dir = tmpDir("tx-optimize")
    // the streaming-sink shape: one tiny file per trigger, two fragments
    for (i <- 0 until 6)
      TxTable.append(spark, dir,
        Seq((i.toLong, s"r$i", i % 2L)).toDF("id", "v", "pb"), Seq("pb"))
    // one already-compacted file, bigger than the small threshold
    TxTable.append(spark, dir,
      (100 until 5100).map(i => (i.toLong, s"big$i", 0L))
        .toDF("id", "v", "pb").repartition(1), Seq("pb"))
    val before = TxTable.liveFilePaths(spark, dir).toSet
    assert(before.size == 7)
    val bigPath = before.maxBy(p =>
      new java.io.File(new java.net.URI(p)).length)

    val st = TxTable.compactSmallFiles(spark, dir,
      targetBytes = 1L << 20, smallBytes = 5L << 10)
    assert(st == TxTable.CompactStats(filesPacked = 6, filesWritten = 2,
      filesUntouched = 1))
    val after = TxTable.liveFilePaths(spark, dir).toSet
    // the big file is byte-identical live; every small file left the set
    assert((before & after) == Set(bigPath))
    val now = TxTable.read(spark, dir).get
    assert(now.count() == 5006)
    assert(now.filter(col("id") < 6L).select("id", "v", "pb")
      .as[(Long, String, Long)].collect().sorted.toSeq ==
      (0 until 6).map(i => (i.toLong, s"r$i", i % 2L)))
    // partition pruning still works on the packed layout
    assert(TxTable.read(spark, dir, parts = Some(Set("pb=1"))).get
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // below-threshold pass is a no-op: no commit, nothing churned
    val head = TxTable.headVersion(spark, dir).get
    assert(TxTable.compactSmallFiles(spark, dir, smallBytes = 1L) ==
      TxTable.CompactStats(0, 0, after.size))
    assert(TxTable.headVersion(spark, dir).get == head)
  }

  test("compactSmallFiles sortCols: rows inside each packed file come out clustered") {
    import spark.implicits._
    val dir = tmpDir("tx-optimize-sort")
    // four interleaved micro-files: arrival order is maximally unsorted
    for (i <- 0 until 4)
      TxTable.append(spark, dir,
        (i until 400 by 4).map(j => (j.toLong, s"r$j")).toDF("k", "v")
          .repartition(1))
    val st = TxTable.compactSmallFiles(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, sortCols = Seq("k"))
    assert(st.filesPacked == 4)
    val rows = TxTable.read(spark, dir).get.select("k")
      .as[Long].collect().sorted
    assert(rows.toSeq == (0L until 400L))
    // every packed file is internally sorted on k — the row-group
    // clustering the scaladoc promises
    for (p <- TxTable.liveFilePaths(spark, dir)) {
      val ks = spark.read.parquet(p).select("k").as[Long].collect()
      assert(ks.sameElements(ks.sorted), s"unsorted packed file $p")
    }
  }

  test("file-stats skipping on FLOAT columns compares in widened double space (0.1f stays findable)") {
    import spark.implicits._
    val dir = tmpDir("tx-float-stats")
    // two single-file batches: one holding 0.1f — whose double widening
    // 0.10000000149... exceeds the float's shortest decimal repr "0.1" —
    // and one far away so pruning is still observable
    TxTable.append(spark, dir,
      Seq((1L, 0.1f), (2L, 0.2f)).toDF("id", "f").repartition(1))
    TxTable.append(spark, dir,
      Seq((3L, 9.0f), (4L, 9.5f)).toDF("id", "f").repartition(1))
    // Spark evaluates `f = 0.1f` against the WIDENED double; the point
    // query at that value must keep the file containing the row
    val widened = BigDecimal(0.1f.toDouble)
    assert(TxTable.skippingStats(spark, dir, "f", widened, widened) == ((1, 2)))
    val got = TxTable.readSkipping(spark, dir, "f", widened, widened).get
      .filter(col("f") === 0.1f).select("id").as[Long].collect()
    assert(got.sameElements(Array(1L)))
    // and the envelope still prunes: a disjoint range keeps nothing
    assert(TxTable.readSkipping(spark, dir, "f",
      BigDecimal(50), BigDecimal(60)).isEmpty)
  }

  test("conflicting types behind a case-differing name fail loudly under caseSensitive=false") {
    import spark.implicits._
    val dir = tmpDir("tx-case-conflict")
    TxTable.append(spark, dir, Seq((1L, 9.5)).toDF("id", "price"))
    // unionByName resolves case-insensitively by default, so 'Price'
    // string would silently coerce into 'price' double without the guard
    TxTable.append(spark, dir, Seq((2L, "cheap")).toDF("id", "Price"))
    val e = intercept[IllegalArgumentException] { TxTable.read(spark, dir) }
    assert(e.getMessage.contains("conflicting types"), e.getMessage)
  }

  test("CHECK constraints: writes validated before staging, null passes, add-time scan, drop lifts, survives compactLog") {
    import spark.implicits._
    val dir = tmpDir("tx-check")
    TxTable.append(spark, dir, Seq((1L, Option(5L)), (2L, Option(7L)))
      .toDF("k", "qty"))
    TxTable.setConstraint(spark, dir, "qty_nonneg", "qty >= 0")
    assert(TxTable.constraints(spark, dir) == Map("qty_nonneg" -> "qty >= 0"))

    // violating batch rejected BEFORE any commit: head pinned, no rows land
    val v0 = TxTable.headVersion(spark, dir).get
    val e = intercept[IllegalArgumentException] {
      TxTable.append(spark, dir, Seq((3L, Option(-1L))).toDF("k", "qty"))
    }
    assert(e.getMessage.contains("qty_nonneg") &&
      e.getMessage.contains("1 row(s)"), e.getMessage)
    assert(TxTable.headVersion(spark, dir).contains(v0))
    assert(TxTable.read(spark, dir).get.count() == 2)
    // replace goes through the same gate
    intercept[IllegalArgumentException] {
      TxTable.replace(spark, dir, Seq((9L, Option(-9L))).toDF("k", "qty"))
    }

    // SQL CHECK three-valued logic: a NULL qty passes qty >= 0
    TxTable.append(spark, dir, Seq((4L, Option.empty[Long])).toDF("k", "qty"))
    assert(TxTable.read(spark, dir).get.count() == 3)
    // ...which is exactly why adding IS NOT NULL now must be REFUSED by
    // the add-time scan of existing rows
    val e2 = intercept[IllegalArgumentException] {
      TxTable.setConstraint(spark, dir, "qty_set", "qty IS NOT NULL")
    }
    assert(e2.getMessage.contains("existing rows"), e2.getMessage)
    assert(!TxTable.constraints(spark, dir).contains("qty_set"))

    // drop lifts enforcement
    TxTable.dropConstraint(spark, dir, "qty_nonneg")
    TxTable.append(spark, dir, Seq((5L, Option(-2L))).toDF("k", "qty"))
    assert(TxTable.read(spark, dir).get.count() == 4)

    // a constraint set before log compaction still binds after it
    TxTable.setConstraint(spark, dir, "k_pos", "k > 0")
    TxTable.compactLog(spark, dir, retainVersions = 0)
    assert(TxTable.constraints(spark, dir) == Map("k_pos" -> "k > 0"))
    intercept[IllegalArgumentException] {
      TxTable.append(spark, dir, Seq((0L, Option(1L))).toDF("k", "qty"))
    }
  }

  test("txn appendOnce: redelivered epochs are no-ops, marks survive compactLog") {
    import spark.implicits._
    val dir = tmpDir("tx-txn")
    val app = "stream-q"
    assert(TxTable.lastTxn(spark, dir, app).isEmpty)
    assert(TxTable.appendOnce(spark, dir, Seq((1L, "a")).toDF("id", "v"), app, 0L))
    // exact redelivery of the same micro-batch: skipped, no duplicate rows
    assert(!TxTable.appendOnce(spark, dir, Seq((1L, "a")).toDF("id", "v"), app, 0L))
    assert(TxTable.appendOnce(spark, dir, Seq((2L, "b")).toDF("id", "v"), app, 1L))
    // a LATE replay of an older epoch after newer ones committed: also skipped
    assert(!TxTable.appendOnce(spark, dir, Seq((1L, "a")).toDF("id", "v"), app, 0L))
    assert(TxTable.lastTxn(spark, dir, app).contains(1L))
    assert(TxTable.read(spark, dir).get.count() == 2)
    // an unrelated app's epochs are independent
    assert(TxTable.appendOnce(spark, dir, Seq((10L, "z")).toDF("id", "v"), "other", 0L))
    assert(TxTable.lastTxn(spark, dir, app).contains(1L))
    // log compaction must NOT forget epochs: the checkpoint carries the map
    TxTable.compactLog(spark, dir, retainVersions = 0)
    assert(TxTable.lastTxn(spark, dir, app).contains(1L))
    assert(TxTable.lastTxn(spark, dir, "other").contains(0L))
    assert(!TxTable.appendOnce(spark, dir, Seq((1L, "a")).toDF("id", "v"), app, 1L))
    assert(TxTable.read(spark, dir).get.count() == 3)
  }

  test("readChanges: appends feed inserts, partition swaps feed delete+insert, keyed collapse tags updates") {
    import spark.implicits._
    val dir = tmpDir("tx-cdc")
    def df(rows: (Int, String, Int)*) = rows.toDF("k", "v", "pb")
    TxTable.append(spark, dir, df((1, "a1", 0), (2, "b1", 1)), Seq("pb"))
    val v1 = TxTable.headVersion(spark, dir).get
    TxTable.append(spark, dir, df((3, "c1", 0)), Seq("pb"))
    // swap bucket 0: k=1 changes value, k=3 is dropped (not re-staged)
    TxTable.replacePartitionsBy(spark, dir, df((1, "a2", 0)), Seq("pb"))
    val head = TxTable.headVersion(spark, dir).get

    // feed after v1: one insert (k=3 @ v2), then the swap (v3) removes the
    // two files under pb=0 and adds one — file-level delete+insert
    val ch = TxTable.readChanges(spark, dir, v1).get
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Int, String, String, Long)].collect().toSet
    assert(ch == Set(
      (3, "c1", "insert", v1 + 1),
      (1, "a1", "delete", head), (3, "c1", "delete", head),
      (1, "a2", "insert", head)))

    // keyed collapse: k=1's delete+insert in v3 becomes an update pair;
    // k=3's lone delete stays a delete
    val keyed = TxTable.readChangesKeyed(spark, dir, Seq("k"), v1).get
      .select("k", "v", "_change_type")
      .as[(Int, String, String)].collect().toSet
    assert(keyed == Set(
      (3, "c1", "insert"), (3, "c1", "delete"),
      (1, "a1", "update_preimage"), (1, "a2", "update_postimage")))

    // empty range → None; full range from 0 sees every insert
    assert(TxTable.readChanges(spark, dir, head).isEmpty)
    val all = TxTable.readChanges(spark, dir, 0L).get
    assert(all.filter(col("_change_type") === "insert").count() == 4)

    // vacuum past the base fences the feed loudly instead of planning
    // over reclaimed files
    TxTable.replace(spark, dir, df((9, "z", 0)), Seq("pb"))
    TxTable.vacuum(spark, dir, retainVersions = 1)
    val e = intercept[IllegalArgumentException] {
      TxTable.readChanges(spark, dir, v1)
    }
    assert(e.getMessage.contains("retention floor"), e.getMessage)
  }
  test("withRetry: two racing deleteWhere both land with zero manual retries") {
    import spark.implicits._
    val dir = tmpDir("tx-retry-race")
    TxTable.append(spark, dir,
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "v")
        .repartition(1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // same shape as the loud-failure race above, but each delete runs in
    // the retry loop: the loser re-reads the post-winner state and merges
    // against it, so BOTH rewrites land and neither resurrects the other's
    // deleted rows
    def del(lo: Long, hi: Long) = Future {
      TxTable.withRetry(maxAttempts = 8) {
        TxTable.deleteWhere(spark, dir, col("k") >= lo && col("k") < hi)
      }
    }
    val (a, b) = (del(0L, 10L), del(50L, 60L))
    val results = Seq(Await.result(a, 120.seconds),
      Await.result(b, 120.seconds))
    assert(results.forall(_.matchedRows == 10L), results.toString)
    assert(TxTable.read(spark, dir).get.count() == 80)
    assert(TxTable.read(spark, dir).get.select("k").as[Long].collect()
      .toSet == ((10L until 50L) ++ (60L until 100L)).toSet)
    pool.shutdown()
    // a non-conflict failure propagates immediately (no retry loop on a
    // deterministic error): attempts stay at 1
    var attempts = 0
    intercept[IllegalArgumentException] {
      TxTable.withRetry(maxAttempts = 5) {
        attempts += 1
        TxTable.updateWhere(spark, dir, col("k") === 10L,
          Map("nope" -> lit(1)))
      }
    }
    assert(attempts == 1)
  }

  test("vacuum dry-run reports exactly the reclaim set, deletes nothing; the real run then deletes exactly it") {
    import spark.implicits._
    val dir = tmpDir("tx-vacuum-dry")
    // a superseded batch (replace), a rewrite-retired file inside a live
    // batch, and a crash-orphaned staging dir — all three reclaim classes
    TxTable.append(spark, dir,
      Seq((1L, "a", 0L), (3L, "c", 0L), (2L, "b", 1L)).toDF("id", "v", "pb")
        .repartition(1),
      Seq("pb"))
    // id=3 survives in pb=0, so the rewrite stages a real successor file
    // (an emptied file would leave an empty staging dir — orphan class)
    TxTable.deleteWhere(spark, dir, col("id") === 1L)
    Seq((99L, "GHOST", 9L)).toDF("id", "v", "pb")
      .write.parquet(s"$dir/data/b-orphan-dry")
    def diskParquet(): Set[String] = {
      val base = new java.io.File(dir).toPath
      val out = scala.collection.mutable.Set[String]()
      java.nio.file.Files.walk(base).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out += base.relativize(p).toString
      }
      out.toSet
    }
    val before = diskParquet()
    val plan = TxTable.vacuumReport(spark, dir, retainVersions = 1)
    // dry run touched nothing
    assert(diskParquet() == before)
    assert(TxTable.read(spark, dir, asOf = Some(1L)).get.count() == 3)
    assert(plan.batchDirs.size == 1 && plan.batchDirs.head.contains("b-orphan-dry"))
    assert(plan.files.size == 1, plan.toString)
    assert(plan.bytes > 0L && plan.newFloor.contains(2L))
    // the real run deletes exactly the dry run's set
    val n = TxTable.vacuum(spark, dir, retainVersions = 1)
    assert(n == plan.batchDirs.size + plan.files.size)
    val removed = before -- diskParquet()
    assert(removed.map(p => p.split('/').take(2).mkString("/")).subsetOf(
      (plan.files ++ plan.batchDirs).map(p => p.split('/').take(2).mkString("/")).toSet))
    assert(plan.files.toSet.subsetOf(before))
    assert(plan.files.forall(f => !new java.io.File(s"$dir/$f").exists))
    assert(TxTable.read(spark, dir).get.select("id").as[Long].collect()
      .toSet == Set(2L, 3L))
  }

  test("vacuum reclaims a rewrite-retired file whose retirement predates a compactLog checkpoint (no permanent leak)") {
    import spark.implicits._
    val dir = tmpDir("tx-vacuum-ghost")
    // one batch, two files; the rewrite retires only pb=0's file, then
    // compactLog prunes the commits that ever mentioned it — the retired
    // file is now invisible to version enumeration while its batch stays
    // live through the pb=1 sibling: the exact leak shape of a streaming
    // table that compacts its log before vacuuming
    TxTable.append(spark, dir,
      Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("id", "v", "pb"), Seq("pb"))
    val before = TxTable.liveFilePaths(spark, dir).toSet
    TxTable.deleteWhere(spark, dir, col("id") === 1L)
    val retired = (before -- TxTable.liveFilePaths(spark, dir).toSet).toSeq
    assert(retired.size == 1)
    val retiredFile = new java.io.File(new java.net.URI(retired.head))
    TxTable.compactLog(spark, dir, retainVersions = 0)
    assert(retiredFile.exists, "bytes linger until vacuum")
    val plan = TxTable.vacuumReport(spark, dir, retainVersions = 1)
    assert(plan.files.exists(f => retiredFile.getPath.endsWith(f)),
      s"ghost file missing from the reclaim plan: $plan")
    val reclaimed = TxTable.vacuum(spark, dir, retainVersions = 1)
    assert(reclaimed >= 1 && !retiredFile.exists)
    assert(TxTable.read(spark, dir).get.select("id").as[Long].collect()
      .toSeq == Seq(2L))
    // a fresh in-flight file inside a kept batch is NOT swept under an age
    // guard (racing-writer safety, same contract as orphan dirs)
    val keptBatch = TxTable.liveFilePaths(spark, dir).head
      .split('/').dropRight(1).mkString("/")
    val planted = new java.io.File(
      new java.net.URI(s"$keptBatch/zz-inflight.parquet"))
    java.nio.file.Files.write(planted.toPath, Array[Byte](1, 2, 3))
    val guarded = TxTable.vacuumReport(spark, dir, retainVersions = 1,
      minOrphanAgeMs = 3600000L)
    assert(!guarded.files.exists(_.endsWith("zz-inflight.parquet")))
    val swept = TxTable.vacuumReport(spark, dir, retainVersions = 1)
    assert(swept.files.exists(_.endsWith("zz-inflight.parquet")))
  }

  test("legacy float stats: mayContain covers the float-widened value a pre-widening commit implied") {
    // a legacy stat recorded 0.1f as its shortest repr "0.1"; Spark
    // compares the widened 0.10000000149... — the envelope must cover it
    val legacy = TxTable.ColStat("D", "0.1", "0.1")
    val widened = BigDecimal(0.1f.toDouble)
    assert(legacy.mayContain(widened, widened))
    // and still covers the plain-double interpretation
    assert(legacy.mayContain(BigDecimal("0.1"), BigDecimal("0.1")))
    // a new-format string (toPlainString of a widened double) does NOT
    // round-trip through Float, so pruning stays double-tight
    val s = new java.math.BigDecimal(0.1f.toDouble).toPlainString
    val modern = TxTable.ColStat("D", s, s)
    assert(modern.mayContain(widened, widened))
    assert(!modern.mayContain(BigDecimal("0.2"), BigDecimal("0.3")))
    // exact floats agree in both interpretations — zero pruning lost
    assert(!TxTable.ColStat("D", "1.5", "1.5")
      .mayContain(BigDecimal("1.6"), BigDecimal("2.0")))
  }

  test("reserved helper columns are refused up front by rewrites and compaction") {
    import spark.implicits._
    val dir = tmpDir("tx-reserved")
    TxTable.append(spark, dir,
      Seq((1L, "x")).toDF("k", "__graft_file"))
    val e = intercept[IllegalArgumentException] {
      TxTable.deleteWhere(spark, dir, col("k") === 1L)
    }
    assert(e.getMessage.contains("__graft_file"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.compactSmallFiles(spark, dir)
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("TRUNCATE of a live-but-unpartitioned table does not resurrect a stale declared layout") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("tr-layout")
    TxTable.create(spark, dir, StructType(Seq(
      StructField("k", IntegerType), StructField("p", IntegerType))),
      partitionCols = Seq("p"))
    TxTable.append(spark, dir,
      (1 to 8).map(i => (i, i % 2)).toDF("k", "p"), partitionCols = Seq("p"))
    // a layout-CHANGING non-empty replace: the table is now live and
    // unpartitioned, but graft.schema.partitions still says "p"
    TxTable.replace(spark, dir, (1 to 4).map(i => (i, 0)).toDF("k", "p"))
    assert(TxTable.read(spark, dir).get.count() == 4)
    // TRUNCATE must record the LIVE layout (none) — the declared-layout
    // fallback applies only to an actually-empty live set; re-recording
    // the abandoned "p" here would silently re-partition the next INSERT
    TxTable.truncate(spark, dir)
    assert(TxTable.declaredPartitionCols(spark, dir).isEmpty,
      TxTable.declaredPartitionCols(spark, dir).mkString(","))
    // whereas truncating an already-empty PARTITIONED table keeps its
    // declared layout (the Delta TRUNCATE contract, unchanged)
    val dir2 = tmpDir("tr-layout2")
    TxTable.create(spark, dir2, StructType(Seq(
      StructField("k", IntegerType), StructField("p", IntegerType))),
      partitionCols = Seq("p"))
    TxTable.truncate(spark, dir2)
    assert(TxTable.declaredPartitionCols(spark, dir2) == Seq("p"))
  }

  test("racing CREATE TABLEs: exactly one wins the pinned first commit") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("create-race")
    val schemaA = StructType(Seq(StructField("a", IntegerType)))
    val schemaB = StructType(Seq(StructField("b", StringType)))
    // both creators pass the exists() check before either commits — the
    // barrier forces the interleaving the pin defends against. The loser
    // must fail (CommitConflict), never land in slot 2 and silently
    // override the winner's declared schema.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def creator(s: StructType): Thread = new Thread(() => {
      try {
        barrier.await()
        TxTable.create(spark, dir, s)
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(creator(schemaA), creator(schemaB))
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(errs.size == 1,
      s"exactly one creator must lose, got ${errs.size}: $errs")
    assert(errs.peek().isInstanceOf[TxTable.CommitConflictException] ||
      errs.peek().getMessage.contains("already exists"), errs.peek())
    // one commit only; the surviving schema is exactly one contender's
    assert(TxTable.headVersion(spark, dir).contains(1L))
    val won = TxTable.read(spark, dir).get.schema.fieldNames.toSeq
    assert(won == Seq("a") || won == Seq("b"), won.mkString(","))
  }
}
