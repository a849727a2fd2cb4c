package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.merge.TxTable

/** Threshold knobs for [[Maintenance.maintain]] — each guards one
  * maintenance action; an action runs ONLY when its threshold trips, so
  * calling maintain() every cycle is safe (a healthy table is a few
  * metadata probes and zero commits). Defaults target the 100 TB regime;
  * tests shrink them. */
final case class MaintainPolicy(
    /** a live file under this is "small"… */
    smallBytes: Long = 64L << 20,
    /** …and compaction runs once this many of them accumulate. */
    minSmallFiles: Int = 8,
    targetBytes: Long = 128L << 20,
    /** fold a file's deletion vector back in at/above this live-rows
      * fraction — the read-tax bound: after maintain(), no live file
      * carries a vector at or beyond it. */
    dvMinDeletedFraction: Double = 0.2,
    /** re-cluster (incremental z-order, only for tables that opted in via
      * a prior incremental pass) once this many unclustered files land. */
    minUnclusteredFiles: Int = 4,
    zorderFilesPerPass: Int = 16,
    /** checkpoint + prune the log once this many commits follow the last
      * checkpoint. */
    minLogCommits: Int = 32,
    /** vacuum once the dry-run report lists this many reclaimable items. */
    minVacuumItems: Int = 16,
    /** refresh ANALYZE stats once this many commits follow the last run —
      * ONLY for tables already analyzed (the policy never invents a stats
      * obligation); stale stats are the classic CBO failure mode. */
    minCommitsSinceAnalyze: Int = 16,
    retainVersions: Int = 3,
    vacuumMinOrphanAgeMs: Long = 5 * 60 * 1000L)

/** Self-driving table maintenance — the policy loop a lakehouse needs so
  * a user never orchestrates compact/purge/cluster/checkpoint/vacuum by
  * hand (the reference gets all of this for free from PostgreSQL's
  * autovacuum, `setup_target.py`; a file-based log must drive its own).
  * One call reads the table's health FROM THE LOG (file sizes, deletion-
  * vector fractions, unclustered bytes since the last z-order pass, log
  * length past the newest checkpoint, reclaimable debris) and runs
  * exactly the actions whose thresholds trip, in dependency order:
  * rewrites first (they create debris), checkpoint next (it seeds
  * replay), vacuum last (it sweeps what the rewrites retired).
  *
  * Every action is the same OCC-pinned, loudly-fenced [[TxTable]] /
  * [[Layout]] primitive a human would call; maintain() adds only the
  * decision layer. All health probes are metadata: O(live files) statuses
  * + footer reads, zero data pages scanned for the decisions. */
object Maintenance {

  /** Run the policy once. Returns (action, detail) per action taken —
    * `("noop", …)` when the table is healthy. SQL face:
    * `CALL graft.system.maintain('db.t')`. */
  def maintain(spark: SparkSession, dir: String,
               p: MaintainPolicy = MaintainPolicy()): Seq[(String, String)] = {
    require(TxTable.exists(spark, dir), s"no TxTable at $dir")
    val out = Seq.newBuilder[(String, String)]
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 1. small-file compaction (read fan-in health)
    val small = TxTable.liveFilePaths(spark, dir)
      .count(pth => fs.getFileStatus(new Path(pth)).getLen < p.smallBytes)
    if (small >= p.minSmallFiles) {
      val s = TxTable.compactSmallFiles(spark, dir,
        targetBytes = p.targetBytes, smallBytes = p.smallBytes)
      if (s.filesPacked > 0)
        out += ("compact_small_files" ->
          s"packed ${s.filesPacked} files into ${s.filesWritten}")
    }

    // 2. deletion-vector purge (read-tax health) — the per-file fraction
    // threshold lives inside purgeDvs (footer row counts, metadata only)
    if (TxTable.hasLiveDvs(spark, dir)) {
      val s = TxTable.purgeDvs(spark, dir,
        minDeletedFraction = p.dvMinDeletedFraction)
      if (s.filesPacked > 0)
        out += ("purge_dvs" ->
          s"folded ${s.filesPacked} vectors into ${s.filesWritten} files")
    }

    // 3. incremental z-order (skipping-tightness health) — only for
    // tables that opted in via a prior pass; its recorded columns drive
    // this one, so the policy never invents a clustering key
    Layout.zorderState(spark, dir).foreach { case (v, cols) =>
      val clustered: Set[String] =
        if (TxTable.versions(spark, dir).contains(v))
          TxTable.liveRelPaths(spark, dir, Some(v)).toSet
        else Set.empty
      val unclustered =
        TxTable.liveRelPaths(spark, dir).count(!clustered.contains(_))
      if (unclustered >= p.minUnclusteredFiles) {
        val (b, a) = Layout.zorderIncrementalTx(spark, dir, cols,
          nParts = p.zorderFilesPerPass)
        if (b > 0)
          out += ("zorder_incremental" -> s"clustered $b files into $a")
      }
    }

    // 3a. Bloom sidecar refresh (point-lookup pruning health) — only for
    // columns the table already indexes; incremental (O(changed files)),
    // and a current index is a no-op probe
    Layout.bloomIndexedColumns(spark, dir).foreach { c =>
      val (indexed, dropped) = Layout.refreshBloomIndexTx(spark, dir, c,
        expectedItemsPerFile = 1000000L)
      if (indexed > 0 || dropped > 0)
        out += ("refresh_bloom" ->
          s"column $c: indexed $indexed new files, dropped $dropped stale")
    }

    // 3b. ANALYZE refresh (estimator health) — only for tables that have
    // been analyzed before; O(files) footer metadata when it trips
    TxTable.commitsSinceAnalyze(spark, dir)
      .filter(_ >= p.minCommitsSinceAnalyze).foreach { n =>
        val (rows, bytes) = TxTable.analyze(spark, dir)
        out += ("analyze" -> s"refreshed after $n commits: $rows rows, $bytes bytes")
      }

    // 4. log compaction (replay-cost health)
    val pending = TxTable.commitsSinceCheckpoint(spark, dir)
    if (pending >= p.minLogCommits) {
      TxTable.compactLog(spark, dir, retainVersions = p.retainVersions)
      out += ("compact_log" -> s"checkpointed past $pending commits")
    }

    // 5. vacuum (debris health) — decide on the dry-run report, sweep
    // only when enough has accumulated to be worth the listing churn
    val rep = TxTable.vacuumReport(spark, dir,
      retainVersions = p.retainVersions,
      minOrphanAgeMs = p.vacuumMinOrphanAgeMs, dryRun = true)
    val items = rep.batchDirs.size + rep.files.size
    if (items >= p.minVacuumItems) {
      TxTable.vacuum(spark, dir, retainVersions = p.retainVersions,
        minOrphanAgeMs = p.vacuumMinOrphanAgeMs)
      out += ("vacuum" -> s"reclaimed $items items, ${rep.bytes} bytes")
    }

    val r = out.result()
    if (r.isEmpty) Seq("noop" -> "no threshold tripped") else r
  }
}
