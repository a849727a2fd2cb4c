package graft.merge

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{approx_count_distinct, array, avg, coalesce, col, count, explode, expr, length, lit, max, min, struct, when}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Minimal commit-log table format — the transactional binding
  * [[MergeSink.writeReplace]]'s scaladoc promises, so M1/M2 merges stop
  * depending on multi-step directory renames (SURVEY §2.10; the reference
  * gets this for free from PostgreSQL transactions, load.py:10-187).
  *
  * Layout:
  * {{{
  *   <dir>/_graft_log/00000000000000000001.commit   // one text file per commit
  *   <dir>/data/b-<uuid>/[partCol=val/]part-*.parquet  // immutable data files
  * }}}
  *
  * Protocol (the Delta-lake shape, cut to what a single writer needs):
  *  - Writers stage data files under a fresh `data/b-<uuid>/` dir, then
  *    publish them by renaming ONE small log file into the next numbered
  *    slot. That single rename is the only atomicity requirement (atomic on
  *    local FS and HDFS; an object store needs a conditional put — same as
  *    every log-based format).
  *  - Readers replay the numbered commits in order to a live file set and
  *    read exactly those files. There is NO window where a reader can see a
  *    half-written table: uncommitted staging is simply never referenced.
  *  - A crash at ANY point before the log rename leaves only orphan staging
  *    files, invisible to every reader; [[vacuum]] reclaims them. No
  *    recovery protocol runs on read or write — compare
  *    [[MergeSink.recover]], which must actively roll back interrupted
  *    swaps.
  *
  * Commit actions: `replace` (new live set = this commit's files), `append`
  * (add files), `replacePartitions` (drop live files in the listed
  * partition fragments, then add — the partition-scoped merge path, so a
  * batch commit touches O(batch partitions) not O(table)).
  *
  * Partition values are stored as hive-style `col=value` path fragments;
  * scoped pruning renders values with [[fragment]], which matches Spark's
  * encoding for the int/date partition schemes [[MergeSink.PartitionScheme]]
  * produces (string partition values with chars needing hive-escaping are
  * out of scope and rejected nowhere — don't use them for scoped tables).
  *
  * Single-writer contract (same as MergeSink's): one writing process per
  * table; the exclusive log-slot claim turns a violated contract into a
  * failed commit instead of corruption. The claim is atomic cross-process
  * on both filesystem families we run on: `file:` uses POSIX link(2)
  * (EEXIST on a taken slot — a plain rename(2) would silently overwrite),
  * HDFS-like stores use rename-to-destination (which fails when the
  * destination exists). Object stores would need a conditional put, same
  * as every log-based format.
  *
  * Retention (the Delta trade): [[vacuum]] keeps the files referenced by
  * the live sets of the last `retainVersions` commits, so a reader that
  * resolved file paths at version v keeps working across a concurrent
  * [[compactData]] as long as v is inside the retention window. Versions
  * older than the window become unreadable — [[read]] fails loudly on an
  * `asOf` below the recorded floor instead of surfacing a mid-scan
  * FileNotFoundException, and [[versions]] stops advertising them.
  * [[compactLog]] bounds replay cost the same way: a checkpoint at the
  * retention cut seeds replay, commits below it are pruned, and the floor
  * fences what was pruned — so log compaction, vacuum, and data
  * compaction commute in a maintenance cycle.
  */
object TxTable {

  private val LogDirName = "_graft_log"
  private val DataDirName = "data"

  /** `data/<batch>` prefix of an engine-staged relative path; None for a
    * CONVERT-adopted file living outside the engine-owned data/ dir. */
  private def batchPrefixOf(rel: String): Option[String] = {
    val segs = rel.split('/')
    if (segs.length >= 2 && segs(0) == DataDirName)
      Some(s"$DataDirName/${segs(1)}")
    else None
  }

  /** Batch NAME of an engine-staged relative path (the dir under data/);
    * None for adopted files. */
  private def batchNameOf(rel: String): Option[String] = {
    val segs = rel.split('/')
    if (segs.length >= 2 && segs(0) == DataDirName) Some(segs(1)) else None
  }
  private val FloorName = "_vacuum_floor"

  /** Per-file, per-column min/max envelope recorded in the log at stage
    * time (read from the parquet footer the writer just produced — no data
    * scan). `tag` is `I` (integral: int/long/date-days/timestamp-micros,
    * compared in exact integer space), `D` (float/double), or `S`
    * (string: hex-encoded UTF-8 bounds TRUNCATED to ≤ 16 bytes, the
    * Iceberg design — lower bound truncated down, upper bound truncated
    * and incremented, so the envelope is a superset of the real values
    * and pruning can lose precision but never a matching row). Absent
    * columns are simply unprunable — safe by construction. */
  final case class ColStat(tag: String, min: String, max: String) {
    def mayContain(lo: BigDecimal, hi: BigDecimal): Boolean =
      if (tag == "S") true // numeric probe on a string envelope: unprunable
      else if (tag == "D") {
        // Spark evaluates float predicates widened to DOUBLE
        // (0.1f -> 0.10000000149...), so the skip decision must live in
        // double space too: float envelopes are recorded pre-widened (see
        // footerStats), bounds are rounded to nearest double here, and one
        // outward ulp absorbs that rounding — a file can lose its pruning
        // to an ulp, never a matching row.
        //
        // Legacy float stats: commits written BEFORE envelopes were
        // pre-widened stored the float's shortest decimal repr ("0.1"),
        // which parses to a double up to half a float-ulp away from the
        // f.toDouble value Spark compares against — far outside the
        // double-ulp slack. Any stat string that round-trips exactly
        // through Float COULD be such a legacy stat, so the envelope also
        // covers that float's widened value; new-format strings never
        // round-trip (toPlainString of the widened double), and exact
        // floats ("1.5") agree in both interpretations — zero pruning
        // lost where the ambiguity is absent.
        def legacyFloat(s: String): Option[Double] = {
          val f = s.toFloat
          if (f.toString == s) Some(f.toDouble) else None
        }
        val mn = Math.nextDown(
          legacyFloat(min).fold(min.toDouble)(math.min(min.toDouble, _)))
        val mx = Math.nextUp(
          legacyFloat(max).fold(max.toDouble)(math.max(max.toDouble, _)))
        !(mx < lo.toDouble || mn > hi.toDouble)
      } else {
        val mn = BigDecimal(min); val mx = BigDecimal(max)
        !(mx < lo || mn > hi)
      }

    /** String-envelope intersection with `[lo, hi]` (None = unbounded),
      * compared in unsigned UTF-8 byte order — exactly how Spark's default
      * UTF8_BINARY collation and parquet's UNSIGNED sort order compare.
      * Non-string envelopes are unprunable for a string probe. */
    def mayContainUtf8(lo: Option[Array[Byte]],
                       hi: Option[Array[Byte]]): Boolean =
      tag != "S" || {
        val mn = hexToBytes(min); val mx = hexToBytes(max)
        !(hi.exists(h => ubCompare(mn, h) > 0) ||
          lo.exists(l => ubCompare(mx, l) < 0))
      }
  }

  /** [[ubCompare]] as an Ordering, for min/max over byte-string sets. */
  private[graft] val utf8Ordering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => ubCompare(a, b)

  /** Unsigned lexicographic byte compare (UTF8_BINARY order). */
  private[graft] def ubCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def bytesToHex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private def hexToBytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Max recorded bytes of a string bound (Iceberg's default truncate(16)). */
  private val StringStatBytes = 16

  /** Upper bound after truncation to `n` bytes: the value itself when it
    * fits; otherwise the n-byte prefix incremented at its last
    * non-0xFF byte (trailing bytes dropped — a shorter incremented prefix
    * upper-bounds every string under the original prefix). None when every
    * prefix byte is 0xFF: no finite bound exists, the column stat is
    * dropped rather than recorded wrong. */
  private[graft] def truncatedUpper(b: Array[Byte],
                                    n: Int = StringStatBytes): Option[Array[Byte]] =
    if (b.length <= n) Some(b)
    else {
      val p = b.take(n)
      var i = n - 1
      while (i >= 0 && p(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else Some(p.take(i + 1).updated(i, (p(i) + 1).toByte))
    }

  /** Deletion-vector reference riding on a live file: `dir` is the
    * table-relative sidecar directory (`data/dv-<uuid>`) holding
    * `(file, pos)` position-delete rows for one or more files, `deleted`
    * the number of this file's positions recorded there. A file carries at
    * most ONE ref — a later [[deleteWhereDV]] touching the same file
    * merges the old positions into its new sidecar and re-points the ref,
    * so readers never chain vectors. The sidecar directory participates in
    * [[vacuum]] retention exactly like a data batch (it is referenced by
    * the live sets that reference the ref). */
  final case class DvRef(dir: String, deleted: Long)

  /** One live data file: `path` relative to the table root; `part` is the
    * FULL relative hive fragment path (`part_bucket=3` or
    * `region=eu/day=2024-01-01` for nested layouts) for partitioned
    * layouts. Pruning and removal match fragments prefix-wise per segment
    * (see [[partMatches]]), so a one-column scope addresses the whole
    * subtree under a multi-column layout. `stats` carries the file's
    * column envelopes for log-level data skipping ([[readSkipping]]);
    * empty on entries committed before stats existed — those files are
    * never skipped. `dv` attaches a deletion vector: the file's LIVE rows
    * are its physical rows minus the sidecar's positions (merge-on-read
    * DELETE — see [[deleteWhereDV]]); stats stay valid as a superset. */
  final case class FileEntry(path: String, part: Option[String],
                             stats: Map[String, ColStat] = Map.empty,
                             dv: Option[DvRef] = None)

  /** True when `part` is addressed by fragment `scope`: exact match, or
    * `scope` is a leading segment prefix (`region=eu` matches
    * `region=eu/day=2024-01-01` but NOT `region=eu2/...`). */
  private def partMatches(part: String, scope: String): Boolean =
    part == scope || part.startsWith(scope + "/")

  /** `txns`: application-level idempotence marks, the Delta `txn` action
    * shape — (appId, epoch) pairs riding IN the commit, so "this batch was
    * applied" becomes atomic with the data landing. A regular commit
    * carries at most one; a checkpoint carries the accumulated
    * high-water map so [[compactLog]] never forgets an epoch.
    *
    * `props`: table-property updates (latest value per key wins across
    * the log, checkpoints carry the accumulated map — same replay algebra
    * as txns). The `constraint.<name>` namespace is enforced on every
    * write ([[setConstraint]]). */
  /** `dataChange = false` marks a commit that rearranges bytes without
    * changing the table's rows (compaction, z-order clustering — the Delta
    * `dataChange` flag): the change feed ([[readChanges]]) skips such
    * commits entirely, so maintenance never re-emits a 100 TB table to
    * every streaming consumer. Absent in old commits = true. */
  /** `dvRefs`: the `dv` action's payload — (live file path → new deletion-
    * vector ref) attachments. Every other action leaves it empty. */
  private final case class Commit(action: String, partCol: Option[String],
                                  scheme: Option[String],
                                  removedParts: Seq[String],
                                  files: Seq[FileEntry],
                                  txns: Seq[(String, Long)] = Nil,
                                  props: Seq[(String, String)] = Nil,
                                  dataChange: Boolean = true,
                                  dvRefs: Seq[(String, DvRef)] = Nil)

  private def hadoopFs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(dir: String) = new Path(dir, LogDirName)

  // ------------------------------------------------------------------ log

  private val CommitName = """(\d{20})\.commit""".r
  private val CkptName = """(\d{20})\.ckpt""".r

  private def listCommits(fs: FileSystem, dir: String): Seq[(Long, Path)] = {
    val ld = logDir(dir)
    if (!fs.exists(ld)) Nil
    else fs.listStatus(ld).toSeq.flatMap { st =>
      st.getPath.getName match {
        case CommitName(v) => Some(v.toLong -> st.getPath)
        case _             => None // writer tmp files, checkpoints, floor
      }
    }.sortBy(_._1)
  }

  /** Checkpoints: `{v}.ckpt` holds the full live set AFTER version v in the
    * same text format as a `replace` commit — the replay seed that lets
    * [[compactLog]] prune old commit files without destroying the history
    * retention and time travel are computed from (the Delta checkpoint
    * idea). A checkpoint is a pure function of the log at v, so writing one
    * twice is a no-op. */
  private def listCheckpoints(fs: FileSystem, dir: String): Seq[(Long, Path)] = {
    val ld = logDir(dir)
    if (!fs.exists(ld)) Nil
    else fs.listStatus(ld).toSeq.flatMap { st =>
      st.getPath.getName match {
        case CkptName(v) => Some(v.toLong -> st.getPath)
        case _           => None
      }
    }.sortBy(_._1)
  }

  /** Latest checkpoint at or below `target`, parsed: (version, seed). */
  private def baseFor(fs: FileSystem, dir: String,
                      target: Long): Option[(Long, Commit)] =
    listCheckpoints(fs, dir).filter(_._1 <= target).lastOption
      .map { case (v, p) => (v, parse(fs, p)) }

  /** Text format, one `key<TAB>value` line each; `file` lines repeat as
    * `file<TAB>relpath<TAB>fragment` (fragment empty for unpartitioned).
    * Hive-encoded paths never contain tabs/newlines, so no quoting. */
  private def render(c: Commit): String = {
    val sb = new StringBuilder
    sb.append("action\t").append(c.action).append('\n')
    if (!c.dataChange) sb.append("dataChange\tfalse\n")
    c.partCol.foreach(p => sb.append("partCol\t").append(p).append('\n'))
    c.scheme.foreach(s => sb.append("scheme\t").append(s).append('\n'))
    c.removedParts.foreach(r => sb.append("removed\t").append(r).append('\n'))
    c.txns.foreach { case (app, epoch) =>
      sb.append("txn\t").append(app).append('\t').append(epoch).append('\n')
    }
    c.props.foreach { case (k, v) =>
      require(!k.exists("\t\n".contains(_)) && !v.exists("\t\n".contains(_)),
        s"table property '$k' contains tab/newline — unrepresentable")
      sb.append("prop\t").append(k).append('\t').append(v).append('\n')
    }
    c.dvRefs.foreach { case (target, d) =>
      sb.append("dvref\t").append(target).append('\t').append(d.dir)
        .append('\t').append(d.deleted).append('\n')
    }
    c.files.foreach { f =>
      sb.append("file\t").append(f.path).append('\t')
        .append(f.part.getOrElse("")).append('\n')
      // stat/dv lines attach to the file line ABOVE them (order-dependent
      // format, same file): `stat <col> <I|D|S> <min> <max>`,
      // `dv <sidecar dir> <deleted>`
      f.stats.toSeq.sortBy(_._1).foreach { case (cn, st) =>
        sb.append("stat\t").append(cn).append('\t').append(st.tag)
          .append('\t').append(st.min).append('\t').append(st.max)
          .append('\n')
      }
      f.dv.foreach { d =>
        sb.append("dv\t").append(d.dir).append('\t').append(d.deleted)
          .append('\n')
      }
    }
    sb.result()
  }

  /** Parsed-commit cache. Commit files are immutable once visible (the
    * tmp-write + atomic slot claim in [[commit]]); checkpoints are a pure
    * function of the log at their version, so re-writing one reproduces
    * the same content. Snapshot replay parses the same commit files once
    * per STATEMENT (schema + file index + props + txn state all replay),
    * so the cache turns O(statements × commits) file reads into
    * O(commits). Keyed by (path, mtime, length) — the FileStatusCache
    * discipline — so a table dir dropped and recreated at the same path
    * (test fixtures) can never replay stale state. Size-capped by
    * wholesale clear; correctness never depends on a hit. */
  private val commitParseCache =
    new java.util.concurrent.ConcurrentHashMap[String, Commit]()

  private def parse(fs: FileSystem, p: Path): Commit = {
    val key = try {
      val st = fs.getFileStatus(p)
      s"$p@${st.getModificationTime}:${st.getLen}"
    } catch { case _: java.io.IOException => null }
    if (key != null) {
      val hit = commitParseCache.get(key)
      if (hit != null) return hit
    }
    val c = parseUncached(fs, p)
    if (key != null) {
      if (commitParseCache.size > 8192) commitParseCache.clear()
      commitParseCache.put(key, c)
    }
    c
  }

  private def parseUncached(fs: FileSystem, p: Path): Commit = {
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    var action = ""; var partCol: Option[String] = None
    var scheme: Option[String] = None
    var dataChange = true
    val removed = Seq.newBuilder[String]
    val files = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    val txns = Seq.newBuilder[(String, Long)]
    val props = Seq.newBuilder[(String, String)]
    val dvRefs = Seq.newBuilder[(String, DvRef)]
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("action", a)  => action = a
        case Array("dataChange", v) => dataChange = v.toBoolean
        case Array("partCol", v) => partCol = Some(v)
        case Array("scheme", v)  => scheme = Some(v)
        case Array("removed", v) => removed += v
        case Array("txn", app, epoch) => txns += (app -> epoch.toLong)
        case Array("prop", k, v)      => props += (k -> v)
        case Array("prop", k)         => props += (k -> "")
        case Array("file", path, frag) =>
          files += FileEntry(path, if (frag.isEmpty) None else Some(frag))
        case Array("file", path) => files += FileEntry(path, None)
        case Array("stat", cn, tag, mn, mx) =>
          require(files.nonEmpty,
            s"corrupt commit $p: stat line before any file line")
          val last = files.last
          files(files.length - 1) =
            last.copy(stats = last.stats + (cn -> ColStat(tag, mn, mx)))
        case Array("dv", dvDir, n) =>
          require(files.nonEmpty,
            s"corrupt commit $p: dv line before any file line")
          files(files.length - 1) =
            files.last.copy(dv = Some(DvRef(dvDir, n.toLong)))
        case Array("dvref", target, dvDir, n) =>
          dvRefs += (target -> DvRef(dvDir, n.toLong))
        case other => throw new java.io.IOException(
          s"corrupt commit $p: unparseable line '${other.mkString("\t")}'")
      }
    }
    require(action.nonEmpty, s"corrupt commit $p: no action")
    Commit(action, partCol, scheme, removed.result(), files.toSeq,
      txns.result(), props.result(), dataChange, dvRefs.result())
  }

  private def applyCommit(live: Vector[FileEntry], c: Commit,
                          p: Path): Vector[FileEntry] = c.action match {
    case "replace" => c.files.toVector
    case "append"  => live ++ c.files
    case "replacePartitions" =>
      val drop = c.removedParts
      live.filterNot(_.part.exists(p => drop.exists(partMatches(p, _)))) ++
        c.files
    case "rewrite" =>
      // removedParts carries relative FILE paths for this action — the
      // file-granular copy-on-write [[deleteWhere]]/[[updateWhere]] commit:
      // exactly the files that held matching rows leave the live set,
      // their rewritten successors join it
      val drop = c.removedParts.toSet
      live.filterNot(f => drop.contains(f.path)) ++ c.files
    case "dv" =>
      // merge-on-read DELETE/UPDATE: attach (or re-point) deletion-vector
      // refs on live files, and add this commit's staged files (empty for
      // a pure delete; an update's transformed copies for updateWhereDV —
      // one atomic commit covers both halves). A ref whose target is no
      // longer live is impossible at commit time (OCC-pinned) and
      // unreplayable after it, so fail loudly rather than drop a delete
      val refs = c.dvRefs.toMap
      val targets = refs.keySet
      val livePaths = live.map(_.path).toSet
      val missing = targets -- livePaths
      if (missing.nonEmpty) throw new java.io.IOException(
        s"corrupt commit $p: dv ref targets non-live file(s) " +
          missing.toSeq.sorted.mkString(", "))
      live.map(e => refs.get(e.path).fold(e)(r => e.copy(dv = Some(r)))) ++
        c.files
    case other => throw new java.io.IOException(
      s"corrupt commit $p: unknown action '$other'")
  }

  /** Folded log state at one version: live set, latest scheme, txn
    * high-water marks, accumulated props — everything a statement's
    * snapshot derives from the commit walk. */
  private final case class LogState(live: Vector[FileEntry],
                                    scheme: Option[String],
                                    txns: Map[String, Long],
                                    props: Map[String, String])

  /** Snapshot-state cache — [[commitParseCache]]'s discipline lifted from
    * the per-file parse to the whole fold (the Delta/Iceberg snapshot
    * cache): [[replay]]/[[txnState]]/[[propsState]] each re-walked and
    * re-folded the commit list once per STATEMENT, so a 20-statement
    * script over a 30-commit table folded the same immutable state
    * hundreds of times. Keyed by (qualified dir, commit count ≤ target,
    * newest such commit's (version, mtime, len), seed-checkpoint version)
    * — a dropped-and-recreated table dir writes new commit files with new
    * mtimes, so stale state can never alias; a fresh commit changes the
    * head triple, so writers always see their own writes. Correctness
    * never depends on a hit (a miss just folds). */
  private val logStateCache =
    new java.util.concurrent.ConcurrentHashMap[String, LogState]()

  private def logState(fs: FileSystem, dir: String,
                       asOf: Option[Long]): LogState = {
    val target = asOf.getOrElse(Long.MaxValue)
    // one listing serves the key, the commit walk, and the checkpoint
    // seed — this runs for every snapshot derivation, so the listing
    // count per statement matters
    val ld = logDir(dir)
    val listed =
      try { if (fs.exists(ld)) fs.listStatus(ld).toSeq else Nil }
      catch { case _: java.io.FileNotFoundException => Nil }
    val commits = listed.flatMap { st =>
      st.getPath.getName match {
        case CommitName(v) if v.toLong <= target =>
          Some((v.toLong, st.getPath, st))
        case _ => None
      }
    }.sortBy(_._1)
    val ckpts = listed.flatMap { st =>
      st.getPath.getName match {
        case CkptName(v) if v.toLong <= target => Some(v.toLong -> st.getPath)
        case _ => None
      }
    }.sortBy(_._1)
    val key = {
      val head = commits.lastOption.map { case (v, _, st) =>
        s"$v:${st.getModificationTime}:${st.getLen}"
      }.getOrElse("none")
      val ckptV = ckpts.lastOption.map(_._1).getOrElse(Long.MinValue)
      s"${fs.makeQualified(new Path(dir))}@${commits.size}:$head:$ckptV"
    }
    val hit = logStateCache.get(key)
    if (hit != null) return hit
    val base = ckpts.lastOption.map { case (v, p) => (v, parse(fs, p)) }
    var live = base.map(_._2.files.toVector).getOrElse(Vector.empty)
    var scheme = base.flatMap(_._2.scheme)
    var txns = base.map(_._2.txns.toMap).getOrElse(Map.empty[String, Long])
    var props = base.map(_._2.props.toMap).getOrElse(Map.empty[String, String])
    val from = base.map(_._1).getOrElse(Long.MinValue)
    commits.filter(_._1 > from).foreach { case (_, p, _) =>
      val c = parse(fs, p)
      live = applyCommit(live, c, p)
      if (c.scheme.isDefined) scheme = c.scheme
      c.txns.foreach { case (app, epoch) =>
        if (txns.getOrElse(app, Long.MinValue) < epoch)
          txns += (app -> epoch)
      }
      c.props.foreach { case (k, v) => props += (k -> v) }
    }
    val state = LogState(live, scheme, txns, props.filter(_._2.nonEmpty))
    if (logStateCache.size > 4096) logStateCache.clear()
    logStateCache.put(key, state)
    state
  }

  /** Replay the log up to `asOf` (inclusive; None = head):
    * (live files, latest scheme descriptor). Seeds from the latest
    * checkpoint at or below the target, so replay cost is O(commits since
    * the last [[compactLog]]), not O(table lifetime) — and the fold
    * itself is computed once per version ([[logState]]). */
  private def replay(fs: FileSystem, dir: String,
                     asOf: Option[Long] = None): (Seq[FileEntry], Option[String]) = {
    val s = logState(fs, dir, asOf)
    (s.live, s.scheme)
  }

  /** Per-application txn high-water marks as of `asOf` (None = head):
    * appId → max committed epoch. Seeds from the newest checkpoint at or
    * below the target (checkpoints carry the accumulated map — see
    * [[compactLog]]), then folds the commits after it, so log compaction
    * never forgets an epoch. */
  private def txnState(fs: FileSystem, dir: String,
                       asOf: Option[Long] = None): Map[String, Long] =
    logState(fs, dir, asOf).txns

  /** Accumulated table properties as of `asOf` (None = head): latest
    * value per key wins; empty value = removed. Seeds from checkpoints
    * like [[txnState]]. */
  private def propsState(fs: FileSystem, dir: String,
                         asOf: Option[Long] = None): Map[String, String] =
    logState(fs, dir, asOf).props

  /** One replay pass yielding the live set AFTER each available version,
    * ascending — what [[vacuum]] retention needs without re-replaying per
    * version. When [[compactLog]] has pruned old commits, the enumeration
    * starts from the pruning-base checkpoint (whose version IS the floor),
    * so every advertised version is covered. */
  private def liveSetsByVersion(fs: FileSystem,
                                dir: String): Seq[(Long, Vector[FileEntry], Boolean)] = {
    val commits = listCommits(fs, dir)
    // only a ckpt at/below the FIRST commit may seed: a mid-history ckpt
    // would skip enumerating the older-but-still-present versions
    val base = commits.headOption.flatMap { case (first, _) =>
      baseFor(fs, dir, first)
    }
    var live = base.map(_._2.files.toVector).getOrElse(Vector.empty)
    val from = base.map(_._1).getOrElse(Long.MinValue)
    val sets = Seq.newBuilder[(Long, Vector[FileEntry], Boolean)]
    base.foreach { case (v, _) => sets += ((v, live, true)) }
    commits.filter(_._1 > from).foreach { case (v, p) =>
      val c = parse(fs, p)
      live = applyCommit(live, c, p)
      sets += ((v, live, c.dataChange))
    }
    sets.result()
  }

  // --------------------------------------------------------- vacuum floor

  /** Commits beyond the newest checkpoint (the whole log when none) —
    * the health metric [[graft.ops.Maintenance]]'s compact_log threshold
    * reads; O(log listing), no commit parsed. */
  private[graft] def commitsSinceCheckpoint(spark: SparkSession,
                                            dir: String): Int = {
    val fs = hadoopFs(spark, dir)
    val ckpt = listCheckpoints(fs, dir).lastOption.map(_._1)
      .getOrElse(Long.MinValue)
    listCommits(fs, dir).count(_._1 > ckpt)
  }

  /** Oldest version guaranteed readable after vacuums (see [[vacuum]]);
    * absent until a vacuum actually removes a committed batch. */
  private def readFloor(fs: FileSystem, dir: String): Option[Long] = {
    val p = new Path(logDir(dir), FloorName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), UTF_8).trim finally in.close()
      text.toLongOption
    }
  }

  private def writeFloor(fs: FileSystem, dir: String, v: Long): Unit = {
    val p = new Path(logDir(dir), FloorName)
    val out = fs.create(p, true) // marker, not a commit — overwrite is fine
    try out.write(v.toString.getBytes(UTF_8)) finally out.close()
  }

  /** Publish a commit into the next numbered log slot. The content is
    * written to a tmp name first; the rename into the numbered slot is the
    * atomic visibility point.
    *
    * Conflict policy (the optimistic-concurrency split every log format
    * makes): a taken slot means another writer committed since we read the
    * log. An `append` commit is conflict-free by construction — it
    * references only its own new files and removes nothing — so it simply
    * retries into the next slot (bounded). `replace`/`replacePartitions`
    * were computed AGAINST the state we read; committing them after an
    * interleaved write would silently drop that write, so they fail loudly
    * for the caller to re-read and re-merge. */
  private def commit(fs: FileSystem, dir: String, c: Commit,
                     expectedHead: Option[Long] = None): Unit = {
    val ld = logDir(dir)
    fs.mkdirs(ld)
    val tmp = new Path(ld, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(render(c).getBytes(UTF_8)) finally out.close()
    // an append with an explicit expectedHead is ALSO pinned: it is a
    // read-merge-write in disguise (the schema-DDL property commits merge
    // the full mapping/declaration state they read at entry), so slot
    // retry would silently last-writer-win over a racing DDL
    val freeAppend = c.action == "append" && expectedHead.isEmpty
    val maxAttempts = if (freeAppend) 5 else 1
    // non-append: pin the slot to the version the caller read
    // (`expectedHead`) — if anything committed since, the state this commit
    // was merged against is stale and claiming a later slot would silently
    // drop the interleaved write. The slot claim doubles as the atomic
    // compare-and-swap: expectedHead+1 taken ⇔ head moved.
    val pinned = expectedHead
      .map(_ + 1)
      .getOrElse(listCommits(fs, dir).lastOption.map(_._1 + 1).getOrElse(1L))
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val next =
        if (freeAppend)
          listCommits(fs, dir).lastOption.map(_._1 + 1).getOrElse(1L)
        else pinned
      val slot = new Path(ld, f"$next%020d.commit")
      done = claimSlot(fs, tmp, slot)
      if (!done && attempt >= maxAttempts) {
        fs.delete(tmp, true)
        throw new CommitConflictException(
          s"tx commit failed: log slot $slot already taken (concurrent " +
            s"writer); ${c.action} commits must re-read and re-merge")
      }
    }
  }

  /** An OCC-pinned commit lost the head race: another writer committed
    * between this operation's state read and its log-slot claim. Subclasses
    * IOException (the failure every log format surfaces here) so existing
    * handlers keep working; [[withRetry]] keys on the type. */
  final class CommitConflictException(msg: String)
    extends java.io.IOException(msg)

  /** Re-run a full read-merge-commit closure until its commit lands or
    * `maxAttempts` conflicts — the retry loop every OCC caller otherwise
    * hand-rolls. `op` MUST re-read table state inside itself (every
    * TxTable mutator that defaults `expectedHead = None` does: it reads
    * the head at entry), so each attempt merges against the state that
    * actually lost the race. Only [[CommitConflictException]] retries;
    * any other failure (constraint violation, layout mismatch) propagates
    * immediately — retrying those would loop on a deterministic error.
    * Jittered linear backoff desynchronizes symmetric retriers. */
  def withRetry[T](maxAttempts: Int = 5, backoffMs: Long = 25L)(op: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      try return op
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          Thread.sleep(backoffMs * attempt +
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(math.max(1L, backoffMs)))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Atomically claim `slot` with the staged commit content in `tmp`.
    * `file:` schemes use POSIX link(2), whose EEXIST on a taken slot is
    * atomic cross-process — a rename(2) would silently OVERWRITE an
    * existing destination, letting two racing writers both "succeed" and
    * clobbering one commit. HDFS-like stores keep the rename path, where
    * rename-to-existing-destination fails by contract. */
  private def claimSlot(fs: FileSystem, tmp: Path, slot: Path): Boolean =
    if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(slot).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          // local FS without hard-link support: tmpfs/network/FUSE mounts
          // surface EPERM/EOPNOTSUPP as FileSystemException rather than
          // UnsupportedOperationException (FileAlreadyExists subclasses
          // FileSystemException, so that case must stay above this one).
          // Keep working with the weaker check-then-rename claim
          // (single-process atomicity only).
          !fs.exists(slot) && fs.rename(tmp, slot)
      }
    } else !fs.exists(slot) && fs.rename(tmp, slot)

  // ----------------------------------------------------------------- data

  /** Column envelopes from a parquet FOOTER the writer just produced — a
    * metadata read, no data pages touched. Covered: top-level
    * int/long/float/double plus date (days) and timestamp (micros) — the
    * types whose parquet statistics compare exactly in integer/double
    * space — and UTF8 strings with TRUNCATED bounds (≤ 16 bytes, lower
    * bound truncated down / upper truncated-and-incremented: the Iceberg
    * contract — a superset envelope, pruning precision lost but never a
    * matching row). Deliberately skipped: non-string binary, decimals
    * (stats are unscaled), nested paths, and any row group missing
    * statistics — a skipped column merely stays unprunable, never wrong. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          p: Path): (Long, Map[String, ColStat]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val acc = scala.collection.mutable.Map.empty[String, (String, BigDecimal, BigDecimal)]
      val accS = scala.collection.mutable.Map.empty[String, (Array[Byte], Array[Byte])]
      val dropped = scala.collection.mutable.Set.empty[String]
      val blocks = reader.getFooter.getBlocks
      blocks.forEach { b =>
        b.getColumns.forEach { c =>
          val pathParts = c.getPath.toArray
          if (pathParts.length == 1) {
            val name = pathParts(0)
            val pt = c.getPrimitiveType
            val logical = pt.getLogicalTypeAnnotation
            val logicalOk = logical == null ||
              logical.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
              logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] ||
              logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
            val isString = pt.getPrimitiveTypeName == BINARY &&
              logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            val tag = pt.getPrimitiveTypeName match {
              case INT32 | INT64      => "I"
              case FLOAT | DOUBLE     => "D"
              case _                  => ""
            }
            val st = c.getStatistics
            if (isString) {
              // full (untruncated) bytes accumulate across row groups in
              // unsigned order; truncation happens once, at render below
              if (st == null || !st.hasNonNullValue) dropped += name
              else {
                val mn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                val mx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                accS.get(name) match {
                  case None => accS(name) = (mn, mx)
                  case Some((lo, hi)) => accS(name) = (
                    if (ubCompare(mn, lo) < 0) mn else lo,
                    if (ubCompare(mx, hi) > 0) mx else hi)
                }
              }
            } else if (tag.isEmpty || !logicalOk || st == null || !st.hasNonNullValue)
              dropped += name
            else {
              // FLOAT stats widen Float -> Double BEFORE stringifying:
              // the shortest repr of a float ("0.1") parses to a different
              // double than the widened value Spark compares against, and
              // that gap is what would break mayContain's superset
              // guarantee (see its scaladoc).
              def bd(v: Any): BigDecimal = v match {
                case f: java.lang.Float => BigDecimal(f.toDouble)
                case other              => BigDecimal(other.toString)
              }
              val (mn, mx) = (bd(st.genericGetMin), bd(st.genericGetMax))
              acc.get(name) match {
                case None => acc(name) = (tag, mn, mx)
                case Some((t, lo, hi)) =>
                  acc(name) = (t, lo.min(mn), hi.max(mx))
              }
            }
          }
        }
      }
      val numeric = (acc -- dropped).map { case (n, (t, lo, hi)) =>
        n -> ColStat(t, lo.bigDecimal.toPlainString, hi.bigDecimal.toPlainString)
      }.toMap
      val strings = (accS -- dropped).flatMap { case (n, (lo, hi)) =>
        // hex in the log (tab/newline-safe); drop the column when no
        // finite truncated upper bound exists (16 leading 0xFF bytes)
        truncatedUpper(hi).map(up =>
          n -> ColStat("S", bytesToHex(lo.take(StringStatBytes)),
            bytesToHex(up)))
      }.toMap
      (reader.getRecordCount, numeric ++ strings)
    } catch {
      case scala.util.control.NonFatal(_) => (-1L, Map.empty) // stats are
        // an optimization; a footer we cannot read leaves the file
        // unprunable (and un-droppable: -1 is "unknown", never "empty")
    } finally reader.close()
  }

  /** Write `df` into a fresh staging dir; return its (relative) file
    * entries. Nothing is visible until the caller commits. The frame is
    * reverse-mapped onto the table's PHYSICAL column names first (the
    * write-side half of RENAME COLUMN — see [[renameColumn]]): a frame
    * arriving in logical names lands under the names the files carry; a
    * maintenance frame already in physical names passes through. */
  private def stage(spark: SparkSession, dir: String, df0: DataFrame,
                    partitionCols: Seq[String],
                    extraProps: Seq[(String, String)] = Nil): Seq[FileEntry] = {
    val fs = hadoopFs(spark, dir)
    val df1 = toPhysical(df0, fs, dir)
    // hash-bucketed layout: route rows through repartition(N, bucketCol)
    // so writer partition i holds exactly the keys with
    // pmod(murmur3(key), N) == i — each output file IS one bucket, and
    // the bucket id records on the entry for point/IN pruning at the
    // FileIndex seam. Every write path flows through here, so the
    // invariant holds across inserts, rewrites, and compaction.
    val bSpec = bucketSpecFromProps(extraProps)
      .orElse(bucketSpec(spark, dir))
    val df = bSpec match {
      case Some((n, c)) if df1.columns.exists(_.equalsIgnoreCase(c)) =>
        df1.repartition(n, col(c))
      case _ => df1
    }
    val batch = s"b-${java.util.UUID.randomUUID()}"
    val stagingDir = new Path(new Path(dir, DataDirName), batch)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(stagingDir.toString)
    // listFiles returns fully-qualified paths (file:/…); qualify the prefix
    // the same way or the relativization silently produces garbage
    val qualified = fs.makeQualified(stagingDir)
    // bucketed layout: rename each part file to carry Spark's bucket-id
    // suffix (`..._00003.snappy.parquet`) so the SQL scan can report
    // HashPartitioning(col, N) and a join of two same-bucketed tables
    // skips BOTH shuffles (the storage-partitioned join). The writer
    // partition index IS the bucket id (see the stats note below).
    if (bSpec.isDefined) {
      val rit = fs.listFiles(qualified, true)
      val renames = Seq.newBuilder[(Path, Path)]
      while (rit.hasNext) {
        val p = rit.next().getPath
        val name = p.getName
        if (name.endsWith(".parquet") &&
          org.apache.spark.sql.execution.datasources.BucketingUtils
            .getBucketId(name).isEmpty) {
          BucketFilePattern.findFirstMatchIn(name).foreach { m =>
            val idx = m.group(1).toInt
            val dot = name.indexOf('.')
            val renamed =
              if (dot < 0) f"${name}_$idx%05d"
              else f"${name.substring(0, dot)}_$idx%05d${name.substring(dot)}"
            renames += ((p, new Path(p.getParent, renamed)))
          }
        }
      }
      renames.result().foreach { case (from, to) =>
        require(fs.rename(from, to), s"bucket-suffix rename $from failed")
      }
    }
    val it = fs.listFiles(qualified, true)
    val files = Seq.newBuilder[FileEntry]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) {
        val inBatch = p.toString.stripPrefix(qualified.toString)
        val rel = s"$DataDirName/$batch" + inBatch
        // full relative fragment path: every `col=val` directory segment
        // between the staging root and the file, so nested (multi-column)
        // layouts round-trip through the log intact
        val segs = inBatch.split('/').dropRight(1)
          .filter(s => s.nonEmpty && s.contains("="))
        val frag = if (segs.isEmpty) None else Some(segs.mkString("/"))
        val (rows, stats) =
          footerStats(spark.sparkContext.hadoopConfiguration, p)
        // bucketed layout: the writer task index IS the bucket id
        // (partition i of repartition(N, c) = pmod(murmur3, N) == i, and
        // explicit-N repartitions are never AQE-coalesced) — record it
        // from the part-NNNNN filename under a reserved stats key; a
        // file without the stat is simply never bucket-pruned (correct)
        val bStats = bSpec.flatMap { _ =>
          val m = BucketFilePattern.findFirstMatchIn(p.getName)
          m.map(mm => BucketStatKey ->
            ColStat("I", mm.group(1).toInt.toString, mm.group(1).toInt.toString))
        }
        // a ZERO-row part file (a rewrite that deleted a file's every
        // survivor, an empty writer partition) never enters the live set:
        // it carries no stats, so it would defeat pruning forever and
        // bloat every listing; its bytes stay as staging debris vacuum
        // reclaims. -1 = unreadable footer: kept, merely unprunable.
        if (rows != 0L) files += FileEntry(rel, frag, stats ++ bStats)
      }
    }
    val result = files.result()
    // pre-warm the read-side schema cache while the footers are hot —
    // unpartitioned batches only (fragment partition columns come from
    // directory inference, which the warm shortcut can't reproduce)
    if (partitionCols.isEmpty && result.forall(_.part.isEmpty) &&
      result.nonEmpty)
      warmBatchSchema(spark,
        new Path(new Path(dir, DataDirName), batch).toString,
        result.map(f => new Path(dir, f.path).toString).sorted)
    result
  }

  // ----------------------------------------------------- BUCKETED LAYOUT

  /** `graft.bucket` = `"N:col"` — hash-bucketed layout (recorded in the
    * log at CREATE/CTAS): writes route through `repartition(N, col)` so
    * each staged file holds exactly one murmur3 bucket of the column, and
    * point/IN predicates on it prune to ≤ 1/N of the files at the
    * [[graft.sql.GraftFileIndex]] seam — the unsorted-high-cardinality
    * join-key shape where min/max envelopes prune nothing and a Bloom
    * sidecar costs a maintenance pass. Scoped: single column, pruning
    * only (the storage-partitioned-join planner integration is a later
    * step). */
  private[graft] val BucketProp = "graft.bucket"
  private[graft] val BucketStatKey = "__graft_bucket"
  private val BucketFilePattern = """part-(\d{5})""".r

  private def parseBucket(v: String, where: String): (Int, String) = {
    val i = v.indexOf(':')
    require(i > 0, s"$BucketProp on $where must be 'N:column', got '$v'")
    val n = v.substring(0, i).trim.toInt
    require(n > 0 && n <= 100000, s"$BucketProp bucket count $n out of range")
    (n, v.substring(i + 1).trim)
  }

  private def bucketSpecFromProps(props: Seq[(String, String)]): Option[(Int, String)] =
    props.collectFirst { case (k, v) if k == BucketProp && v.nonEmpty =>
      parseBucket(v, "statement") }

  /** Declared bucket layout (bucket count, physical column), if any. */
  private[graft] def bucketSpec(spark: SparkSession,
                                dir: String): Option[(Int, String)] =
    tableProperties(spark, dir).get(BucketProp).filter(_.nonEmpty)
      .map(parseBucket(_, dir))

  /** The murmur3 bucket a literal value lands in under `repartition(n, c)`
    * — Spark's `HashPartitioning.partitionIdExpression` computed at the
    * driver (`pmod(murmur3(value, seed=42), n)`). */
  private[graft] def bucketOf(value: Any, dt: DataType, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, Murmur3Hash}
    val h = Murmur3Hash(Seq(CatLit(value, dt)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % n) + n) % n
  }

  /** Comma-joined partition column list recorded in the commit's `partCol`
    * field — informational (scheme-style metadata); pruning and removal
    * operate on the full per-file fragment paths, so any number of
    * partition columns is supported. */
  private def partColField(partitionCols: Seq[String]): Option[String] =
    if (partitionCols.isEmpty) None else Some(partitionCols.mkString(","))

  /** Hive path-fragment rendering for a partition VALUE, matching what
    * Spark writes for the int/date/string-without-special-chars values the
    * [[MergeSink.PartitionScheme]]s produce. */
  def fragment(partCol: String, value: Any): String = value match {
    case null => s"$partCol=__HIVE_DEFAULT_PARTITION__"
    case v    => s"$partCol=$v"
  }

  // ------------------------------------------------------------ public API

  /** True once the table has at least one commit. */
  def exists(spark: SparkSession, dir: String): Boolean =
    listCommits(hadoopFs(spark, dir), dir).nonEmpty

  /** Latest scheme descriptor recorded in the log (partition-layout guard,
    * same role as MergeSink's `_graft_scheme` marker). */
  def currentScheme(spark: SparkSession, dir: String): Option[String] =
    replay(hadoopFs(spark, dir), dir)._2

  /** Committed versions, ascending — each is a valid [[read]] `asOf`
    * target until [[compactLog]] prunes it past its retention tail or
    * [[vacuum]] reclaims the files it references (the Delta trade:
    * retention bounds time travel). Versions below the recorded floor are
    * no longer advertised: their commits or files may be gone. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = hadoopFs(spark, dir)
    val floor = readFloor(fs, dir).getOrElse(Long.MinValue)
    listCommits(fs, dir).map(_._1).filter(_ >= floor)
  }

  /** Audit history of the advertised (above-floor) commits, newest first:
    * one row per commit with its action, wall-clock commit time (the log
    * file's modification time — the same clock timestamp travel reads),
    * file/partition churn counts, layout, idempotence mark, and property
    * count — the DESCRIBE HISTORY affordance. Driver-side O(log) commit
    * parses; no data file is touched. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fs = hadoopFs(spark, dir)
    val floor = readFloor(fs, dir).getOrElse(Long.MinValue)
    val rows = listCommits(fs, dir).filter(_._1 >= floor)
      .map { case (v, p) =>
        val c = parse(fs, p)
        (v, c.action, c.dataChange,
          new java.sql.Timestamp(fs.getFileStatus(p).getModificationTime),
          c.files.size.toLong, c.removedParts.size.toLong, c.partCol,
          c.txns.headOption.map(_._1), c.txns.headOption.map(_._2),
          c.props.size.toLong)
      }
    val sq = spark.sqlContext
    import sq.implicits._
    rows.toDF("version", "action", "data_change", "committed_at",
        "n_files_added", "n_parts_removed", "part_col", "txn_app",
        "txn_epoch", "n_props")
      .orderBy(org.apache.spark.sql.functions.desc("version"))
  }

  /** The live file entries as of `asOf` (None = head) — the SQL front
    * door's ([[graft.sql.GraftFileIndex]]) view of the table: it plans its
    * own scan over these entries (partition pruning + stats skipping in
    * `listFiles`), so it needs the raw replay result, not the planned
    * DataFrame [[read]] returns. Same vacuum-floor guard as [[read]]. */
  private[graft] def liveEntriesForSql(spark: SparkSession, dir: String,
                                       asOf: Option[Long]): Seq[FileEntry] = {
    val fs = hadoopFs(spark, dir)
    for (v <- asOf; floor <- readFloor(fs, dir))
      require(v >= floor,
        s"asOf=$v predates the vacuum retention floor $floor for $dir: " +
          "the data files those versions referenced have been reclaimed " +
          "(vacuum with a larger retainVersions to keep more history)")
    replay(fs, dir, asOf)._1
  }

  /** One diagnostic line per live file of a bucketed table: filename,
    * the bucket id parsed from its Spark-standard `_NNNNN` suffix, and
    * the id the log recorded at write time. The storage-partitioned join
    * (q166) is exchange-free only while every file's suffix agrees with
    * its recorded id ([[graft.sql.GraftFileIndex.scanBucketSpec]]) — this
    * is the layout dump its self-diagnosis prints when the measured
    * shuffle count is unexpectedly nonzero. */
  private[graft] def describeBucketLayout(spark: SparkSession,
                                          dir: String): Seq[String] = {
    val entries = liveEntriesForSql(spark, dir, None)
    val spec = bucketSpec(spark, dir)
    s"bucketSpec=$spec liveFiles=${entries.size}" +: entries.map { e =>
      val name = e.path.substring(e.path.lastIndexOf('/') + 1)
      val suffix = org.apache.spark.sql.execution.datasources
        .BucketingUtils.getBucketId(name)
      val recorded = e.stats.get(BucketStatKey).map(_.min)
      s"file=$name suffix=$suffix recorded=$recorded part=${e.part}"
    }
  }

  /** Newest version whose commit landed at or before `micros`
    * (epoch microseconds — the unit DSv2 `TIMESTAMP AS OF` resolves to),
    * within the advertised (above-floor) range. Commit time is the log
    * file's modification time, the same clock Delta's timestamp travel
    * reads. None when every advertised commit is newer. */
  private[graft] def versionAtTimestampMicros(spark: SparkSession,
                                              dir: String,
                                              micros: Long): Option[Long] = {
    val fs = hadoopFs(spark, dir)
    val floor = readFloor(fs, dir).getOrElse(Long.MinValue)
    val ms = Math.floorDiv(micros, 1000L)
    listCommits(fs, dir)
      .filter { case (v, p) =>
        v >= floor && fs.getFileStatus(p).getModificationTime <= ms
      }
      .lastOption.map(_._1)
  }

  /** Snapshot read of the live file set; None before the first commit or if
    * the live set is empty. `parts` prunes AT THE LOG LEVEL to the given
    * partition fragments — file-skipping before any footer is opened, the
    * scoped-merge fast path. `asOf` time-travels to the table as of that
    * commit version (see [[versions]]). */
  def read(spark: SparkSession, dir: String,
           parts: Option[Set[String]] = None,
           asOf: Option[Long] = None): Option[DataFrame] = {
    val fs = hadoopFs(spark, dir)
    // fail loudly BEFORE planning a scan over reclaimed files — the
    // alternative is a mid-scan FileNotFoundException with no cause
    for (v <- asOf; floor <- readFloor(fs, dir))
      require(v >= floor,
        s"asOf=$v predates the vacuum retention floor $floor for $dir: " +
          "the data files those versions referenced have been reclaimed " +
          "(vacuum with a larger retainVersions to keep more history)")
    val (liveAll, _) = replay(fs, dir, asOf)
    val live = parts match {
      case None    => liveAll
      case Some(s) =>
        liveAll.filter(_.part.exists(p => s.exists(partMatches(p, _))))
    }
    if (live.nonEmpty)
      Some(present(spark, framesFor(spark, dir, live, asOf = asOf), fs, dir, asOf))
    else if (parts.isEmpty && liveAll.isEmpty)
      // zero live files but a DECLARED schema (truncate, or a delete
      // that emptied the table): an empty typed frame — the table keeps
      // its shape, like any metadata-carrying format
      emptyDeclared(spark, fs, dir, asOf)
    else None
  }

  /** Empty frame carrying the declared schema (None when none declared) —
    * the read of a schema'd-but-empty table. */
  private def emptyDeclared(spark: SparkSession, fs: FileSystem,
                            dir: String,
                            asOf: Option[Long]): Option[DataFrame] = {
    val fields = widenDeclared(fs, dir, asOf, evolutionFields(fs, dir, asOf))
    if (fields.isEmpty) None
    else Some(presentLogical(
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(fields)),
      fs, dir, asOf))
  }

  /** TRUNCATE: one atomic commit that empties the live set AND records
    * the current full (physical) schema as declared fields, so the table
    * keeps its shape — reads return an empty typed frame, DESCRIBE and
    * INSERT keep working, and time travel below the commit still reads
    * the rows (retention governs the bytes, as for every delete). */
  def truncate(spark: SparkSession, dir: String,
               expectedHead: Option[Long] = None): Unit = {
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    require(head.isDefined, s"no TxTable at $dir")
    // physical schema (pre-mapping): the declared fields live below the
    // rename/drop presentation, exactly like ADD COLUMNS declarations.
    // The partition layout of the set being emptied rides along. The
    // declared-layout fallback applies ONLY when the live set is actually
    // empty (matching GraftFileIndex's rule) — a live-but-UNPARTITIONED
    // set also has no partition paths, and falling back there would
    // resurrect a long-abandoned declared layout that a layout-changing
    // replace() never cleared, silently re-partitioning the next INSERT.
    val liveNow = replay(fs, dir)._1
    val partCols = liveNow.flatMap(_.part).headOption
      .map(_.split('/').toSeq.map(_.takeWhile(_ != '=')))
      .getOrElse(
        if (liveNow.isEmpty) declaredPartitionCols(spark, dir) else Nil)
    commit(fs, dir, Commit("replace", None, None, Nil, Nil, Nil,
      declaredShapeProps(fs, dir, scanSchema(spark, dir, None).fields.toSeq,
        partCols)), head)
  }

  /** Internal helper names the deletion-vector read path tags rows with;
    * reserved on every DV-carrying table (guarded below and in
    * [[requireNoReservedCols]]). */
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"

  /** Union the given file entries into one DataFrame — one read per staging
    * batch (each needs its own basePath so the hive fragments
    * re-materialize the partition column), unioned by name;
    * vacuum/compaction keep the batch count bounded.
    * allowMissingColumns = ADDITIVE schema evolution: a batch committed
    * with extra columns widens the table and earlier batches read those
    * columns as null — the lakehouse "add column" path, with no table
    * rewrite.
    *
    * Deletion vectors apply HERE, so every consumer — reads, CDC slices,
    * row-level rewrites, compaction, merges — sees only live rows: entries
    * carrying a [[DvRef]] read with the parquet `_metadata.row_index`
    * position column and anti-join their sidecar's `(file, pos)` rows
    * (still a stock vectorized scan; only the DV'd files pay the join,
    * clean files take the plain path). `filePathCol`/`rowPosCol` tag rows
    * with their source file's qualified path / file-absolute row position
    * (resolved per batch BEFORE the union — `_metadata` does not resolve
    * through one). */
  /** Resolved-schema cache for the batch reads [[framesFor]] issues —
    * keyed by (batch base, sorted file list, first file's stat, the
    * session confs that steer parquet type mapping). Staged batches are
    * IMMUTABLE once committed (UUID dirs, atomic visibility), yet every
    * uncached `spark.read.parquet` pays a full schema-inference pass —
    * which in Spark is a distributed JOB (`mergeSchemasInParallel`) plus
    * a gzip'd Hadoop-conf broadcast, repeated per batch group per
    * statement. Profiling the SQL-lifecycle queries showed ~44% of their
    * wall-clock inside exactly this path. The cache replays the inferred
    * schema through `.schema(...)`, which skips the job entirely; the
    * first touch of each batch still infers, so the cached value is
    * byte-identical to what inference would produce. The first file's
    * (mtime, length) rides in the key so an external dir recreated
    * in-place with different contents (CONVERT fixtures in tests) can
    * never replay a stale schema. Size-capped: cleared wholesale rather
    * than LRU-tracked — correctness never depends on a hit. */
  private val batchSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Parquet-read confs that change how footers map to Spark types —
    * part of the schema-cache key so sessions with different read confs
    * never share an entry. */
  private def parquetConfKey(spark: SparkSession): String = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "false",
    "spark.sql.parquet.binaryAsString" -> "false",
    "spark.sql.parquet.int96AsTimestamp" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
    "spark.sql.caseSensitive" -> "false",
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "true"
  ).map { case (k, d) => spark.conf.get(k, d) }.mkString(",")

  private def batchSchemaKey(spark: SparkSession, base: String,
                             sortedPaths: Seq[String]): String = {
    val fs = hadoopFs(spark, base)
    val head = try {
      val st = fs.getFileStatus(new Path(sortedPaths.head))
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case _: java.io.IOException => "?" }
    s"$base|${sortedPaths.mkString("\u0000")}|$head|" + parquetConfKey(spark)
  }

  private def readBatch(spark: SparkSession, base: String,
                        sortedPaths: Seq[String]): DataFrame = {
    val key = batchSchemaKey(spark, base, sortedPaths)
    val reader = spark.read.option("basePath", base)
    val cached = batchSchemaCache.get(key)
    if (cached != null) reader.schema(cached).parquet(sortedPaths: _*)
    else {
      val inferred = reader.parquet(sortedPaths: _*)
      if (batchSchemaCache.size > 8192) batchSchemaCache.clear()
      batchSchemaCache.put(key, inferred.schema)
      inferred
    }
  }

  /** Recursive nullability erasure — what Spark's file-source relation
    * applies to an inferred schema (`asNullable` is private[spark]). */
  private def nullifySchema(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nullifySchema(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(
        nullifySchema(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(nullifySchema(m.keyType),
        nullifySchema(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Pre-warm [[batchSchemaCache]] for a freshly-staged UNPARTITIONED
    * batch from ONE driver-side footer read: converter output + recursive
    * nullify is exactly what Spark's inference yields for engine-written
    * files (all files of a staged batch share one write job's schema), so
    * the batch's very first read skips the inference job too. Fragmented
    * batches are skipped — their partition columns come from directory
    * inference, which this shortcut cannot reproduce. Best-effort: any
    * failure just leaves the first read to infer normally. */
  private def warmBatchSchema(spark: SparkSession, base: String,
                              sortedPaths: Seq[String]): Unit = try {
    val key = batchSchemaKey(spark, base, sortedPaths)
    if (!batchSchemaCache.containsKey(key)) {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sparkContext.hadoopConfiguration
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(sortedPaths.head), conf))
      val (msg, rowMeta) = try {
        val fm = rd.getFooter.getFileMetaData
        (fm.getSchema,
          Option(fm.getKeyValueMetaData.get(
            "org.apache.spark.sql.parquet.row.metadata")))
      } finally rd.close()
      // Spark's own inference PREFERS the catalyst schema the writer
      // serialized into the footer (readSchemaFromFooter) and only falls
      // back to the message-type converter — mirror that exactly, or a
      // type the converter maps differently under this session's confs
      // (TIMESTAMP_NTZ with inferTimestampNTZ=false, char/varchar
      // metadata) would diverge from what a cold read infers.
      val fromMeta: Option[StructType] = rowMeta.flatMap { j =>
        try Some(org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[StructType])
        catch { case scala.util.control.NonFatal(_) => None }
      }
      def b(k: String, d: String) = spark.conf.get(k, d).toBoolean
      def converted: StructType = {
        val conv = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(
            assumeBinaryIsString = b("spark.sql.parquet.binaryAsString", "false"),
            assumeInt96IsTimestamp = b("spark.sql.parquet.int96AsTimestamp", "true"),
            caseSensitive = b("spark.sql.caseSensitive", "false"),
            inferTimestampNTZ =
              b("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
            nanosAsLong = b("spark.sql.legacy.parquet.nanosAsLong", "false"))
        conv.convert(msg)
      }
      val warm = nullifySchema(fromMeta.getOrElse(converted))
        .asInstanceOf[StructType]
      if (batchSchemaCache.size > 8192) batchSchemaCache.clear()
      batchSchemaCache.put(key, warm)
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  private def framesFor(spark: SparkSession, dir: String,
                        entries: Seq[FileEntry],
                        filePathCol: Option[String] = None,
                        rowPosCol: Option[String] = None,
                        asOf: Option[Long] = None): DataFrame = {
    require(entries.nonEmpty, s"framesFor: no entries for $dir")
    val fs = hadoopFs(spark, dir)
    val (dvEntries, clean) = entries.partition(_.dv.isDefined)
    // per-batch EXISTS-default fill: a batch written BEFORE a defaulted
    // column was declared materializes the frozen declaration constant —
    // applied per batch, before unionByName's allowMissingColumns would
    // null-fill and erase the distinction between "row predates the
    // column" and "row carries NULL". Mirrors what the SQL scan path's
    // parquet reader does from EXISTS_DEFAULT schema metadata.
    val exFill: Map[String, (String, String, DataType)] = {
      val defs = columnDefaults(spark, dir, asOf)
      if (defs.isEmpty) Map.empty
      else {
        val declared = evolutionFields(fs, dir, asOf)
        defs.collect { case (c, (_, Some(ex))) =>
          declared.find(_.name == c).map(f =>
            c.toLowerCase(java.util.Locale.ROOT) -> (c, ex, f.dataType))
        }.flatten.toMap
      }
    }
    def fillExists(f: DataFrame): DataFrame =
      if (exFill.isEmpty) f
      else {
        val have = f.schema.fieldNames
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        exFill.foldLeft(f) { case (d, (ck, (c, ex, dt))) =>
          if (have.contains(ck)) d
          else d.withColumn(c,
            org.apache.spark.sql.functions.expr(ex).cast(dt))
        }
      }
    // batch base = the file's directory above any col=val fragment
    // segments: for engine-staged entries that is data/<batch> (the
    // historical grouping); for CONVERT-adopted entries it is the table
    // dir itself; for SHALLOW CLONE entries (absolute paths into the
    // source table) it is the source's batch dir. Spark's partition
    // inference parses the fragments below the base identically in all
    // three regimes.
    def baseOf(e: FileEntry): Path = {
      var p = new Path(dir, e.path).getParent // absolute e.path wins
      while (p != null && p.getName.contains("=")) p = p.getParent
      p
    }
    def rawBatches(es: Seq[FileEntry]): Seq[DataFrame] =
      es.groupBy(e => baseOf(e).toString).toSeq.sortBy(_._1)
        .map { case (base, group) =>
          val paths = group.map(e => new Path(dir, e.path).toString).sorted
          fillExists(readBatch(spark, base, paths))
        }
    val cleanRaw = rawBatches(clean)
    val dvRaw = rawBatches(dvEntries)
    // head-state widen map: a guard exemption only — the actual casts
    // apply version-correctly in widenWithEvolution (pre-ALTER live sets
    // contain no post-ALTER files, so head state can't sanction too much)
    guardTypeConflicts(spark, dir, (cleanRaw ++ dvRaw).map(_.schema),
      widenState(fs, dir, None))
    if (dvEntries.nonEmpty) {
      val clash = (cleanRaw ++ dvRaw).flatMap(_.schema.fieldNames)
        .filter(n => n == DvFileCol || n == DvPosCol).distinct
      require(clash.isEmpty,
        s"TxTable $dir: column(s) ${clash.mkString(", ")} collide with the " +
          "deletion-vector read helpers — rename them before using " +
          "deleteWhereDV on this table")
    }
    val cleanDf: Option[DataFrame] =
      if (cleanRaw.isEmpty) None
      else Some(cleanRaw.map { f =>
        val extra =
          filePathCol.map(n => col("_metadata.file_path").as(n)).toSeq ++
            rowPosCol.map(n => col("_metadata.row_index").as(n))
        if (extra.isEmpty) f else f.select(col("*") +: extra: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true)))
    val dvDf: Option[DataFrame] =
      if (dvRaw.isEmpty) None
      else {
        val scan = dvRaw.map(f => f.select(col("*"),
            col("_metadata.file_path").as(DvFileCol),
            col("_metadata.row_index").as(DvPosCol)))
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val kept = scan.join(effectiveDvRows(spark, dir, dvEntries),
          scan(DvFileCol) === col("__graft_del_file") &&
            scan(DvPosCol) === col("__graft_del_pos"), "left_anti")
        val f1 = filePathCol.fold(kept.drop(DvFileCol))(
          kept.withColumnRenamed(DvFileCol, _))
        Some(rowPosCol.fold(f1.drop(DvPosCol))(
          f1.withColumnRenamed(DvPosCol, _)))
      }
    (cleanDf, dvDf) match {
      case (Some(c), Some(d)) => c.unionByName(d, allowMissingColumns = true)
      case (Some(c), None)    => c
      case (None, Some(d))    => d
      case (None, None)       => throw new IllegalStateException("unreachable")
    }
  }

  /** The `(qualified file, pos)` position-delete rows currently in force
    * for `entries` (each of which must carry a [[DvRef]]): every
    * referenced sidecar is read once, restricted to the (file → sidecar)
    * pairs the refs actually assert — a position an OLD sidecar recorded
    * for a file whose ref has moved on is already folded into the new
    * sidecar and must not count twice. Output columns are the join-side
    * helpers `__graft_del_file` (qualified) / `__graft_del_pos`. */
  /** Every DV sidecar carries exactly (file STRING, pos BIGINT) — pass
    * the schema explicitly so sidecar reads skip schema inference (an
    * uncached inference is a Spark job + conf broadcast per read; DV-mode
    * DML issues several sidecar reads per statement). */
  private[graft] val DvSidecarSchema = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType),
    StructField("pos", org.apache.spark.sql.types.LongType)))

  private def readSidecar(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DvSidecarSchema).parquet(path)

  private def effectiveDvRows(spark: SparkSession, dir: String,
                              entries: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, concat}
    val fs = hadoopFs(spark, dir)
    val rootQ = fs.makeQualified(new Path(dir)).toString
    val refs = entries.map(e => (e.path, e.dv.get.dir))
    val refDf = spark.createDataFrame(refs)
      .toDF("__graft_ref_file", "__graft_ref_dv")
    val sidecars = refs.map(_._2).distinct.sorted.map { d =>
      readSidecar(spark, new Path(dir, d).toString)
        .select(col("file").as("__graft_del_rel"),
          col("pos").as("__graft_del_pos"), lit(d).as("__graft_del_src"))
    }.reduce(_.union(_))
    sidecars.join(broadcast(refDf),
        sidecars("__graft_del_rel") === refDf("__graft_ref_file") &&
          sidecars("__graft_del_src") === refDf("__graft_ref_dv"), "left_semi")
      // an ABSOLUTE stored path (clone/branch ref into the source table)
      // is already qualified; only table-relative entries prefix
      .select(when(col("__graft_del_rel").rlike("^([a-zA-Z][a-zA-Z0-9+.-]*:)?/"),
        col("__graft_del_rel"))
        .otherwise(concat(lit(rootQ + "/"), col("__graft_del_rel")))
        .as("__graft_del_file"), col("__graft_del_pos"))
  }

  /** Type conflicts must fail AT PLANNING with a clear message: left to
    * Spark, the union would coerce (string ∪ double → double) and only
    * blow up mid-scan on the first malformed cast — a silent-corruption
    * hazard for rows that DO happen to parse.
    * Key by the session's resolution rules: under the default
    * spark.sql.caseSensitive=false, unionByName matches 'Price' to
    * 'price', so the guard must too — or the exact hazard it documents
    * (silent cross-type coercion) walks through on a case difference. */
  private def guardTypeConflicts(spark: SparkSession, dir: String,
                                 schemas: Seq[StructType],
                                 widen: Map[String, DataType]): Unit = {
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def keyOf(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val widenKeyed = widen.map { case (c, t) => keyOf(c) -> t }
    val seen = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.types.DataType]
    for (sch <- schemas; f <- sch.fields)
      seen.get(keyOf(f.name)) match {
        case Some(t) =>
          // a DECLARED widening sanctions exactly the mixes inside its
          // lattice path (old narrow files beside new wide ones); the
          // union then coerces them and widenWithEvolution lifts the rest
          val sanctioned = widenKeyed.get(keyOf(f.name)).exists(d =>
            Seq(t, f.dataType).forall(x => x == d || widenOk(x, d)))
          require(t == f.dataType || sanctioned,
            s"TxTable $dir: column '${f.name}' has conflicting types across " +
              s"batches ($t vs ${f.dataType}) — only ADDITIVE schema " +
              "evolution (new columns) and declared type widenings " +
              "(alterColumnType) are supported")
        case None => seen(keyOf(f.name)) = f.dataType
      }
  }

  /** Log-level data skipping: [[read]] restricted to live files whose
    * recorded column envelope intersects `[lo, hi]` on `col` — the
    * Delta/Iceberg file-statistics design. The skip decision costs a log
    * replay only: no footer of a skipped file is opened, no FileIndex
    * lists it, the planner never sees it. That is the layer BELOW
    * parquet's own row-group skipping (which still applies inside the
    * files that survive) and the complement of hive-fragment pruning:
    * it works on any clustered/sorted numeric column without a partition
    * layout. Pair with [[graft.ops.Layout.writeZOrdered]]-style
    * clustering — skipping is only as good as the layout's min/max
    * tightness.
    *
    * Bounds on integral columns (int/long/date-days/timestamp-micros)
    * compare EXACTLY in integer space — callers convert temporal literals
    * to the storage unit. Float/double columns compare in double space
    * (float envelopes recorded pre-widened, one outward ulp on the
    * envelope), matching how Spark itself evaluates float predicates. Files without stats
    * (pre-stats commits, unreadable footers, unsupported types) are
    * always kept, so the result is a superset of the matching rows; the
    * caller's own row filter stays in the plan as usual. Returns None
    * when NO live file can contain the range. */
  def readSkipping(spark: SparkSession, dir: String, col: String,
                   lo: BigDecimal, hi: BigDecimal,
                   parts: Option[Set[String]] = None,
                   asOf: Option[Long] = None): Option[DataFrame] = {
    val fs = hadoopFs(spark, dir)
    for (v <- asOf; floor <- readFloor(fs, dir))
      require(v >= floor, s"asOf=$v predates the vacuum retention floor " +
        s"$floor for $dir")
    val (liveAll, _) = replay(fs, dir, asOf)
    val scoped = parts match {
      case None    => liveAll
      case Some(s) =>
        liveAll.filter(_.part.exists(p => s.exists(partMatches(p, _))))
    }
    // stats are keyed by the PHYSICAL name the footer carried
    val physCol = physicalNameOf(fs, dir, asOf, col)
    val live = scoped.filter(_.stats.get(physCol).forall(_.mayContain(lo, hi)))
    if (live.isEmpty) None
    else Some(present(spark, framesFor(spark, dir, live, asOf = asOf),
      fs, dir, asOf))
  }

  /** (files kept, live files total) for a [[readSkipping]] range — the
    * observability hook tests and maintenance use to see skipping work
    * without planning a scan. */
  def skippingStats(spark: SparkSession, dir: String, col: String,
                    lo: BigDecimal, hi: BigDecimal): (Int, Int) = {
    val fs = hadoopFs(spark, dir)
    val live = replay(fs, dir)._1
    val p = physicalNameOf(fs, dir, None, col)
    (live.count(_.stats.get(p).forall(_.mayContain(lo, hi))), live.size)
  }

  /** The physical (file-carried) name behind logical column `col` at
    * `asOf` — identity when never renamed. */
  private def physicalNameOf(fs: FileSystem, dir: String,
                             asOf: Option[Long], col: String): String =
    mappingState(fs, dir, asOf)._1.find(_._2 == col).map(_._1).getOrElse(col)

  /** [[skippingStats]] for a STRING range `[lo, hi]` (None = unbounded),
    * compared in UTF8_BINARY byte order against the truncated string
    * envelopes. The SQL front door ([[graft.sql.GraftFileIndex]]) applies
    * the same test per predicate — this is its observability twin. */
  def skippingStatsString(spark: SparkSession, dir: String, col: String,
                          lo: Option[String], hi: Option[String]): (Int, Int) = {
    val loB = lo.map(_.getBytes(UTF_8)); val hiB = hi.map(_.getBytes(UTF_8))
    val fs = hadoopFs(spark, dir)
    val live = replay(fs, dir)._1
    val p = physicalNameOf(fs, dir, None, col)
    (live.count(_.stats.get(p).forall(_.mayContainUtf8(loB, hiB))), live.size)
  }

  /** Change-data-feed between versions: every row added or removed by the
    * commits in `(afterVersion, untilVersion]` (until None = head), tagged
    * `_change_type` (`insert` | `delete`) and `_commit_version`. None when
    * the range is empty.
    *
    * Derivation is FILE-level (the Delta CDF-without-CDC-files fallback):
    * consecutive live sets are diffed, files entering the set read as
    * inserts, files leaving it as deletes. No data is duplicated or
    * rewritten to serve the feed — removed files' bytes stay on disk until
    * [[vacuum]], which is why `afterVersion` must be at or above the
    * retention floor (checked loudly, same as [[read]] asOf).
    *
    * Costs O(changed files) scan — an incremental consumer pays for what
    * changed, not table size. Maintenance rewrites ([[compactData]],
    * [[compactSmallFiles]], z-order) commit with `dataChange = false` and
    * are SKIPPED here entirely — same rows, so nothing to report. Caveat
    * that remains: a user-issued `replace` diffs as full-table delete +
    * insert; a keyed consumer (see [[readChangesKeyed]], or an aggregate
    * view applying −pre/+post) nets it out to zero for rows whose content
    * didn't change. */
  def readChanges(spark: SparkSession, dir: String, afterVersion: Long,
                  untilVersion: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val fs = hadoopFs(spark, dir)
    for (floor <- readFloor(fs, dir))
      require(afterVersion >= floor,
        s"readChanges(afterVersion=$afterVersion) predates the vacuum " +
          s"retention floor $floor for $dir: files removed by those " +
          "versions may be reclaimed (vacuum with a larger retainVersions " +
          "to keep a longer feed)")
    val parts = changeSlices(fs, dir, afterVersion,
      untilVersion.getOrElse(Long.MaxValue)).map { case (v, t, entries) =>
      framesFor(spark, dir, entries)
        .withColumn("_change_type", lit(t))
        .withColumn("_commit_version", lit(v))
    }
    if (parts.isEmpty) None
    else Some(present(spark,
      parts.reduce(_.unionByName(_, allowMissingColumns = true)),
      fs, dir, untilVersion))
  }

  /** The file-level change slices in `(afterVersion, until]`: one
    * `(version, insert|delete, entries)` per non-empty side of each
    * version's live-set diff. Versions whose commit is marked
    * `dataChange = false` (compaction, z-order — byte rearrangement, same
    * rows) contribute NOTHING: their diff is pure churn no row-level
    * consumer should see, and emitting it would re-stream a whole table
    * after every maintenance cycle. Driver-side log work only — no data
    * file is opened here. */
  private def changeSlices(fs: FileSystem, dir: String, afterVersion: Long,
                           until: Long): Seq[(Long, String, Seq[FileEntry])] = {
    val sets = liveSetsByVersion(fs, dir)
    // pair consecutive enumerated sets; the base live set for the first
    // in-range version is the set AT afterVersion (empty for afterVersion=0)
    var prev: Vector[FileEntry] =
      sets.find(_._1 == afterVersion).map(_._2).getOrElse {
        require(afterVersion == 0L,
          s"readChanges: base version $afterVersion not found in the log " +
            s"for $dir (available: ${sets.map(_._1).mkString(",")})")
        Vector.empty
      }
    val slices = Seq.newBuilder[(Long, String, Seq[FileEntry])]
    sets.filter { case (v, _, _) => v > afterVersion && v <= until }
      .foreach { case (v, cur, dataChange) =>
        if (dataChange) {
          // identity = (path, dv ref): a deletion-vector attach changes a
          // file's LIVE rows without moving its bytes, so it must diff as
          // remove(file@oldDv) + add(file@newDv) — framesFor reads each
          // side DV-applied, which presents the commit exactly like a
          // copy-on-write rewrite (deleted rows as pure deletes, survivors
          // as cancelling pairs signed-delta consumers net to zero)
          def ident(e: FileEntry): String =
            e.dv.fold(e.path)(d => s"${e.path}@${d.dir}")
          val prevIds = prev.map(ident).toSet
          val curIds = cur.map(ident).toSet
          val added = cur.filterNot(e => prevIds.contains(ident(e)))
          val removed = prev.filterNot(e => curIds.contains(ident(e)))
          if (added.nonEmpty) slices += ((v, "insert", added))
          if (removed.nonEmpty) slices += ((v, "delete", removed))
        }
        prev = cur
      }
    slices.result()
  }

  /** Per-version change SHAPE in `(afterVersion, until]`, driver-side:
    * (version, added files, removed files), dataChange=false maintenance
    * versions excluded — what a streaming source needs for admission
    * decisions without scanning a byte of data. */
  private[graft] def changeShape(spark: SparkSession, dir: String,
                                 afterVersion: Long,
                                 untilVersion: Option[Long] = None)
      : Seq[(Long, Boolean, Boolean)] =
    changeSlices(hadoopFs(spark, dir), dir, afterVersion,
      untilVersion.getOrElse(Long.MaxValue))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (v, ss) =>
        (v, ss.exists(_._2 == "insert"), ss.exists(_._2 == "delete"))
      }

  /** File entries ADDED per version in `(afterVersion, until]` (dataChange
    * versions only) — the input for byte/file-based stream rate limiting. */
  private[graft] def addedEntriesByVersion(spark: SparkSession, dir: String,
                                           afterVersion: Long,
                                           untilVersion: Option[Long] = None)
      : Seq[(Long, Seq[FileEntry])] =
    changeSlices(hadoopFs(spark, dir), dir, afterVersion,
      untilVersion.getOrElse(Long.MaxValue))
      .collect { case (v, "insert", es) => v -> es }

  /** [[readChanges]] with per-key collapsing: when one commit both removes
    * and re-adds the same key (every replacePartitions-based upsert does),
    * the pair is re-tagged `update_preimage`/`update_postimage` so a
    * consumer can distinguish an update from churn. One hash shuffle over
    * the CHANGED rows only — O(delta), never O(table). */
  def readChangesKeyed(spark: SparkSession, dir: String, keys: Seq[String],
                       afterVersion: Long,
                       untilVersion: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, collect_set, size, when}
    import org.apache.spark.sql.expressions.Window
    readChanges(spark, dir, afterVersion, untilVersion).map { ch =>
      val w = Window.partitionBy(
        (keys :+ "_commit_version").map(col): _*)
      ch.withColumn("__types", collect_set(col("_change_type")).over(w))
        .withColumn("_change_type",
          when(size(col("__types")) === 2,
            when(col("_change_type") === "insert", "update_postimage")
              .otherwise("update_preimage"))
            .otherwise(col("_change_type")))
        .drop("__types")
    }
  }

  /** Absolute paths of the current live data files — the identity a
    * derivative per-file structure (e.g. a Bloom sidecar) keys on to stay
    * in sync with the table at O(changed files) per refresh. */
  def liveFilePaths(spark: SparkSession, dir: String): Seq[String] = {
    val fs = hadoopFs(spark, dir)
    replay(fs, dir)._1
      .map(e => fs.makeQualified(new Path(dir, e.path)).toString)
  }

  /** Read a SUBSET of the live files by absolute path (as returned by
    * [[liveFilePaths]]) — partition columns re-materialize exactly as in
    * [[read]]. The scan side of an index probe: the index names the
    * files, this plans only them. None if no named file is live.
    * `filePathCol` tags each row with its source file's qualified path
    * (resolved per batch BEFORE the union — `_metadata` does not resolve
    * through one), for per-file index builders. */
  def readFiles(spark: SparkSession, dir: String,
                absPaths: Set[String],
                filePathCol: Option[String] = None): Option[DataFrame] = {
    val fs = hadoopFs(spark, dir)
    val live = replay(fs, dir)._1.filter(e =>
      absPaths.contains(fs.makeQualified(new Path(dir, e.path)).toString))
    if (live.isEmpty) None
    else Some(present(spark,
      framesFor(spark, dir, live, filePathCol), fs, dir, None))
  }

  /** Head commit version, None before the first commit. Capture BEFORE
    * reading the state a replace-style write will be merged against, and
    * pass it as that write's `expectedHead` — the commit then fails if
    * anything landed in between (optimistic concurrency). */
  def headVersion(spark: SparkSession, dir: String): Option[Long] =
    listCommits(hadoopFs(spark, dir), dir).lastOption.map(_._1)

  /** Atomically replace the whole table. `expectedHead`: see
    * [[headVersion]]; None skips the staleness check (single-writer).
    * `dataChange = false` marks a row-preserving maintenance rewrite
    * (compaction/clustering): the change feed skips the commit entirely. */
  def replace(spark: SparkSession, dir: String, df: DataFrame,
              partitionCols: Seq[String] = Nil,
              scheme: Option[String] = None,
              expectedHead: Option[Long] = None,
              txn: Option[(String, Long)] = None,
              dataChange: Boolean = true,
              extraProps: Seq[(String, String)] = Nil): Unit = {
    enforceConstraints(spark, dir, df)
    val fs = hadoopFs(spark, dir)
    val files = stage(spark, dir, df, partitionCols, extraProps)
    // a replace whose result is EMPTY (INSERT OVERWRITE of an empty
    // SELECT, a CoW MERGE that deleted everything) still declares the
    // table's shape — otherwise read() would return None and the SQL
    // schema would vanish, inconsistent with TRUNCATE/DELETE-to-empty.
    // The declared schema is the incoming frame's, in the PHYSICAL names
    // files would have carried (same layer as every declaration).
    val props =
      if (files.nonEmpty) Nil
      else declaredShapeProps(fs, dir,
        toPhysical(df, fs, dir).schema.fields.toSeq, partitionCols)
    commit(fs, dir,
      Commit("replace", partColField(partitionCols), scheme, Nil, files,
        txn.toSeq, props ++ extraProps, dataChange = dataChange),
      expectedHead)
  }

  // ------------------------------------------------------------ IDENTITY

  /** Property key prefix for `GENERATED ... AS IDENTITY` columns
    * (`graft.identity.<physical column>` →
    * `start=<s>,step=<st>,explicit=<bool>,next=<n>`): the allocator's
    * high-water mark (`next` = first unallocated value) rides the SAME
    * OCC-pinned commit as the data it numbered, so concurrent inserts
    * either see each other's allocation or conflict and retry — ids can
    * never double-allocate (the Delta identity-column design). */
  private val IdentityPropPrefix = "graft.identity."

  // --------------------------------------------------- GENERATED COLUMNS

  /** `GENERATED ALWAYS AS (<expr>)` columns (`graft.generated.<col>` =
    * the expression SQL): the engine COMPUTES the column on every insert
    * (explicit values refuse loudly — the expression is the single
    * source of truth), and when the column is also a PARTITION column,
    * raw predicates on the expression's SOURCE column auto-derive
    * partition pruning at the [[graft.sql.GraftFileIndex]] seam (the
    * Delta generated-column pruning trick): `WHERE event_ts BETWEEN a
    * AND b` prunes `day=...` fragments without the query ever naming
    * `day`. Derivation is supported for the monotonic date shapes
    * `date(src)` / `to_date(src)` / `cast(src as date)`; any other
    * expression still computes correctly, it just doesn't derive. */
  private val GeneratedPropPrefix = "graft.generated."

  /** column → generation expression SQL, as of head. */
  private[graft] def generatedSpecs(spark: SparkSession,
                                    dir: String): Map[String, String] =
    tableProperties(spark, dir).collect {
      case (k, v) if k.startsWith(GeneratedPropPrefix) && v.nonEmpty =>
        k.stripPrefix(GeneratedPropPrefix) -> v
    }

  /** (source column, derivation kind) for the derivable MONOTONE
    * generation shapes — the read side's pruning contract. Kinds:
    * `date` (date(src) / to_date(src) / cast(src as date)), `year`
    * (year(src)), `trunc:<unit>` (date_trunc('<unit>', src), units
    * year/quarter/month/week/day/hour — all order-preserving in a fixed
    * timezone). month()/day() alone are NOT monotone (they wrap) and
    * never derive. */
  private[graft] def derivedPartSource(exprSql: String): Option[(String, String)] = {
    val s = exprSql.toLowerCase(java.util.Locale.ROOT)
      .replace("`", "").replaceAll("\\s+", "")
    val m1 = "^(?:date|to_date)\\((\\w+)\\)$".r
    val m2 = "^cast\\((\\w+)asdate\\)$".r
    val m3 = "^year\\((\\w+)\\)$".r
    val m4 = "^date_trunc\\('(year|quarter|month|week|day|hour)',(\\w+)\\)$".r
    s match {
      case m1(c) => Some((c, "date"))
      case m2(c) => Some((c, "date"))
      case m3(c) => Some((c, "year"))
      case m4(u, c) => Some((c, s"trunc:$u"))
      case _ => None
    }
  }

  /** Property keys for column DEFAULT values (the reference's pervasive
    * DDL idiom — `setup_target.py:17-20,78-79,102,130,152,172-180,204,
    * 237`: `DEFAULT 0`, `DEFAULT TRUE`, `DEFAULT NOW()`, ...):
    *
    *  - `graft.default.<physical col>` — the CURRENT default: the SQL
    *    expression text applied when an INSERT omits the column,
    *    re-resolved per statement (so `current_timestamp()` stamps each
    *    insert, exactly PostgreSQL's `DEFAULT NOW()`). Changeable later
    *    via `ALTER COLUMN ... SET/DROP DEFAULT` without touching data.
    *  - `graft.default.exists.<physical col>` — the EXISTENCE default:
    *    the constant literal frozen when the column was DECLARED, filled
    *    into rows written BEFORE the column existed (files that lack the
    *    column physically). Never changes after declaration — the
    *    Delta/Spark existence-default contract, enforced by the OSS
    *    vectorized parquet reader from schema metadata, so old files are
    *    never rewritten and pushed-down filters evaluate against the
    *    filled value.
    *
    * Both are versioned properties: time travel below the declaring DDL
    * sees no default (ADD COLUMN'd columns below the ALTER don't exist at
    * all), and SHOW CREATE TABLE's emitted DDL re-declares them. */
  private val DefaultPropPrefix = "graft.default."
  private val DefaultExistsPrefix = "graft.default.exists."

  /** Declared defaults at `asOf`: physical column →
    * (current default SQL if any, exists default literal SQL if any). */
  private[graft] def columnDefaults(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): Map[String, (Option[String], Option[String])] = {
    val props = propsState(hadoopFs(spark, dir), dir, asOf)
    val exists = props.collect {
      case (k, v) if k.startsWith(DefaultExistsPrefix) =>
        k.stripPrefix(DefaultExistsPrefix) -> v
    }
    val current = props.collect {
      case (k, v) if k.startsWith(DefaultPropPrefix) &&
        !k.startsWith(DefaultExistsPrefix) =>
        k.stripPrefix(DefaultPropPrefix) -> v
    }
    (exists.keySet ++ current.keySet).map { c =>
      c -> (current.get(c), exists.get(c))
    }.toMap
  }

  /** Attach declared defaults as the standard Spark metadata keys
    * (`CURRENT_DEFAULT`/`EXISTS_DEFAULT`) on matching fields — the single
    * mechanism by which the analyzer fills omitted INSERT columns and the
    * vectorized parquet reader fills pre-declaration rows. Fields are
    * matched by the schema's own names (call with physical-name schemas
    * and physical-keyed defaults). */
  private[graft] def withDefaultMetadata(schema: StructType,
      defaults: Map[String, (Option[String], Option[String])]): StructType = {
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    if (defaults.isEmpty) schema
    else StructType(schema.fields.map { f =>
      defaults.get(f.name) match {
        case Some((cur, ex)) =>
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          cur.foreach(s => b.putString(
            ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, s))
          ex.foreach(s => b.putString(
            ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, s))
          f.copy(metadata = b.build())
        case None => f
      }
    })
  }

  /** Lift `CURRENT_DEFAULT`/`EXISTS_DEFAULT` field metadata (what the V2
    * CREATE/ALTER path delivers after Spark's own analysis of the DEFAULT
    * clause) into the property encoding. Validates that the exists text,
    * when present, is a resolvable constant. */
  private def defaultPropsOf(fields: Seq[StructField]): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    fields.flatMap { f =>
      val cur =
        if (f.metadata.contains(
          ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY))
          Some((DefaultPropPrefix + f.name) -> f.metadata.getString(
            ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY))
        else None
      val ex =
        if (f.metadata.contains(
          ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
          Some((DefaultExistsPrefix + f.name) -> f.metadata.getString(
            ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
        else None
      cur.toSeq ++ ex.toSeq
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN <c> SET DEFAULT <expr>` / `DROP
    * DEFAULT`: changes the CURRENT default only — the existence default
    * stays frozen at its declaration value (rows written before the
    * column keep reading the original constant; this is the Spark/Delta
    * contract, and the only sane one: a later SET DEFAULT must not
    * rewrite history). `column` is the LOGICAL name; the property is
    * keyed physical so renames never orphan it. */
  def setColumnDefault(spark: SparkSession, dir: String, column: String,
                       sqlText: Option[String]): Unit = {
    require(exists(spark, dir), s"no TxTable at $dir")
    val schema = read(spark, dir).map(_.schema)
      .getOrElse(scanSchema(spark, dir, None))
    require(schema.fieldNames.exists(_.equalsIgnoreCase(column)),
      s"ALTER COLUMN ... DEFAULT: no column `$column` in $dir")
    val fs = hadoopFs(spark, dir)
    val phys = physicalNameOf(fs, dir, None, column)
    sqlText.foreach { s =>
      // validate NOW (parse + resolve), not at the first INSERT
      try spark.range(1).select(org.apache.spark.sql.functions.expr(s))
        .queryExecution.analyzed
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"DEFAULT expression `$s` for column `$column` does not " +
            s"resolve: ${e.getMessage}", e)
      }
    }
    commitProps(spark, dir,
      Map((DefaultPropPrefix + phys) -> sqlText.getOrElse("")))
  }

  /** Strip the default metadata keys from fields (before persisting a
    * schema JSON — the properties are the single source of truth; a stale
    * copy inside `graft.schema.added` could contradict a later
    * `ALTER COLUMN SET DEFAULT` — and before attaching the insert-facing
    * CURRENT-only view in [[graft.sql.GraftSql.tableSchema]]). */
  private[graft] def stripDefaultMetadata(fields: Seq[StructField]): Seq[StructField] = {
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    fields.map { f =>
      if (f.metadata.contains(
        ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY) ||
        f.metadata.contains(
          ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY)) {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
          .remove(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY)
        f.copy(metadata = b.build())
      } else f
    }
  }

  final case class IdentitySpec(start: Long, step: Long,
                                explicit: Boolean, next: Long) {
    def render: String = s"start=$start,step=$step,explicit=$explicit,next=$next"
  }

  private[graft] def parseIdentity(v: String, key: String): IdentitySpec = {
    val m = v.split(',').map { e =>
      val i = e.indexOf('=')
      require(i > 0, s"corrupt identity property $key: '$v'")
      e.substring(0, i) -> e.substring(i + 1)
    }.toMap
    val s = IdentitySpec(m("start").toLong, m("step").toLong,
      m("explicit").toBoolean, m("next").toLong)
    require(s.step != 0, s"identity property $key has step 0")
    s
  }

  /** Identity specs declared on the table (physical column → spec). */
  private[graft] def identitySpecs(spark: SparkSession,
                                   dir: String): Map[String, IdentitySpec] =
    tableProperties(spark, dir).collect {
      case (k, v) if k.startsWith(IdentityPropPrefix) =>
        k.stripPrefix(IdentityPropPrefix) -> parseIdentity(v, k)
    }

  /** Dense per-commit identity assignment: `start + step·rowIndex` in the
    * incoming frame's row order. `zipWithIndex` is two distributed passes
    * (per-partition counts, then assignment) — no single-partition window,
    * no driver materialization, O(rows) at any scale. */
  private def assignDense(spark: SparkSession, df: DataFrame, c: String,
                          start: Long, step: Long,
                          dt: DataType): DataFrame = {
    val hasCol = df.columns.contains(c)
    val outSchema =
      if (hasCol) StructType(df.schema.map(f =>
        if (f.name == c) f.copy(dataType = dt) else f))
      else df.schema.add(StructField(c, dt))
    val idx = if (hasCol) df.schema.fieldIndex(c) else -1
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      val raw = start + step * i
      // Narrowing must FAIL on overflow, never wrap: a wrapped id is a
      // silently re-issued duplicate, violating the uniqueness contract.
      val v: Any = dt match {
        case org.apache.spark.sql.types.IntegerType =>
          java.lang.Math.toIntExact(raw)
        case org.apache.spark.sql.types.ShortType =>
          if (raw < Short.MinValue || raw > Short.MaxValue)
            throw new ArithmeticException(
              s"identity value $raw overflows SMALLINT column `$c`")
          raw.toShort
        case _ => raw
      }
      if (idx >= 0) org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(idx, v))
      else org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v)
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** The SQL front door's insert, honoring `GENERATED ... AS IDENTITY`
    * columns (no-op pass-through to [[append]]/[[replace]] when the table
    * declares none — plain tables keep conflict-free appends):
    *
    *  - the identity column omitted or all-NULL → the engine assigns
    *    `next, next+step, ...` in incoming row order and advances `next`
    *    in the SAME commit (dense within a commit; gaps only across
    *    conflicting retries/aborts, like every log-structured allocator);
    *  - explicit non-NULL values → refused for GENERATED ALWAYS, accepted
    *    for GENERATED BY DEFAULT (the allocator advances past their max);
    *  - the commit is OCC-pinned: two concurrent inserts can't allocate
    *    the same range — the loser retries against the advanced `next`.
    *
    * Direct [[append]]/[[replace]] API calls bypass allocation on purpose:
    * internal rewrites (compaction, MERGE write-back, z-order) re-commit
    * rows that legitimately carry their ids. */
  def insertWithIdentity(spark: SparkSession, dir: String, df: DataFrame,
                         overwrite: Boolean,
                         partitionCols: Seq[String] = Nil,
                         txn: Option[(String, Long)] = None,
                         extraProps: Seq[(String, String)] = Nil): Unit = {
    require(!extraProps.exists(_._1.startsWith("graft.schema.")),
      "graft.schema.* properties are managed by the ALTER TABLE column " +
        "commands — declaring them in TBLPROPERTIES would corrupt the " +
        "declared schema")
    // Identity specs can ALSO arrive in the statement's own TBLPROPERTIES
    // (CTAS/RTAS `TBLPROPERTIES ('graft.identity.id'='...')`): those must
    // govern the very insert that creates the table, and land in the SAME
    // commit as its data — not a follow-up property commit.
    val extraSpecs = extraProps.collect {
      case (k, v) if k.startsWith(IdentityPropPrefix) =>
        k.stripPrefix(IdentityPropPrefix) -> parseIdentity(v, k)
    }.toMap
    val extraGenerated = extraProps.collect {
      case (k, v) if k.startsWith(GeneratedPropPrefix) && v.nonEmpty =>
        k.stripPrefix(GeneratedPropPrefix) -> v
    }.toMap
    if (identitySpecs(spark, dir).isEmpty && extraSpecs.isEmpty &&
      generatedSpecs(spark, dir).isEmpty && extraGenerated.isEmpty) {
      if (overwrite) replace(spark, dir, df, partitionCols, txn = txn,
        extraProps = extraProps)
      else append(spark, dir, df, partitionCols, txn = txn,
        extraProps = extraProps)
      return
    }
    withRetry() {
      val head = headVersion(spark, dir)
      require(head.isDefined || extraSpecs.nonEmpty || extraGenerated.nonEmpty,
        s"no TxTable at $dir")
      // statement-declared specs win over stored ones (RTAS re-declares
      // the table wholesale); re-read stored state per retry attempt
      val fresh = identitySpecs(spark, dir) ++ extraSpecs
      var frame = df
      val upd = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val declared = read(spark, dir).map(_.schema).getOrElse(df.schema)
      fresh.toSeq.sortBy(_._1).foreach { case (c, sp) =>
        val dt = declared.find(_.name == c).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.LongType)
        val hasValues = frame.columns.contains(c) &&
          frame.filter(col(c).isNotNull).limit(1).count() > 0
        if (hasValues) {
          require(sp.explicit,
            s"column `$c` of $dir is GENERATED ALWAYS AS IDENTITY — " +
              "explicit values are not allowed; omit the column (or " +
              "insert NULL) and the engine assigns them")
          require(frame.filter(col(c).isNull).limit(1).count() == 0,
            s"mixed explicit and NULL values for identity column `$c` — " +
              "provide all values or none")
          // The allocator must advance PAST the taken range: past the max
          // explicit value when step > 0, past the MIN when step < 0 — a
          // descending identity walks toward smaller values, so the
          // frontier is the smallest explicit id, not the largest.
          val mx = frame.agg(
            (if (sp.step > 0) max(col(c)) else min(col(c))).cast("long"))
            .head().getLong(0)
          val next2 = if (sp.step > 0) math.max(sp.next, mx + sp.step)
                      else math.min(sp.next, mx + sp.step)
          upd += (IdentityPropPrefix + c) -> sp.copy(next = next2).render
        } else {
          val n = frame.count()
          if (n > 0) {
            frame = assignDense(spark, frame, c, sp.next, sp.step, dt)
            upd += (IdentityPropPrefix + c) ->
              sp.copy(next = sp.next + sp.step * n).render
          }
        }
      }
      // GENERATED ALWAYS AS (<expr>): the engine computes the column —
      // explicit values refuse loudly (the expression is the single
      // source of truth; omit the column or insert NULL)
      val gens = generatedSpecs(spark, dir) ++ extraGenerated
      gens.toSeq.sortBy(_._1).foreach { case (c, exprSql) =>
        val dt = declared.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        val hasValues = frame.columns.exists(_.equalsIgnoreCase(c)) &&
          frame.filter(col(c).isNotNull).limit(1).count() > 0
        require(!hasValues,
          s"column `$c` of $dir is GENERATED ALWAYS AS ($exprSql) — " +
            "explicit values are not allowed; omit the column (or insert " +
            "NULL) and the engine computes it")
        val computed = dt.fold(org.apache.spark.sql.functions.expr(exprSql))(
          t => org.apache.spark.sql.functions.expr(exprSql).cast(t))
        frame = frame.drop(frame.columns.filter(_.equalsIgnoreCase(c)): _*)
          .withColumn(c, computed)
      }
      enforceConstraints(spark, dir, frame)
      val fs = hadoopFs(spark, dir)
      val files = stage(spark, dir, frame, partitionCols, extraProps)
      val shape =
        if (!overwrite || files.nonEmpty) Nil
        else declaredShapeProps(fs, dir,
          toPhysical(frame, fs, dir).schema.fields.toSeq, partitionCols)
      // extraProps BEFORE upd: props fold in order within a commit, and
      // the advanced allocator state must win over the statement-declared
      // graft.identity.* it just consumed. A brand-new table (CTAS with
      // identity TBLPROPERTIES) pins slot 1, same as DDL-first CREATE.
      commit(fs, dir, Commit(if (overwrite) "replace" else "append",
        partColField(partitionCols), None, Nil, files, txn.toSeq,
        shape ++ extraProps ++ upd.toSeq), head.orElse(Some(0L)))
    }
  }

  /** Identity allocation for a MERGE source (the reference's CDC-into-
    * BIGSERIAL shape): fresh ids assign to EVERY source row — rows that
    * end up matching (and updating) simply never use theirs, becoming
    * gaps, exactly like any allocator that reserves ahead; UNIQUENESS is
    * the contract, density is not. The allocator advance is its own
    * OCC-pinned commit BEFORE the merge commit, so two concurrent merges
    * cannot double-issue (an aborted merge leaves a gap, never a dupe).
    * `explicitCols`: GENERATED BY DEFAULT columns carrying source values
    * — the allocator skips past their max instead. The returned frame is
    * locally checkpointed: the merge machinery evaluates its source more
    * than once, and the assignment must not re-run. */
  private[graft] def allocateIdentityForMerge(spark: SparkSession,
      dir: String, df: DataFrame, assign: Seq[String],
      explicitCols: Seq[String]): DataFrame = withRetry() {
    val head = headVersion(spark, dir)
    require(head.isDefined, s"no TxTable at $dir")
    val specs = identitySpecs(spark, dir)
    val declared = read(spark, dir).map(_.schema).getOrElse(df.schema)
    var frame = df
    val upd = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var changed = false
    assign.sorted.foreach { c =>
      val sp = specs.getOrElse(c, throw new IllegalStateException(
        s"no identity spec for $c on $dir"))
      val n = frame.count()
      if (n > 0) {
        val dt = declared.find(_.name == c).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.LongType)
        frame = assignDense(spark, frame, c, sp.next, sp.step, dt)
        upd += (IdentityPropPrefix + c) ->
          sp.copy(next = sp.next + sp.step * n).render
        changed = true
      }
    }
    explicitCols.sorted.foreach { c =>
      val sp = specs.getOrElse(c, throw new IllegalStateException(
        s"no identity spec for $c on $dir"))
      if (frame.filter(col(c).isNotNull).limit(1).count() > 0) {
        require(frame.filter(col(c).isNull).limit(1).count() == 0,
          s"mixed explicit and NULL values for identity column `$c` in " +
            "MERGE source — provide all values or none")
        // Frontier of the taken range: max for ascending, MIN for
        // descending identities (same rule as insertWithIdentity).
        val mx = frame.agg(
          (if (sp.step > 0) max(col(c)) else min(col(c))).cast("long"))
          .head().getLong(0)
        val next2 = if (sp.step > 0) math.max(sp.next, mx + sp.step)
                    else math.min(sp.next, mx + sp.step)
        if (next2 != sp.next) {
          upd += (IdentityPropPrefix + c) -> sp.copy(next = next2).render
        }
      }
    }
    if (upd.nonEmpty)
      commitProps(spark, dir, upd.toMap, expectedHead = head)
    if (changed) frame.localCheckpoint() else frame
  }

  /** Atomically append files (M3/M4 path — nothing existing is rewritten).
    * `txn` rides an (appId, epoch) idempotence mark in the commit — see
    * [[appendOnce]]. */
  def append(spark: SparkSession, dir: String, df: DataFrame,
             partitionCols: Seq[String] = Nil,
             txn: Option[(String, Long)] = None,
             extraProps: Seq[(String, String)] = Nil): Unit = {
    enforceConstraints(spark, dir, df)
    val files = stage(spark, dir, df, partitionCols, extraProps)
    commit(hadoopFs(spark, dir), dir,
      Commit("append", partColField(partitionCols), None, Nil, files,
        txn.toSeq, extraProps))
  }

  /** DDL-first table creation (the `CREATE TABLE` the reference's whole
    * bootstrap is built on, `setup_target.py:11-242`): one atomic first
    * commit carrying the declared schema, the partition layout, and any
    * initial table properties — zero data files. Reads return an empty
    * typed frame, DESCRIBE shows schema + partitioning, INSERT lands under
    * the declared layout, and `constraint.*` properties arm CHECKs from
    * the very first write. Refuses an existing table (CTAS/IF NOT EXISTS
    * handling is the caller's). Partition columns must be declared fields;
    * the `graft.schema.*` namespace is managed here, not via `props`. */
  def create(spark: SparkSession, dir: String, schema: StructType,
             partitionCols: Seq[String] = Nil,
             props: Map[String, String] = Map.empty): Unit = {
    require(!exists(spark, dir), s"TxTable already exists at $dir")
    require(schema.fields.nonEmpty, s"CREATE TABLE $dir with no columns")
    schema.fields.foreach(f => requireMappableName(f.name, "column"))
    val names = schema.fieldNames.toSeq
    require(names.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      .size == names.size, s"duplicate column name in CREATE TABLE $dir: " +
      names.mkString(", "))
    val missing = partitionCols.filterNot(names.contains)
    require(missing.isEmpty,
      s"PARTITIONED BY column(s) ${missing.mkString(", ")} not in the " +
        s"declared schema of $dir")
    require(!props.keys.exists(_.startsWith("graft.schema.")),
      "graft.schema.* properties are managed by the DDL itself")
    // a NOT NULL column becomes an armed CHECK constraint (this format
    // has no physical nullability — parquet fields are optional — so the
    // honest enforcement point is the same write-time gate every
    // constraint uses; silently weakening the declaration would let NULLs
    // land in a column the user declared NOT NULL)
    val notNull = schema.fields.filterNot(_.nullable).map(f =>
      s"constraint.not_null_${f.name}" -> s"`${f.name}` IS NOT NULL")
    // GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY — the parser puts the
    // spec in field metadata; it becomes the allocator property
    // ([[IdentityPropPrefix]]) advanced by [[insertWithIdentity]]. A
    // graft.identity.* TBLPROPERTY form is ALSO accepted (what SHOW CREATE
    // TABLE emits — re-running that DDL resumes allocation past the old
    // high-water mark instead of re-issuing taken ids).
    def integral(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    props.foreach { case (k, v) =>
      if (k.startsWith(IdentityPropPrefix)) {
        val c = k.stripPrefix(IdentityPropPrefix)
        require(names.contains(c),
          s"identity property $k names no declared column of $dir")
        require(integral(schema(c).dataType),
          s"identity column $c must be integral, got ${schema(c).dataType}")
        parseIdentity(v, k) // validate shape up front, not at first insert
      }
      // column-DEFAULT properties (the TBLPROPERTY form SHOW CREATE TABLE
      // emits alongside the column clause) must name declared columns
      if (k.startsWith(DefaultPropPrefix)) {
        val c =
          if (k.startsWith(DefaultExistsPrefix)) k.stripPrefix(DefaultExistsPrefix)
          else k.stripPrefix(DefaultPropPrefix)
        require(names.contains(c),
          s"default property $k names no declared column of $dir")
      }
      // bucketed layout: the column must be declared and must not double
      // as a partition column (a fragment is already one key's home)
      if (k == BucketProp && v.nonEmpty) {
        val (_, c) = parseBucket(v, dir)
        require(names.contains(c),
          s"$BucketProp names no declared column of $dir: $c")
        require(!partitionCols.contains(c),
          s"$BucketProp column $c is already a partition column of $dir")
      }
    }
    // DEFAULT clauses arrive as field metadata (Spark analyzed + constant-
    // folded them under SUPPORT_COLUMN_DEFAULT_VALUE); persist as the
    // graft.default.* properties — the single versioned source of truth
    val defaultProps = defaultPropsOf(schema.fields.toSeq)
    val identityProps = schema.fields.flatMap { f =>
      org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
        .map { s =>
          require(integral(f.dataType),
            s"identity column ${f.name} must be integral, got ${f.dataType}")
          require(s.getStep != 0, s"identity column ${f.name} has step 0")
          require(!partitionCols.contains(f.name),
            s"identity column ${f.name} cannot be a partition column")
          (IdentityPropPrefix + f.name) -> IdentitySpec(s.getStart,
            s.getStep, s.isAllowExplicitInsert, s.getStart).render
        }
    }.toSeq
    // GENERATED ALWAYS AS (<expr>) — the expression SQL rides field
    // metadata from the V2 CREATE path (or arrives as a graft.generated.*
    // TBLPROPERTY); validate it references declared columns NOW
    val generatedProps = schema.fields.flatMap { f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map { exprSql =>
          (GeneratedPropPrefix + f.name) -> exprSql
        }
    }.toSeq
    (generatedProps ++ props.toSeq.filter(_._1.startsWith(GeneratedPropPrefix)))
      .foreach { case (k, exprSql) =>
        val c = k.stripPrefix(GeneratedPropPrefix)
        require(names.contains(c),
          s"generated property $k names no declared column of $dir")
        val parsed = try
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(exprSql)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"generation expression for `$c` does not parse: $exprSql", e)
        }
        val refs = parsed.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name }
        val unknown = refs.filterNot(r =>
          names.exists(_.equalsIgnoreCase(r)))
        require(unknown.isEmpty,
          s"generation expression for `$c` references unknown column(s) " +
            s"${unknown.mkString(", ")}: $exprSql")
        require(!refs.exists(_.equalsIgnoreCase(c)),
          s"generation expression for `$c` references itself: $exprSql")
      }
    val fs = hadoopFs(spark, dir)
    // pinned to slot 1 (expectedHead = 0): two racing CREATE TABLEs both
    // pass the exists() check above, and a free-slot append retry would
    // let the loser land in slot 2 — silently overriding the winner's
    // declared schema, layout, and constraints. Pinning makes the loser
    // fail with CommitConflictException like every other schema DDL.
    commit(fs, dir, Commit("append", partColField(partitionCols), None,
      Nil, Nil, Nil,
      (declaredShapeProps(fs, dir,
        schema.fields.map(f => StructField(f.name, f.dataType)).toSeq,
        partitionCols) ++ (props.toSeq ++ notNull).sortBy(_._1) ++
        (identityProps ++ defaultProps ++ generatedProps)
          .sortBy(_._1))), // after props: metadata wins collisions
      expectedHead = Some(0L))
  }

  /** `CONVERT TO GRAFT` — in-place adoption of an existing plain-parquet
    * or hive-partitioned directory (the Delta `CONVERT TO DELTA` /
    * Iceberg `migrate` move): ONE metadata commit referencing the files
    * exactly where they stand. Zero bytes rewritten at any table size —
    * a 100 TB lake migrates in O(files) footer reads, not a rewrite.
    *
    *  - partition columns infer from the `col=val` path fragments (any
    *    nesting depth; a mixed layout refuses loudly);
    *  - per-file min/max envelopes + row counts come from the parquet
    *    footers, so stats-skipping works from the first post-convert read;
    *  - after the commit the LOG owns the table: DELETE/UPDATE/MERGE,
    *    time travel, OPTIMIZE, streaming all work; rewrites land in
    *    engine-owned `data/` batches and retire adopted entries;
    *  - vacuum's reclaim domain stays the engine-owned `data/` dir:
    *    adopted files are NEVER deleted by vacuum (conservative — the
    *    engine did not create them, so it never destroys them; reclaim
    *    superseded adopted bytes manually once the retention floor has
    *    passed the conversion).
    *
    * Returns the number of adopted files. */
  def convertInPlace(spark: SparkSession, dir: String): Int = {
    val fs = hadoopFs(spark, dir)
    require(!exists(spark, dir), s"TxTable already exists at $dir")
    val root = fs.makeQualified(new Path(dir))
    require(fs.exists(root), s"CONVERT TO GRAFT: no directory at $dir")
    val rootStr = root.toString
    val candidates = Seq.newBuilder[(String, Option[String], String)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val rel = p.toString.stripPrefix(rootStr).stripPrefix("/")
      val segs = rel.split('/')
      // skip hidden/metadata files (_SUCCESS, .crc, _graft_log if racing);
      // the engine-owned data/ dir can hold no pre-conversion bytes (the
      // `exists` guard above proved no log), so a LEGACY subdir literally
      // named data/ holding parquet must refuse loudly — silently skipping
      // it would adopt the table with those rows missing
      val hidden = segs.exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && p.getName.endsWith(".parquet")) {
        require(segs.head != DataDirName,
          s"CONVERT TO GRAFT: $dir contains parquet under a '$DataDirName/' " +
            s"subdirectory ($rel) — that name is reserved for engine-staged " +
            "batches, and adopting around it would silently drop its rows. " +
            "Rename the directory first")
        val partSegs = segs.dropRight(1).filter(_.contains("="))
        require(partSegs.length == segs.length - 1,
          s"CONVERT TO GRAFT: $rel mixes partition (`col=val`) and plain " +
            "directory segments — adopt a uniform hive layout or flatten")
        val frag = if (partSegs.isEmpty) None else Some(partSegs.mkString("/"))
        candidates += ((rel, frag, p.toString))
      }
    }
    // footer reads: driver-side for small adoptions; DISTRIBUTED above the
    // threshold — a 100 TB adoption has millions of files, and a
    // single-threaded driver walk would serialize its "O(files) footer
    // reads" promise into hours. One task per ~64 files, stats computed
    // where the bytes are; only the (rows, stats) tuples come back.
    val cand = candidates.result()
    val withStats: Seq[(String, Option[String], Long, Map[String, ColStat])] =
      if (cand.size <= 64)
        cand.map { case (rel, frag, p) =>
          val (rows, stats) =
            footerStats(spark.sparkContext.hadoopConfiguration, new Path(p))
          (rel, frag, rows, stats)
        }
      else {
        val serConf = org.apache.spark.sql.graftbridge.GraftBridge
          .serializable(spark.sparkContext.hadoopConfiguration)
        val slices = math.max(1, math.min(10000, cand.size / 64))
        spark.sparkContext.parallelize(cand, slices)
          .map { case (rel, frag, p) =>
            val (rows, stats) = footerStats(serConf.value, new Path(p))
            (rel, frag, rows, stats)
          }.collect().toSeq.sortBy(_._1)
      }
    val entries = withStats.collect {
      case (rel, frag, rows, stats) if rows != 0L =>
        FileEntry(rel, frag, stats)
    }
    require(entries.nonEmpty,
      s"CONVERT TO GRAFT: no parquet files under $dir")
    // uniform layout: every file's fragment must name the same column
    // sequence (the same guard the SQL scan applies to staged batches)
    val layouts = entries.map(_.part
      .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil))
      .distinct
    require(layouts.size == 1,
      s"CONVERT TO GRAFT: mixed partition layouts under $dir: " +
        layouts.map(_.mkString(",")).mkString(" vs "))
    val partCols = layouts.head
    // pinned to slot 1 like DDL-first CREATE: two racing converts
    // conflict instead of silently double-adopting
    commit(fs, dir, Commit("append", partColField(partCols), None, Nil,
      entries, Nil, Nil), expectedHead = Some(0L))
    entries.size
  }

  // ------------------------------------------ REFS: CLONE / BRANCH / TAG

  /** `SHALLOW CLONE` — a new table whose first commit references the
    * source's live files by ABSOLUTE path (the Delta CLONE move): zero
    * data copied at any size; the clone then evolves independently (its
    * own writes land in its own `data/`), and the engine never deletes
    * the absolute-referenced source bytes (same conservative rule as
    * CONVERT-adopted files). The full property state (declared schema,
    * constraints, defaults, identity allocators, stats) copies with it.
    * Source and clone must share a filesystem. `extraProps` layers
    * ref-metadata on top (the branch machinery's base pointer).
    *
    * The Delta-clone hazard applies: the clone references source bytes it
    * does not own, so a VACUUM of the SOURCE that reclaims batches the
    * clone still references invalidates the clone. Clone for short-lived
    * isolation (branches publish or drop promptly); deep-copy via CTAS
    * when the copy must outlive the source's retention window. */
  def cloneShallow(spark: SparkSession, srcDir: String, dstDir: String,
                   extraProps: Seq[(String, String)] = Nil): Int = {
    val sfs = hadoopFs(spark, srcDir)
    require(exists(spark, srcDir), s"no TxTable at $srcDir")
    require(!exists(spark, dstDir), s"TxTable already exists at $dstDir")
    val srcQ = sfs.makeQualified(new Path(srcDir))
    def absolutize(p: String): String = {
      val hp = new Path(p)
      if (hp.isAbsolute || hp.toUri.getScheme != null) p
      else new Path(srcQ, p).toString
    }
    val (live, scheme) = replay(sfs, srcDir)
    val absEntries = live.map(e => e.copy(
      path = absolutize(e.path),
      dv = e.dv.map(d => d.copy(dir = absolutize(d.dir)))))
    val layouts = absEntries.map(_.part
      .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil))
      .distinct
    val partCols = if (layouts.size == 1) layouts.head
      else declaredPartitionCols(spark, srcDir)
    val props = propsState(sfs, srcDir).toSeq.sortBy(_._1) ++ extraProps
    commit(hadoopFs(spark, dstDir), dstDir,
      Commit("append", partColField(partCols), scheme, Nil, absEntries,
        Nil, props), expectedHead = Some(0L))
    absEntries.size
  }

  /** Branch refs — the write-audit-publish pattern (Iceberg branch refs /
    * Nessie): a branch is a SHALLOW CLONE of the table at its creation
    * head, living under the table's own `_graft_branches/<name>` dir, so
    * its data batches stay inside the table's filesystem footprint.
    * Writes to the branch are ordinary commits in the branch log —
    * completely isolated from `main`, which keeps serving reads. Publish
    * is FAST-FORWARD only (see [[publishBranch]]): zero file copies,
    * O(branch batches) directory renames + O(branch commits) atomic slot
    * claims. */
  private def branchDirOf(dir: String, name: String): String =
    s"$dir/${BranchesDirName}/$name"
  private val BranchesDirName = "_graft_branches"
  private val BranchBaseProp = "graft.branch.base"

  /** Ref lifecycle events surface in the TABLE's own history (one
    * props-only commit per event, `graft.ref.last_event` = what
    * happened): `DESCRIBE HISTORY` / the graft_history TVF shows branch
    * and tag churn next to the data commits it brackets. */
  private val RefEventProp = "graft.ref.last_event"
  private def recordRefEvent(spark: SparkSession, dir: String,
                             what: String): Unit =
    commitProps(spark, dir, Map(RefEventProp -> what))

  def createBranch(spark: SparkSession, dir: String, name: String): Long = {
    requireMappableName(name, "branch")
    require(exists(spark, dir), s"no TxTable at $dir")
    val bd = branchDirOf(dir, name)
    require(!exists(spark, bd), s"branch `$name` already exists on $dir")
    // the event marker commits FIRST: it advances main's head, and the
    // branch must base on the post-marker head or its own fast-forward
    // publish would refuse against the marker
    recordRefEvent(spark, dir, s"branch `$name` created")
    val base = headVersion(spark, dir).get
    cloneShallow(spark, dir, bd,
      extraProps = Seq(BranchBaseProp -> base.toString))
    base
  }

  /** (branch name, base version) of every live branch. */
  def listBranches(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val fs = hadoopFs(spark, dir)
    val bs = new Path(dir, BranchesDirName)
    if (!fs.exists(bs)) Nil
    else fs.listStatus(bs).toSeq.filter(_.isDirectory).flatMap { st =>
      val bd = st.getPath.toString
      if (!exists(spark, bd)) None
      else tableProperties(spark, bd).get(BranchBaseProp)
        .map(b => st.getPath.getName -> b.toLong)
    }.sortBy(_._1)
  }

  /** Drop a branch: the whole branch dir (log + its own data batches)
    * reclaims in one delete — branch batches were never visible to main
    * readers, so no retention dance is needed. */
  def dropBranch(spark: SparkSession, dir: String, name: String): Boolean = {
    val fs = hadoopFs(spark, dir)
    val bd = new Path(branchDirOf(dir, name))
    require(fs.exists(bd), s"no branch `$name` on $dir")
    val ok = fs.delete(bd, true)
    if (ok) recordRefEvent(spark, dir, s"branch `$name` dropped (reclaimed)")
    ok
  }

  /** Fast-forward publish: replay the branch's commits (everything above
    * its clone seed) onto main, claiming main's next slots atomically.
    * Refuses if main advanced past the branch base — the branch must be
    * recreated from the new head (standard fast-forward semantics; no
    * silent merge). Zero file copies: branch-staged batch dirs RENAME
    * into main's `data/`, absolute refs back into main re-relativize
    * (so deletion vectors taken on the branch key correctly against
    * main's live paths). The branch dir is deleted at the end — its
    * batches now belong to main. Returns the number of commits
    * published.
    *
    * Crash/conflict safety (the r14 TOCTOU): main readers resolve files
    * through the LOG, so a batch dir sitting in main's `data/` with no
    * commit referencing it is invisible — which lets the publish move
    * EVERY batch before landing ANY commit. A `_publish_intent` marker
    * (the moved batch list) is written into the branch dir first, so a
    * crash mid-move is recoverable: the next publish restores every
    * listed batch that main's log does not reference, then proceeds
    * fresh. A commit-slot conflict (a concurrent writer beat the
    * publish) rolls the unreferenced moves back and rethrows — nothing
    * half-applied, the branch stays readable. If SOME commits landed
    * before the conflict, exactly those batches stay (main's log owns
    * them) and the re-run refuses on the fast-forward check, loudly. */
  def publishBranch(spark: SparkSession, dir: String, name: String): Int = {
    val fs = hadoopFs(spark, dir)
    val bd = branchDirOf(dir, name)
    require(exists(spark, bd), s"no branch `$name` on $dir")
    val bdPath = new Path(bd)
    val intent = new Path(bdPath, PublishIntentName)
    if (fs.exists(intent)) recoverPublish(spark, fs, dir, intent)
    val base = tableProperties(spark, bd).get(BranchBaseProp)
      .map(_.toLong).getOrElse(throw new IllegalStateException(
        s"$bd carries no ${BranchBaseProp} — not a branch?"))
    val mainHead = headVersion(spark, dir).get
    val mainQ = fs.makeQualified(new Path(dir)).toString

    // pass 1 — PURE: fix every commit's paths and collect the batch
    // prefixes that must move; no filesystem mutation yet
    val toMove = scala.collection.mutable.LinkedHashSet.empty[String]
    def fixPath(p: String): String = {
      val hp = new Path(p)
      if (hp.isAbsolute || hp.toUri.getScheme != null) {
        // an absolute ref back into main re-relativizes; any other
        // absolute ref (a clone-of-clone) passes through untouched
        if (p.startsWith(mainQ + "/")) p.stripPrefix(mainQ + "/") else p
      } else { batchPrefixOf(p).foreach(toMove += _); p }
    }
    val branchCommits = listCommits(fs, bd).filter(_._1 >= 2L)
    val fixedCommits = branchCommits.map { case (_, cp) =>
      val c = parse(fs, cp)
      c.copy(
        files = c.files.map(e => e.copy(path = fixPath(e.path),
          dv = e.dv.map(d => d.copy(dir = fixPath(d.dir))))),
        // "rewrite" carries FILE paths in removedParts (the retired
        // files) — they re-key exactly like live paths; every other
        // action's removedParts are partition FRAGMENTS, never paths
        removedParts =
          if (c.action == "rewrite") c.removedParts.map(fixPath)
          else c.removedParts,
        dvRefs = c.dvRefs.map { case (k, d) =>
          fixPath(k) -> d.copy(dir = fixPath(d.dir)) },
        props = c.props.filterNot(_._1.startsWith("graft.branch.")))
    }

    // Idempotence: a publish that crashed AFTER landing every commit but
    // BEFORE deleting the branch dir re-enters here with mainHead > base.
    // If main's slots base+1..base+n hold exactly this branch's fixed
    // commits, the publish already happened — finish the cleanup instead
    // of refusing with wrong guidance.
    if (mainHead != base) {
      val n = fixedCommits.size
      val alreadyLanded = n > 0 && mainHead >= base + n && {
        val byV = listCommits(fs, dir).toMap
        (1 to n).forall { i =>
          byV.get(base + i).exists(p => render(parse(fs, p)) ==
            render(fixedCommits(i - 1)))
        }
      }
      if (alreadyLanded) {
        fs.delete(bdPath, true)
        recordRefEvent(spark, dir,
          s"branch `$name` published ($n commits, completed after crash) " +
            "and reclaimed")
        return n
      }
      require(mainHead == base,
        s"fast-forward publish refused: $dir advanced ($base -> $mainHead) " +
          s"since branch `$name` was created — recreate the branch from " +
          "the current head and replay the work")
    }

    // pass 2 — move every batch, intent-first so a crash is recoverable.
    // DV sidecars REWRITE into main (row keys re-relativize) and keep the
    // branch original — the branch dir deletion at the end reclaims it.
    val out = fs.create(intent, true)
    try out.write(toMove.toSeq.sorted.mkString("\n")
      .getBytes(UTF_8)) finally out.close()
    toMove.foreach { bp =>
      val from = new Path(bdPath, bp)
      val to = new Path(dir, bp)
      if (fs.exists(from)) {
        if (bp.startsWith(s"$DataDirName/dv-")) {
          val sc = readSidecar(spark, from.toString)
          fs.mkdirs(to.getParent)
          sc.select(when(col("file").startsWith(mainQ + "/"),
              col("file").substr(
                org.apache.spark.sql.functions.lit(mainQ.length + 2),
                org.apache.spark.sql.functions.lit(Int.MaxValue)))
              .otherwise(col("file")).as("file"), col("pos"))
            .repartition(col("file"))
            .sortWithinPartitions("file", "pos")
            .write.mode("overwrite").parquet(to.toString)
        } else {
          fs.mkdirs(to.getParent)
          require(fs.rename(from, to),
            s"publish: rename $from -> $to failed")
        }
      }
    }

    // pass 3 — land the commits. On a slot conflict, roll back every
    // moved batch no LANDED commit references and rethrow.
    var published = 0
    try {
      fixedCommits.foreach { c =>
        commit(fs, dir, c, expectedHead = Some(base + published))
        published += 1
      }
    } catch {
      case e: Throwable =>
        val landedRefs = fixedCommits.take(published)
          .flatMap(c => c.files.map(_.path) ++ c.files.flatMap(_.dv.map(_.dir))
            ++ c.dvRefs.map(_._2.dir)).flatMap(batchPrefixOf).toSet
        var rolledBackAll = true
        toMove.filterNot(landedRefs.contains).foreach { bp =>
          val to = new Path(dir, bp)
          if (fs.exists(to)) {
            if (bp.startsWith(s"$DataDirName/dv-")) fs.delete(to, true)
            else {
              val back = new Path(bdPath, bp)
              fs.mkdirs(back.getParent)
              if (!fs.rename(to, back)) rolledBackAll = false
            }
          }
        }
        // the intent is the ONLY recovery record: it may clear only when
        // nothing landed AND every move came back — otherwise the next
        // publish's recovery pass finishes the job
        if (published == 0 && rolledBackAll) fs.delete(intent, false)
        throw new java.io.IOException(
          s"publish of branch `$name` aborted after $published of " +
            s"${fixedCommits.size} commits (concurrent writer on $dir?): " +
            (if (published == 0)
              "nothing was applied; the branch is intact — re-run publish"
            else
              "the landed commits' batches belong to main now; re-running " +
                "publish will refuse on the fast-forward check"), e)
    }
    // the branch's batches moved into main; what remains (log + seed +
    // intent + dv originals) is unreferenced — reclaim the ref
    fs.delete(bdPath, true)
    recordRefEvent(spark, dir,
      s"branch `$name` published ($published commits) and reclaimed")
    published
  }

  private val PublishIntentName = "_publish_intent"

  /** Recover from a publish that crashed between the intent write and the
    * branch-dir delete: every intended batch that sits in main WITHOUT any
    * main-log commit referencing it moves back to the branch (plain
    * batches) or deletes (rewritten DV sidecars — the branch kept its
    * original), then the intent clears. Batches main's log references
    * stay — a landed commit owns them. */
  private def recoverPublish(spark: SparkSession, fs: FileSystem,
                             dir: String, intent: Path): Unit = {
    val in = fs.open(intent)
    val bps = try new String(in.readAllBytes(), UTF_8).linesIterator
      .filter(_.nonEmpty).toSeq finally in.close()
    // every batch prefix ANY main commit OR checkpoint mentions (live or
    // historical — time travel may still read superseded commits, and
    // after a compactLog a landed batch may survive ONLY in a checkpoint;
    // missing it here would pull a referenced batch out of main)
    val referenced = (listCommits(fs, dir) ++ listCheckpoints(fs, dir))
      .map(_._2).flatMap { p =>
        val c = parse(fs, p)
        (c.files.map(_.path) ++ c.files.flatMap(_.dv.map(_.dir)) ++
          c.dvRefs.map(_._2.dir) ++
          (if (c.action == "rewrite") c.removedParts else Nil))
          .flatMap(batchPrefixOf)
      }.toSet
    val bdPath = intent.getParent
    var restoredAll = true
    bps.filterNot(referenced.contains).foreach { bp =>
      val to = new Path(dir, bp)
      if (fs.exists(to)) {
        if (bp.startsWith(s"$DataDirName/dv-")) fs.delete(to, true)
        else {
          val back = new Path(bdPath, bp)
          fs.mkdirs(back.getParent)
          if (!fs.rename(to, back)) restoredAll = false
        }
      }
    }
    require(restoredAll,
      s"publish recovery for ${bdPath.getName} could not restore every " +
        "intended batch (rename failed) — the intent marker is kept; " +
        "re-run publish after the filesystem recovers")
    fs.delete(intent, false)
  }

  /** Tag refs — immutable named versions (`_graft_log/refs/<name>.tag`
    * holds the version number): `VERSION AS OF 'name'` resolves through
    * [[resolveTag]]. Creation refuses an existing name (tags never
    * move); dropping a tag only removes the pointer. */
  private def tagPath(dir: String, name: String): Path =
    new Path(new Path(dir, "_graft_log/refs"), s"$name.tag")

  def createTag(spark: SparkSession, dir: String, name: String,
                version: Option[Long] = None): Long = {
    requireMappableName(name, "tag")
    require(exists(spark, dir), s"no TxTable at $dir")
    val fs = hadoopFs(spark, dir)
    val v = version.getOrElse(headVersion(spark, dir).get)
    require(versions(spark, dir).contains(v),
      s"tag `$name`: version $v is not an advertised version of $dir")
    val p = tagPath(dir, name)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false) // refuse overwrite: tags never move
    try out.write(v.toString.getBytes(UTF_8)) finally out.close()
    recordRefEvent(spark, dir, s"tag `$name` created at version $v")
    v
  }

  def resolveTag(spark: SparkSession, dir: String,
                 name: String): Option[Long] = {
    val fs = hadoopFs(spark, dir)
    val p = tagPath(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toLong)
      finally in.close()
    }
  }

  def listTags(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val fs = hadoopFs(spark, dir)
    val refs = new Path(dir, "_graft_log/refs")
    if (!fs.exists(refs)) Nil
    else fs.listStatus(refs).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".tag"))
      .flatMap { s =>
        val n = s.getPath.getName.stripSuffix(".tag")
        resolveTag(spark, dir, n).map(n -> _)
      }.sortBy(_._1)
  }

  def dropTag(spark: SparkSession, dir: String, name: String): Boolean = {
    val fs = hadoopFs(spark, dir)
    val p = tagPath(dir, name)
    require(fs.exists(p), s"no tag `$name` on $dir")
    val ok = fs.delete(p, false)
    if (ok) recordRefEvent(spark, dir, s"tag `$name` dropped (reclaimed)")
    ok
  }

  // ------------------------------------------------------------- ANALYZE

  /** Property keys of the ANALYZE stats commit ([[analyze]] /
    * [[analyzeColumns]]). Versioned like every property: stats ride
    * checkpoints, so [[compactLog]] keeps them; time travel reads the
    * stats that existed at that version. */
  private val StatsRowCountProp = "graft.stats.rowcount"
  private val StatsSizeBytesProp = "graft.stats.sizebytes"
  private val StatsVersionProp = "graft.stats.version"
  private val StatsColPrefix = "graft.stats.col."
  // the clean/DV'd split of the same measurement: rows and bytes in files
  // WITHOUT a deletion vector vs LIVE rows/bytes in files WITH one — what
  // the SQL front door attaches per branch of a DV'd table's union scan
  private val StatsCleanRowsProp = "graft.stats.clean.rowcount"
  private val StatsCleanBytesProp = "graft.stats.clean.sizebytes"
  private val StatsDvRowsProp = "graft.stats.dvlive.rowcount"
  private val StatsDvBytesProp = "graft.stats.dvlive.sizebytes"

  /** `ANALYZE TABLE ... COMPUTE STATISTICS` — the exact LIVE row count and
    * live byte size from metadata alone: parquet footer record counts
    * minus each file's deletion-vector cardinality, file lengths scaled by
    * the live fraction. O(live files) footer reads, zero data pages — so
    * `NOSCAN` and the plain form are honestly identical here. Persisted as
    * one property commit; the SQL front door hands the numbers to Spark's
    * plan estimator ([[catalogStats]]), so broadcast-vs-shuffle decisions
    * run on measured reality instead of fileSize × compressionFactor
    * defaults — at 100 TB the difference between a 10 MB "small" dim that
    * is 80 MB in memory and a measured one. Stats are a snapshot as of
    * this commit; like every ANALYZE they go stale until re-run. */
  def analyze(spark: SparkSession, dir: String): (Long, Long) = {
    require(exists(spark, dir), s"no TxTable at $dir")
    val fs = hadoopFs(spark, dir)
    val (live, _) = replay(fs, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    var rows = 0L; var bytes = 0L
    var cleanRows = 0L; var cleanBytes = 0L
    var dvRows = 0L; var dvBytes = 0L
    live.foreach { e =>
      val p = new Path(dir, e.path)
      val phys = parquetRowCount(conf, p)
      val liveRows = phys - e.dv.map(_.deleted).getOrElse(0L)
      val len = fs.getFileStatus(p).getLen
      val liveBytes =
        if (phys == 0L) 0L else (len.toDouble * liveRows / phys).toLong
      rows += liveRows
      bytes += liveBytes
      if (e.dv.isDefined) { dvRows += liveRows; dvBytes += liveBytes }
      else { cleanRows += liveRows; cleanBytes += liveBytes }
    }
    setProperties(spark, dir, Map(
      StatsRowCountProp -> rows.toString,
      StatsSizeBytesProp -> bytes.toString,
      StatsCleanRowsProp -> cleanRows.toString,
      StatsCleanBytesProp -> cleanBytes.toString,
      StatsDvRowsProp -> dvRows.toString,
      StatsDvBytesProp -> dvBytes.toString,
      // head + 1 = the version the stats commit itself claims, so the
      // staleness counter starts at ZERO data commits since this ANALYZE
      // (counting the stats commit as its own staleness was an off-by-one;
      // a concurrent interleaved append merely makes the count
      // conservative by one — it is a threshold probe, not a ledger)
      StatsVersionProp ->
        (headVersion(spark, dir).getOrElse(0L) + 1L).toString))
    (rows, bytes)
  }

  /** `... FOR [ALL] COLUMNS` — ONE aggregate scan over the live rows
    * computing per-column null count, approximate NDV, min/max, and (for
    * strings/binary) average/max byte length, persisted one property per
    * column under the PHYSICAL name (what the scan's attributes carry) so
    * CBO's filter and join estimation reads them through
    * [[catalogStats]]. Exact NDV deliberately not computed — the
    * estimator needs magnitude, and `approx_count_distinct` is one pass
    * with no shuffle-heavy distinct (see Stats.columnProfile for the
    * audited-exact variant). */
  def analyzeColumns(spark: SparkSession, dir: String,
                     cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "analyzeColumns needs >= 1 column")
    val df = read(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no TxTable at $dir"))
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"ANALYZE: no column(s) ${missing.mkString(", ")} in $dir " +
        s"(has: ${df.columns.mkString(", ")})")
    cols.foreach(requireMappableName(_, "ANALYZE column"))
    if (df.isEmpty) return // nothing to measure; row/size stats say 0
    val inv = renameMap(spark, dir, None).map(_.swap) // logical → physical
    // min/max persist ONLY for the atomic types Spark's
    // CatalogColumnStat.fromExternalString can parse back (numerics,
    // boolean, decimal, date/timestamp) — matching Spark's own ANALYZE.
    // An orderable non-atomic type (min/max on an array column is a valid
    // aggregate, and FOR ALL COLUMNS reaches it) has no parse case, so a
    // persisted value would make EVERY query on the table throw at plan
    // time once CBO reads the stats — a deferred failure stored in the log.
    def minMaxable(dt: DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | DateType | TimestampType |
             TimestampNTZType => true
        case _: DecimalType => true
        case _ => false // string/binary/nested: NDV+nulls+lengths only
      }
    }
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val isLen = df.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType => true
        case _ => false
      }
      Seq(
        count(when(col(c).isNull, lit(1))).as(s"__nu_$i"),
        approx_count_distinct(col(c)).as(s"__nd_$i")) ++
        (if (minMaxable(df.schema(c).dataType)) Seq(
          min(col(c)).cast("string").as(s"__mn_$i"),
          max(col(c)).cast("string").as(s"__mx_$i")) else Nil) ++
        (if (isLen) Seq(
          avg(length(col(c))).cast("long").as(s"__al_$i"),
          max(length(col(c))).cast("long").as(s"__ml_$i")) else Nil)
    }
    // Equi-height histograms (Spark's own ANALYZE model, same flag): bins
    // bounded by approx-percentile endpoints, each bin holding height =
    // nonNull/numBins rows BY CONSTRUCTION (heights aren't stored), per-bin
    // NDV measured in one extra scan. A hot key spanning several percentile
    // positions yields bins with lo=hi=v, ndv=1 — exactly the shape that
    // moves skewed-join cardinality estimates off the uniformity
    // assumption. Endpoints ride pass A (approx_percentile is an
    // aggregate); the NDV pass explodes each row into its (col, bin)
    // assignments so ALL columns' bins aggregate in ONE shuffle.
    val histEnabled = spark.conf
      .get("spark.sql.statistics.histogram.enabled", "false").toBoolean
    val numBins = spark.conf
      .get("spark.sql.statistics.histogram.numBins", "254").toInt
    def histDblSql(c: String): Option[String] = df.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        Some(s"cast(`$c` as double)")
      case org.apache.spark.sql.types.DateType =>
        Some(s"cast(unix_date(`$c`) as double)") // internal day space
      case org.apache.spark.sql.types.TimestampType =>
        Some(s"cast(unix_micros(`$c`) as double)") // internal micro space
      case _ => None // Spark's ANALYZE histograms cover the same set
    }
    val histCols: Seq[(String, Int, String)] =
      if (!histEnabled) Nil
      else cols.zipWithIndex.flatMap { case (c, i) =>
        histDblSql(c).map(d => (c, i, d))
      }
    val histAggs = histCols.map { case (_, i, d) =>
      val probs = (0 to numBins).map(b =>
        java.lang.Double.toString(b.toDouble / numBins)).mkString(",")
      expr(s"approx_percentile($d, array($probs), 10000)").as(s"__hp_$i")
    }
    val allAggs = aggs ++ histAggs :+ count(lit(1)).as("__total")
    val r = df.agg(allAggs.head, allAggs.tail: _*).head()
    // endpoints per histogram column; drop degenerate ones (all-null
    // column => null array; NaN/Inf endpoints don't round-trip as SQL
    // literals and estimation can't use them)
    val endpoints: Map[Int, Seq[Double]] = histCols.flatMap { case (_, i, _) =>
      Option(r.getAs[Any](s"__hp_$i"))
        .map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq)
        .filter(eps => eps.length == numBins + 1 &&
          eps.forall(e => !e.isNaN && !e.isInfinite))
        .map(i -> _)
    }.toMap
    val binNdv: Map[(Int, Long), Long] =
      if (endpoints.isEmpty) Map.empty
      else {
        val structs = histCols.filter(h => endpoints.contains(h._2))
          .map { case (_, i, d) =>
            val inner = endpoints(i).slice(1, numBins)
              .map(java.lang.Double.toString).mkString(",")
            struct(lit(i).as("ci"),
              expr(s"size(filter(array($inner), e -> $d > e))").cast("long")
                .as("bin"),
              expr(d).as("x"))
          }
        df.select(explode(array(structs: _*)).as("e"))
          .filter(col("e.x").isNotNull)
          .groupBy(col("e.ci"), col("e.bin"))
          .agg(approx_count_distinct(col("e.x")).as("nd"))
          .collect() // ≤ cols × numBins rows — bounded by construction
          .map(row => (row.getAs[Int]("ci"),
            row.getAs[Long]("bin")) -> row.getAs[Long]("nd"))
          .toMap
      }
    def hexOpt(v: Any): String = Option(v)
      .map(s => bytesToHex(s.toString.getBytes(UTF_8))).getOrElse("")
    val total = r.getAs[Long]("__total")
    val props = cols.zipWithIndex.map { case (c, i) =>
      val mm =
        if (minMaxable(df.schema(c).dataType))
          s"min=${hexOpt(r.getAs[Any](s"__mn_$i"))}," +
            s"max=${hexOpt(r.getAs[Any](s"__mx_$i"))}"
        else "min=,max=" // explicit empty = no bound persisted
      val base = s"ndv=${r.getAs[Long](s"__nd_$i")}," +
        s"nulls=${r.getAs[Long](s"__nu_$i")},$mm"
      val lens = df.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType =>
          s",avgLen=${r.getAs[Long](s"__al_$i")}" +
            s",maxLen=${r.getAs[Long](s"__ml_$i")}"
        case dt => s",avgLen=${dt.defaultSize},maxLen=${dt.defaultSize}"
      }
      val hist = endpoints.get(i).map { eps =>
        val nonNull = total - r.getAs[Long](s"__nu_$i")
        val height = nonNull.toDouble / numBins
        // empty bins are the interior of a hot-value run (assignment sends
        // every duplicate to the run's first bin): lo=hi, one value
        val bins = (0 until numBins).map { b =>
          s"${java.lang.Double.toString(eps(b))}:" +
            s"${java.lang.Double.toString(eps(b + 1))}:" +
            s"${math.max(1L, binNdv.getOrElse((i, b.toLong), 0L))}"
        }.mkString(";")
        s",hist=${bytesToHex((java.lang.Double.toString(height) + "|" + bins)
          .getBytes(UTF_8))}"
      }.getOrElse("")
      (StatsColPrefix + inv.getOrElse(c, c)) -> (base + lens + hist)
    }.toMap
    // refresh the staleness anchor too (head + 1 = this commit's version,
    // see [[analyze]]) — a FOR COLUMNS pass is two property commits and
    // must not start life "one commit stale"
    setProperties(spark, dir, props + (StatsVersionProp ->
      (headVersion(spark, dir).getOrElse(0L) + 1L).toString))
  }

  /** Data commits since the last [[analyze]] (None when never analyzed) —
    * the staleness signal [[graft.ops.Maintenance]]'s re-analyze
    * threshold reads. Counts every commit past the recorded stats
    * version; property-only commits are cheap noise inside it, but a
    * busy table's count is dominated by data commits and the refresh
    * itself is O(files) metadata. */
  private[graft] def commitsSinceAnalyze(spark: SparkSession,
                                         dir: String): Option[Int] = {
    val fs = hadoopFs(spark, dir)
    propsState(fs, dir).get(StatsVersionProp).map { v0 =>
      listCommits(fs, dir).count(_._1 > v0.toLong)
    }
  }

  /** The persisted ANALYZE stats as Spark catalog statistics (None until
    * [[analyze]] has run as of `asOf`) — what the SQL front door attaches
    * to the scan relation so plan estimation uses measured row counts and
    * live sizes. Column stats key on PHYSICAL attribute names. */
  private[graft] def catalogStats(spark: SparkSession, dir: String,
                                  asOf: Option[Long])
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    val props = propsState(hadoopFs(spark, dir), dir, asOf)
    for (rc <- props.get(StatsRowCountProp);
         sb <- props.get(StatsSizeBytesProp)) yield {
      val colStats = props.collect {
        case (k, v) if k.startsWith(StatsColPrefix) =>
          val kv = v.split(',').map { e =>
            val i = e.indexOf('=')
            e.substring(0, i) -> e.substring(i + 1)
          }.toMap
          def str(key: String): Option[String] =
            kv.get(key).filter(_.nonEmpty)
              .map(h => new String(hexToBytes(h), UTF_8))
          // equi-height histogram: "<height>|lo:hi:ndv;lo:hi:ndv;..."
          val hist = str("hist").map { enc =>
            val Array(h, binsEnc) = enc.split('|')
            val bins = binsEnc.split(';').map { b =>
              val Array(lo, hi, nd) = b.split(':')
              org.apache.spark.sql.catalyst.plans.logical.HistogramBin(
                lo.toDouble, hi.toDouble, nd.toLong)
            }
            org.apache.spark.sql.catalyst.plans.logical.Histogram(
              h.toDouble, bins)
          }
          k.stripPrefix(StatsColPrefix) -> CatalogColumnStat(
            distinctCount = kv.get("ndv").map(BigInt(_)),
            min = str("min"), max = str("max"),
            nullCount = kv.get("nulls").map(BigInt(_)),
            avgLen = kv.get("avgLen").map(_.toLong),
            maxLen = kv.get("maxLen").map(_.toLong),
            histogram = hist)
      }
      CatalogStatistics(BigInt(sb), Some(BigInt(rc)), colStats)
    }
  }

  /** The ANALYZE stats split by deletion-vector state, for DV'd tables
    * whose scan is a clean ∪ anti-join union: (clean-file stats with the
    * column stats — min/max/NDV bounds stay valid for any subset of the
    * measured rows — , live rows in DV'd files, live bytes in DV'd files).
    * None until an [[analyze]] that recorded the split has run. */
  private[graft] def catalogStatsSplit(spark: SparkSession, dir: String,
                                       asOf: Option[Long])
      : Option[(org.apache.spark.sql.catalyst.catalog.CatalogStatistics, Long, Long)] = {
    val props = propsState(hadoopFs(spark, dir), dir, asOf)
    for (whole <- catalogStats(spark, dir, asOf);
         cr <- props.get(StatsCleanRowsProp);
         cb <- props.get(StatsCleanBytesProp);
         dr <- props.get(StatsDvRowsProp);
         db <- props.get(StatsDvBytesProp)) yield
      (whole.copy(sizeInBytes = BigInt(cb.toLong).max(1),
        rowCount = Some(BigInt(cr.toLong))), dr.toLong, db.toLong)
  }

  /** Current table properties (latest value per key; removed keys absent). */
  def tableProperties(spark: SparkSession, dir: String): Map[String, String] =
    propsState(hadoopFs(spark, dir), dir)

  /** Set/remove table properties in one atomic commit (empty value =
    * remove). Property updates ride an empty `append` — conflict-free, no
    * data files touched. */
  def setProperties(spark: SparkSession, dir: String,
                    props: Map[String, String]): Unit = {
    require(!props.keys.exists(_.startsWith("graft.schema.")),
      "graft.schema.* properties are managed by addColumns/renameColumn/" +
        "dropColumns (ALTER TABLE ADD/RENAME/DROP COLUMN) — setting them " +
        "directly would corrupt the declared schema")
    // graft.identity.* is settable (arming/re-seeding an allocator is a
    // legitimate ALTER) but must PARSE — a malformed value would otherwise
    // be a deferred failure surfacing at the first insert, stored in the
    // log (the same failure class as an unparseable stats bound)
    props.foreach { case (k, v) =>
      if (k.startsWith(IdentityPropPrefix) && v.nonEmpty) parseIdentity(v, k)
    }
    // graft.bucket on a table with LIVE files must be refused (the same
    // guard class as graft.schema.*): recorded __graft_bucket stats and
    // _NNNNN filename suffixes were computed under the OLD (N, col) —
    // re-declaring the spec would make point/IN pruning consult stale
    // bucket ids (silently missing rows) and scanBucketSpec advertise a
    // HashPartitioning the files do not satisfy (wrong storage-
    // partitioned join results). Declaring it on an EMPTY table (or
    // clearing it) is fine — no file can disagree.
    props.get(BucketProp).foreach { v =>
      if (v.nonEmpty) {
        parseBucket(v, dir)
        val current = bucketSpec(spark, dir)
        val changed = !current.contains(parseBucket(v, dir))
        require(!changed || replay(hadoopFs(spark, dir), dir)._1.isEmpty,
          s"$BucketProp cannot change on $dir while live files exist: " +
            "their recorded bucket ids and filename suffixes were " +
            "computed under the current spec, and a new spec would make " +
            "bucket pruning and storage-partitioned joins read them as " +
            "lies. TRUNCATE or rewrite the table into the new layout " +
            "instead")
      }
    }
    commitProps(spark, dir, props)
  }

  /** Property commit without the graft.schema.* guard — the internal
    * vehicle of the schema DDL methods themselves. `expectedHead` pins the
    * commit to the head version the caller's state read saw (OCC): the
    * schema DDLs read-merge-write the FULL mapping/declaration string, so
    * an unpinned slot retry would silently drop a racing DDL's change. */
  private def commitProps(spark: SparkSession, dir: String,
                          props: Map[String, String],
                          expectedHead: Option[Long] = None): Unit =
    commit(hadoopFs(spark, dir), dir,
      Commit("append", None, None, Nil, Nil, Nil, props.toSeq.sortBy(_._1)),
      expectedHead)

  /** Property key holding the ADD COLUMNS-declared extension of the
    * data-carried schema, as a compact StructType JSON. */
  private val SchemaAddedProp = "graft.schema.added"

  /** Property key holding the declared partition column list (comma-
    * joined, physical names — partition columns can never be renamed).
    * Recorded by every commit that empties the live set ([[truncate]],
    * replace/rewrite-to-empty) and by DDL-first [[create]], because the
    * live files are otherwise the layout's only carrier: without it a
    * TRUNCATE of a partitioned table would silently drop the layout and
    * the next INSERT would land unpartitioned (Delta keeps the partition
    * spec in table metadata across TRUNCATE; so does this). Consulted
    * only when the live set is empty — live fragments stay the source of
    * truth otherwise. */
  private val SchemaPartitionsProp = "graft.schema.partitions"

  /** Declared partition columns as of `asOf` (empty when none declared) —
    * the empty-live-set fallback the SQL front door plans inserts with. */
  private[graft] def declaredPartitionCols(spark: SparkSession, dir: String,
                                           asOf: Option[Long] = None): Seq[String] =
    propsState(hadoopFs(spark, dir), dir, asOf).get(SchemaPartitionsProp)
      .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Props an emptying commit (or DDL-first create) carries so the table
    * keeps its SHAPE with zero live files: the schema as declared fields
    * (merged over any prior declaration, declaration order preserved) and
    * the partition layout. Reads return an empty typed frame, DESCRIBE
    * and INSERT keep working, the next INSERT lands partitioned. */
  private def declaredShapeProps(fs: FileSystem, dir: String,
                                 schema: Seq[StructField],
                                 partitionCols: Seq[String]): Seq[(String, String)] = {
    val prior = evolutionFields(fs, dir, None)
    val priorNames = prior.map(_.name).toSet
    // the whole merge lifts through declared widenings: a prior narrow
    // declaration for a since-widened column must not survive into the
    // re-declaration (see [[widenDeclared]])
    val fields = widenDeclared(fs, dir, None,
      prior ++ schema.filterNot(f => priorNames(f.name))
        .map(f => StructField(f.name, f.dataType)))
    (if (fields.isEmpty) Nil
     else Seq(SchemaAddedProp -> StructType(fields).json)) :+
      // empty value = property removed (an unpartitioned emptying clears
      // any stale declared layout)
      (SchemaPartitionsProp -> partitionCols.mkString(","))
  }

  /** Property key holding declared type WIDENINGS (`ALTER COLUMN ... TYPE`
    * — the Delta/Iceberg type-widening idea): `physical:catalogType`
    * entries joined by ';'. Data files keep their original physical types
    * forever; reads cast old files UP to the declared type (exact-value
    * moves only — see [[widenOk]] — so no row can change meaning), new
    * writes land already-widened, and time travel below the ALTER reads
    * the old type because property state is versioned. Zero bytes
    * rewritten at any table size. */
  private val SchemaWidenProp = "graft.schema.widen"

  /** Lift declared fields through the widening state — mirrors
    * [[widenWithEvolution]] step 2 for paths that never touch data (the
    * empty-live schema, [[emptyDeclared]], and [[declaredShapeProps]]'s
    * re-declaration merge). Without this, an ADD COLUMNS-declared column
    * later widened by `ALTER COLUMN TYPE` would revert to its narrow
    * declaration the moment the table is emptied — the schema would
    * flip-flop across TRUNCATE, and a post-truncate INSERT would plan
    * against the narrow type. */
  private def widenDeclared(fs: FileSystem, dir: String, asOf: Option[Long],
                            fields: Seq[StructField]): Seq[StructField] = {
    val widen = widenState(fs, dir, asOf)
    if (widen.isEmpty || fields.isEmpty) fields
    else {
      val caseSensitive =
        try org.apache.spark.sql.SparkSession.active
          .conf.get("spark.sql.caseSensitive", "false").toBoolean
        catch { case _: Throwable => false } // Spark default
      def key(n: String): String =
        if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
      val widenKeyed = widen.map { case (c, t) => key(c) -> t }
      fields.map(f =>
        widenKeyed.get(key(f.name)).fold(f)(t => f.copy(dataType = t)))
    }
  }

  /** physical column → declared widened type as of `asOf`. */
  private def widenState(fs: FileSystem, dir: String,
                         asOf: Option[Long]): Map[String, DataType] =
    propsState(fs, dir, asOf).get(SchemaWidenProp) match {
      case None | Some("") => Map.empty
      case Some(enc) => enc.split(';').filter(_.nonEmpty).map { e =>
        val i = e.indexOf(':')
        require(i > 0, s"corrupt $SchemaWidenProp entry '$e' on $dir")
        e.substring(0, i) -> DataType.fromDDL(e.substring(i + 1))
      }.toMap
    }

  /** The sanctioned widening lattice — exactly the moves where every
    * value of `from` is exactly representable in `to`, so casting old
    * files up can never change a row's meaning: the integral chain,
    * float→double, and decimal precision growth at the same scale. */
  private[graft] def widenOk(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN col TYPE t` — metadata-only type
    * widening: one atomic property commit declares the new type; reads
    * cast old files up, the SQL scan plans the widened schema (the
    * vectorized parquet reader's widening promotion does the per-file
    * lift), writes carrying either the old or the new type land and read
    * consistently, and file-skipping envelopes compare in the widened
    * numeric space (BigDecimal-exact either way). Refused for anything
    * outside [[widenOk]]'s exact-value lattice and for partition columns
    * (their type is baked into the directory values). OCC-pinned like
    * every schema DDL. */
  def alterColumnType(spark: SparkSession, dir: String, name: String,
                      to: DataType): Unit = withRetry() {
    require(exists(spark, dir), s"no TxTable at $dir")
    requireMappableName(name, "column")
    val fs = hadoopFs(spark, dir)
    val head = headVersion(spark, dir) // OCC pin, as renameColumn
    val df = read(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no readable schema at $dir"))
    require(df.columns.contains(name),
      s"ALTER COLUMN: no column '$name' in $dir " +
        s"(has: ${df.columns.mkString(", ")})")
    val from = df.schema(name).dataType // already widened by prior ALTERs
    if (from == to) return
    require(widenOk(from, to),
      s"ALTER COLUMN TYPE $from -> $to is not supported — only " +
        "value-preserving widenings are (byte->short->int->long, " +
        "float->double, decimal precision growth at the same scale); " +
        "narrowing or cross-family retypes need a table rewrite")
    val partCols = replay(fs, dir)._1.flatMap(_.part).headOption.toSeq
      .flatMap(_.split('/').toSeq.map(_.takeWhile(_ != '=')))
      .++(declaredPartitionCols(spark, dir))
    require(!partCols.contains(name),
      s"ALTER COLUMN: '$name' is a partition column of $dir — its type " +
        "is baked into the directory values; rewrite the table to retype it")
    val phys = physicalNameOf(fs, dir, None, name)
    val next = widenState(fs, dir, None) + (phys -> to)
    commitProps(spark, dir, Map(SchemaWidenProp ->
      next.toSeq.sortBy(_._1)
        .map { case (p, t) => s"$p:${t.catalogString}" }.mkString(";")),
      head)
  }

  /** Property key holding the column-mapping state (RENAME/DROP COLUMN —
    * the Delta column-mapping idea cut to name mapping): data files keep
    * their PHYSICAL column names forever; this property maps them to the
    * LOGICAL schema readers see. Encoding: `r:<physical>=<logical>` and
    * `d:<physical>` entries joined by ';' (names containing ';'/'=' are
    * refused at DDL time). Versioned like every property, so time travel
    * below a rename reads the old names and checkpoints carry it. */
  private val SchemaMappingProp = "graft.schema.mapping"

  /** (physical → logical renames, dropped physical names) as of `asOf`. */
  private def mappingState(fs: FileSystem, dir: String,
                           asOf: Option[Long]): (Map[String, String], Set[String]) =
    propsState(fs, dir, asOf).get(SchemaMappingProp) match {
      case None | Some("") => (Map.empty, Set.empty)
      case Some(enc) =>
        val ren = Map.newBuilder[String, String]
        val dropped = Set.newBuilder[String]
        enc.split(';').filter(_.nonEmpty).foreach {
          case e if e.startsWith("r:") =>
            val i = e.indexOf('=')
            ren += (e.substring(2, i) -> e.substring(i + 1))
          case e if e.startsWith("d:") => dropped += e.substring(2)
          case e => throw new java.io.IOException(
            s"corrupt $SchemaMappingProp entry '$e' on $dir")
        }
        (ren.result(), dropped.result())
    }

  private def renderMapping(ren: Map[String, String],
                            dropped: Set[String]): String =
    (ren.toSeq.sortBy(_._1).map { case (p, l) => s"r:$p=$l" } ++
      dropped.toSeq.sorted.map("d:" + _)).mkString(";")

  /** Logical presentation of a physically-named frame: dropped columns
    * projected away, renamed columns re-labelled. Identity (and free)
    * when the table never ran a RENAME/DROP. */
  private def presentLogical(df: DataFrame, fs: FileSystem, dir: String,
                             asOf: Option[Long]): DataFrame = {
    val (ren, dropped) = mappingState(fs, dir, asOf)
    if (ren.isEmpty && dropped.isEmpty) df
    else df.select(df.columns.filterNot(dropped.contains)
      .map(c => col(c).as(ren.getOrElse(c, c))).toSeq: _*)
  }

  /** [[presentLogical]] for frames produced OUTSIDE TxTable (the SQL front
    * door's stock scan over the physical files). */
  private[graft] def presentLogicalDf(spark: SparkSession, dir: String,
                                      df: DataFrame,
                                      asOf: Option[Long]): DataFrame =
    presentLogical(df, hadoopFs(spark, dir), dir, asOf)

  /** physical → logical rename map at `asOf` (empty when unmapped) — the
    * SQL front door re-labels its physical scan schema through this. */
  private[graft] def renameMap(spark: SparkSession, dir: String,
                               asOf: Option[Long]): Map[String, String] =
    mappingState(hadoopFs(spark, dir), dir, asOf)._1

  /** Reverse-map a LOGICAL frame onto the physical column names data
    * files carry — the write-side chokepoint ([[stage]] applies it).
    * Only logical names present in the rename map move; a frame already
    * in physical names passes through unchanged (physical names are
    * disjoint from the logical view by the ADD COLUMNS taint rule). */
  private def toPhysical(df: DataFrame, fs: FileSystem,
                         dir: String): DataFrame = {
    val (ren, _) = mappingState(fs, dir, None)
    if (ren.isEmpty) df
    else {
      val inv = ren.map(_.swap)
      df.select(df.columns.map(c => col(c).as(inv.getOrElse(c, c))).toSeq: _*)
    }
  }

  /** Logical column names referenced by the table's CHECK constraints —
    * the DDL guards refuse renaming/dropping these (the constraint text
    * would silently stop resolving on the next write otherwise). */
  private def constraintRefs(spark: SparkSession, dir: String): Set[String] =
    constraints(spark, dir).values.flatMap { sql =>
      spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
    }.toSet

  private def requireMappableName(n: String, what: String): Unit = {
    require(!n.exists(";=\t\n".contains(_)),
      s"$what '$n' contains ';', '=', tab, or newline — unrepresentable " +
        "in the column-mapping property")
    require(!ReservedRewriteCols.contains(n) && !n.startsWith("__graft_"),
      s"$what '$n' collides with the engine's reserved __graft_ helper " +
        "namespace")
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` — metadata-only (zero
    * bytes rewritten at any table size): data files keep the physical
    * name, one atomic property commit re-labels the logical view, and
    * every write arriving with the new name maps back onto the physical
    * column ([[stage]]). Time travel below the commit reads the old name.
    * Refused loudly for partition columns (their name IS the directory
    * layout), constraint-referenced columns (the stored CHECK text would
    * stop resolving), collisions with any current logical name, and reuse
    * of a name the table has ever carried physically (old files would
    * leak their bytes into the reborn column). */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String): Unit = withRetry() {
    require(exists(spark, dir), s"no TxTable at $dir")
    requireMappableName(from, "column"); requireMappableName(to, "column")
    val fs = hadoopFs(spark, dir)
    // OCC: the mapping merge below is valid only against this head — a
    // racing DDL conflicts (and the whole closure retries on fresh state)
    val head = headVersion(spark, dir)
    val (ren, dropped) = mappingState(fs, dir, None)
    val logical = read(spark, dir).map(_.columns.toSeq).getOrElse(Nil)
    require(logical.contains(from),
      s"RENAME COLUMN: no column '$from' in $dir (has: ${logical.mkString(", ")})")
    if (from == to) return
    require(!logical.contains(to),
      s"RENAME COLUMN: column '$to' already exists in $dir")
    val physical0 = ren.find(_._2 == from).map(_._1).getOrElse(from)
    // renaming BACK to the column's own physical name merely restores
    // identity — always safe; any OTHER previously-carried name is
    // tainted (old files would leak their bytes into the reborn column)
    val usedPhysical = ren.keySet ++ dropped ++
      logical.filterNot(ren.values.toSet).toSet
    require(physical0 == to || !usedPhysical.contains(to),
      s"RENAME COLUMN: '$to' was previously carried physically by $dir " +
        "(renamed away or dropped) — old files would leak into it; pick " +
        "a fresh name")
    val partCols = replay(fs, dir)._1.flatMap(_.part).headOption.toSeq
      .flatMap(_.split('/').toSeq.map(_.takeWhile(_ != '=')))
    require(!partCols.contains(from),
      s"RENAME COLUMN: '$from' is a partition column of $dir — the name " +
        "is baked into the directory layout; rewrite the table to rename it")
    require(!constraintRefs(spark, dir).contains(from),
      s"RENAME COLUMN: '$from' is referenced by a CHECK constraint on " +
        s"$dir — drop the constraint first, rename, then re-add it")
    val ren2 = (ren - physical0) ++
      (if (physical0 == to) Nil else Seq(physical0 -> to))
    commitProps(spark, dir,
      Map(SchemaMappingProp -> renderMapping(ren2, dropped)), head)
  }

  /** `ALTER TABLE ... DROP COLUMN` — metadata-only: the physical column
    * stays in the files (its bytes reclaim as files naturally rewrite)
    * but leaves the logical view in one atomic property commit. The name
    * becomes tainted: [[addColumns]] refuses to rebirth it. Same guards
    * as [[renameColumn]] for partition/constraint columns; dropping every
    * column is refused. */
  def dropColumns(spark: SparkSession, dir: String,
                  names: Seq[String]): Unit = withRetry() {
    require(names.nonEmpty, "dropColumns needs >= 1 column")
    require(exists(spark, dir), s"no TxTable at $dir")
    names.foreach(requireMappableName(_, "column"))
    val fs = hadoopFs(spark, dir)
    val head = headVersion(spark, dir) // OCC pin, as renameColumn
    val (ren, dropped) = mappingState(fs, dir, None)
    val logical = read(spark, dir).map(_.columns.toSeq).getOrElse(Nil)
    val missing = names.filterNot(logical.contains)
    require(missing.isEmpty,
      s"DROP COLUMN: no column(s) ${missing.mkString(", ")} in $dir")
    require((logical.toSet -- names).nonEmpty,
      s"DROP COLUMN would leave $dir with no columns")
    val partCols = replay(fs, dir)._1.flatMap(_.part).headOption.toSeq
      .flatMap(_.split('/').toSeq.map(_.takeWhile(_ != '=')))
    val partClash = names.filter(partCols.contains)
    require(partClash.isEmpty,
      s"DROP COLUMN: ${partClash.mkString(", ")} are partition columns " +
        s"of $dir — rewrite the table to change its layout")
    val consClash = names.filter(constraintRefs(spark, dir).contains)
    require(consClash.isEmpty,
      s"DROP COLUMN: ${consClash.mkString(", ")} are referenced by CHECK " +
        s"constraints on $dir — drop the constraints first")
    val physicals = names.map(n => ren.find(_._2 == n).map(_._1).getOrElse(n))
    commitProps(spark, dir, Map(SchemaMappingProp ->
      renderMapping(ren -- physicals, dropped ++ physicals)), head)
  }

  /** Columns declared by [[addColumns]] as of `asOf`, in declaration
    * order. Property state is versioned like everything else in the log,
    * so time travel below the ALTER naturally reads the OLD schema. */
  private def evolutionFields(fs: FileSystem, dir: String,
                              asOf: Option[Long]): Seq[StructField] =
    propsState(fs, dir, asOf).get(SchemaAddedProp)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType].fields.toSeq)
      .getOrElse(Nil)

  /** Materialize the declared-but-not-yet-written evolution columns as
    * typed NULLs (appended last, declaration order), apply declared TYPE
    * WIDENINGS (cast columns whose batches carry a narrower physical type
    * up to the declared type — exact-value moves only), and fail loudly
    * when a batch carries a column with a genuinely conflicting type —
    * the same planning-time guard [[framesFor]] applies between batches. */
  private def widenWithEvolution(spark: SparkSession, df0: DataFrame,
                                 fs: FileSystem, dir: String,
                                 asOf: Option[Long]): DataFrame = {
    val widen = widenState(fs, dir, asOf)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def key(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val widenKeyed = widen.map { case (c, t) => key(c) -> t }
    // 1. declared widenings lift whatever the union produced (all-narrow
    // batches union to the narrow type; the declaration says otherwise)
    val df =
      if (widen.isEmpty) df0
      else df0.schema.fields.foldLeft(df0) { (d, f) =>
        widenKeyed.get(key(f.name)) match {
          case Some(t) if f.dataType != t =>
            d.withColumn(f.name, col(f.name).cast(t))
          case _ => d
        }
      }
    // 2. ADD COLUMNS declarations, their types seen THROUGH the widenings
    val fields = evolutionFields(fs, dir, asOf)
      .map(f => widenKeyed.get(key(f.name)).fold(f)(t => f.copy(dataType = t)))
    if (fields.isEmpty) return df
    val present = df.schema.fields.map(f => key(f.name) -> f.dataType).toMap
    // a declared EXISTS default fills rows that predate the column —
    // the DataFrame-path mirror of what the parquet reader does from
    // EXISTS_DEFAULT schema metadata on the SQL scan path
    val existsDefault: Map[String, String] =
      columnDefaults(spark, dir, asOf).collect {
        case (c, (_, Some(ex))) => key(c) -> ex
      }
    fields.foldLeft(df) { (d, f) =>
      present.get(key(f.name)) match {
        case Some(t) =>
          require(t == f.dataType,
            s"TxTable $dir: column '${f.name}' was declared ${f.dataType} " +
              s"by ADD COLUMNS but a batch carries it as $t — only " +
              "ADDITIVE schema evolution is supported")
          d
        case None =>
          val fill = existsDefault.get(key(f.name))
            .map(ex => org.apache.spark.sql.functions.expr(ex)
              .cast(f.dataType))
            .getOrElse(org.apache.spark.sql.functions.lit(null)
              .cast(f.dataType))
          d.withColumn(f.name, fill)
      }
    }
  }

  /** The full read-side presentation: evolution widening (declared
    * columns materialize as typed NULLs) THEN column mapping (dropped
    * columns leave, renamed columns re-label) — in that order, because
    * a declared-then-renamed column's physical name is its declaration
    * name. Every read path flows through here. */
  private def present(spark: SparkSession, df: DataFrame, fs: FileSystem,
                      dir: String, asOf: Option[Long]): DataFrame =
    presentLogical(widenWithEvolution(spark, df, fs, dir, asOf),
      fs, dir, asOf)

  /** The PHYSICAL schema a stock file scan over the live files should
    * use (evolution-widened, dropped columns excluded so their bytes are
    * never read, renames NOT applied — files carry physical names): what
    * [[graft.sql.GraftFileIndex]] hands the planner; the SQL front door
    * re-labels the scan output through [[renameMap]]. */
  private[graft] def scanSchema(spark: SparkSession, dir: String,
                                asOf: Option[Long]): StructType = {
    val fs = hadoopFs(spark, dir)
    val (live, _) = replay(fs, dir, asOf)
    val dropped = mappingState(fs, dir, asOf)._2
    val bare =
      if (live.isEmpty)
        // empty table: the declared schema IS the schema (see [[truncate]]),
        // lifted through declared widenings so emptying never narrows types
        StructType(widenDeclared(fs, dir, asOf, evolutionFields(fs, dir, asOf))
          .filterNot(f => dropped.contains(f.name)))
      else {
        val widened = widenWithEvolution(spark,
          framesFor(spark, dir, live, asOf = asOf), fs, dir, asOf)
        StructType(widened.schema.filterNot(f => dropped.contains(f.name)))
      }
    // EXISTENCE defaults ride as schema metadata so the vectorized
    // parquet reader fills files that predate an ADD COLUMN. ONLY the
    // exists key here: this schema feeds the SCAN; the CURRENT default
    // attaches on the insert-facing surface ([[graft.sql.GraftSql
    // .tableSchema]]) instead — a schema carrying both lets Spark's
    // output resolver pad an omitted INSERT column from the frozen
    // existence constant after DROP DEFAULT, resurrecting a dropped
    // default. Every field is nullable: parquet fields in this format
    // are physically OPTIONAL (NOT NULL is a write-time constraint, not
    // storage), and a non-nullable scan field would make the reader
    // treat a pre-declaration missing column as an error instead of
    // filling its existence default.
    withDefaultMetadata(
      StructType(bare.fields.map(_.copy(nullable = true))),
      columnDefaults(spark, dir, asOf).collect {
        case (c, (_, ex @ Some(_))) => c -> (None, ex)
      })
  }

  /** True when the table carries any RENAME/DROP mapping at `asOf`. */
  private[graft] def hasColumnMapping(spark: SparkSession, dir: String,
                                      asOf: Option[Long] = None): Boolean = {
    val (ren, dropped) = mappingState(hadoopFs(spark, dir), dir, asOf)
    ren.nonEmpty || dropped.nonEmpty
  }

  /** `ALTER TABLE ... ADD COLUMNS` — additive schema evolution WITHOUT a
    * data commit (the Delta/Iceberg metadata-only ALTER): the new columns
    * are declared in one atomic property commit; every read materializes
    * them as typed NULLs until a write actually carries values, at which
    * point the data takes over (the declaration stays as a harmless
    * superset record). Time travel below the ALTER reads the old schema —
    * property state is versioned. Zero bytes rewritten at any table size.
    *
    * Columns must be nullable (existing rows have no value) and must not
    * collide with any current column under the session's case rules. */
  def addColumns(spark: SparkSession, dir: String,
                 fields: Seq[StructField]): Unit = withRetry() {
    require(fields.nonEmpty, "addColumns needs at least one column")
    require(exists(spark, dir), s"no TxTable at $dir")
    val fs = hadoopFs(spark, dir)
    val head = headVersion(spark, dir) // OCC pin, as renameColumn
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def key(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val prior = evolutionFields(fs, dir, None)
    // taint rule: a name the table has EVER carried physically (current
    // columns, renamed-away originals, dropped columns) can never be
    // re-added — old files still hold bytes under it, and a reborn
    // column would silently read them
    val (ren, dropped) = mappingState(fs, dir, None)
    val taken = (read(spark, dir).map(_.schema.fieldNames.toSeq)
      .getOrElse(Nil) ++ prior.map(_.name)).map(key).toSet ++
      (ren.keySet ++ dropped).map(key)
    fields.foreach { f =>
      require(f.nullable, s"added column ${f.name} must be nullable — " +
        "existing rows have no value for it")
      require(!taken.contains(key(f.name)),
        s"column ${f.name} already exists (or was previously carried " +
          s"physically) in $dir")
    }
    require(fields.map(f => key(f.name)).distinct.size == fields.size,
      s"duplicate column name in ADD COLUMNS: ${fields.map(_.name).mkString(", ")}")
    // `ADD COLUMN ... DEFAULT`: the default rides the SAME commit as the
    // declaration (atomic — a crash can't declare the column without its
    // default); the schema JSON stays metadata-free, the properties are
    // the single source of truth
    commit(fs, dir, Commit("append", None, None, Nil, Nil, Nil,
      (SchemaAddedProp ->
        StructType(prior ++ stripDefaultMetadata(fields)).json) +:
        defaultPropsOf(fields)), head)
  }

  private val ConstraintPrefix = "constraint."

  /** CHECK constraints currently enforced on every write: name → SQL
    * boolean expression. */
  def constraints(spark: SparkSession, dir: String): Map[String, String] =
    tableProperties(spark, dir).collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Attach a CHECK constraint (SQL boolean text over the table's
    * columns, e.g. `"qty >= 0"`, `"k IS NOT NULL"`). SQL CHECK semantics:
    * a row violates only when the expression is FALSE — NULL passes (use
    * an explicit IS NOT NULL constraint for null rejection). Existing
    * rows are validated first (one aggregate pass), as Delta does — a
    * constraint the current table already breaks is refused, so the
    * invariant is trustworthy from the moment it exists. Every subsequent
    * [[append]]/[[appendOnce]]/[[replace]]/[[replacePartitionsBy]]
    * validates its batch BEFORE staging and fails loudly with a count
    * and example rows. */
  def setConstraint(spark: SparkSession, dir: String, name: String,
                    sqlText: String): Unit = {
    read(spark, dir).foreach { t =>
      failViolations(t, Seq(name -> sqlText),
        s"existing rows in $dir violate new constraint")
    }
    setProperties(spark, dir, Map(s"$ConstraintPrefix$name" -> sqlText))
  }

  /** Remove a CHECK constraint. */
  def dropConstraint(spark: SparkSession, dir: String, name: String): Unit =
    setProperties(spark, dir, Map(s"$ConstraintPrefix$name" -> ""))

  /** Validate `df` against the table's constraints — one aggregate pass
    * for all of them; per violated constraint an example fetch. Called on
    * every write path BEFORE staging, so a bad batch costs no staged
    * bytes and no commit slot. */
  private def enforceConstraints(spark: SparkSession, dir: String,
                                 df: DataFrame): Unit = {
    val cs = constraints(spark, dir).toSeq.sortBy(_._1)
    if (cs.nonEmpty)
      failViolations(df, cs, s"batch rejected by CHECK constraint on $dir")
  }

  private def failViolations(df: DataFrame, cs: Seq[(String, String)],
                             context: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    // violation ⟺ expression IS FALSE (SQL CHECK: null passes)
    def bad(sql: String) = !coalesce(expr(sql), lit(true))
    val aggs = cs.map { case (n, sql) =>
      sum(when(bad(sql), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val violated = cs.zipWithIndex.filter { case (_, i) =>
      !row.isNullAt(i) && row.getLong(i) > 0
    }
    if (violated.nonEmpty) {
      val details = violated.map { case ((n, sql), i) =>
        val examples = df.filter(bad(sql)).take(3)
          .map(_.toString).mkString("; ")
        s"'$n' CHECK ($sql): ${row.getLong(i)} row(s), e.g. $examples"
      }
      throw new IllegalArgumentException(
        s"$context — ${details.mkString(" | ")}")
    }
  }

  /** Highest epoch committed for `appId`, None if the app never wrote.
    * The read side of the exactly-once handshake: a foreachBatch sink
    * checks `lastTxn < batchId` before writing (see [[appendOnce]]), an
    * incremental view reads back the source version its last refresh
    * applied. */
  def lastTxn(spark: SparkSession, dir: String, appId: String): Option[Long] =
    txnState(hadoopFs(spark, dir), dir).get(appId)

  /** Idempotent append keyed by (appId, epoch): a no-op when an epoch
    * >= `epoch` is already committed for `appId`. Returns true when the
    * append actually landed.
    *
    * Because the mark rides IN the same commit as the data (single atomic
    * log rename), there is no crash window between "data landed" and
    * "epoch recorded" — a redelivered micro-batch after ANY crash point
    * either sees its epoch (skip) or its data never became visible
    * (rewrite). This is exactly-once sink semantics over at-least-once
    * delivery, the Delta `txn`-action design. Epochs must be monotonic per
    * appId (Structured Streaming batchIds are). Relies on the table's
    * single-writer-per-appId contract, same as every idempotent-sink
    * protocol. */
  def appendOnce(spark: SparkSession, dir: String, df: DataFrame,
                 appId: String, epoch: Long,
                 partitionCols: Seq[String] = Nil): Boolean = {
    if (lastTxn(spark, dir, appId).exists(_ >= epoch)) false
    else { append(spark, dir, df, partitionCols, Some(appId -> epoch)); true }
  }

  /** Atomically swap the partitions present in `df`: live files under those
    * fragments are dropped from the log's live set (their bytes stay until
    * [[vacuum]]), the staged files added — untouched partitions' files are
    * never rewritten OR moved, so the scoped-merge cost is
    * O(touched partitions), commit cost O(1). */
  def replacePartitions(spark: SparkSession, dir: String, df: DataFrame,
                        partCol: String, scheme: Option[String] = None,
                        expectedHead: Option[Long] = None): Unit =
    replacePartitionsBy(spark, dir, df, Seq(partCol), scheme, expectedHead)

  /** [[replacePartitions]] for nested (multi-column) layouts: the swap
    * granularity is the full (col1, col2, …) fragment combination present
    * in `df`. The table's live layout is ENFORCED, not just documented: a
    * commit staged at a shallower (or different) granularity than the live
    * files would compute `removed` fragments that match nothing, leaving the
    * old rows live next to their replacements — silent duplicates. Any
    * layout mismatch against the current live set fails loudly up front. */
  def replacePartitionsBy(spark: SparkSession, dir: String, df: DataFrame,
                          partCols: Seq[String],
                          scheme: Option[String] = None,
                          expectedHead: Option[Long] = None,
                          txn: Option[(String, Long)] = None): Unit = {
    require(partCols.nonEmpty, "replacePartitionsBy needs >= 1 partition column")
    // head live set only — replay() seeds from the newest checkpoint, so the
    // guard costs O(commits since compactLog), not O(versions × files)
    val live = replay(hadoopFs(spark, dir), dir)._1
    if (live.nonEmpty) {
      val layouts = live.map(_.part
        .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil)).distinct
      require(layouts == Vector(partCols.toSeq),
        s"replacePartitionsBy(${partCols.mkString(",")}) does not match the " +
          s"table's live partition layout ${layouts.map(_.mkString(",")).mkString("[", "; ", "]")}: " +
          "a mismatched swap granularity would leave stale rows live (duplicates); " +
          "rewrite the table with replace() to change layouts")
    }
    enforceConstraints(spark, dir, df)
    val files = stage(spark, dir, df, partCols)
    val removed = files.flatMap(_.part).distinct
    commit(hadoopFs(spark, dir), dir,
      Commit("replacePartitions", partColField(partCols), scheme, removed,
        files, txn.toSeq),
      expectedHead)
  }

  /** What a row-level [[deleteWhere]]/[[updateWhere]] did: rows matching
    * the predicate, live files that held them (and were rewritten), and
    * the live file total — `filesRewritten << filesLive` is the
    * copy-on-write promise a caller can assert on. */
  final case class RewriteStats(matchedRows: Long, filesRewritten: Int,
                                filesLive: Int)

  /** Row-level DELETE, copy-on-write (the Delta `DELETE FROM` shape):
    * one filtered scan finds the live files holding rows that match
    * `cond` (pushed filters + parquet row-group stats prune it like any
    * read), ONLY those files are rewritten without the matching rows, and
    * one atomic `rewrite` commit swaps them — untouched files are never
    * read twice, rewritten, or moved. Cost is O(matching files), not
    * O(table); at 100 TB a delete touching one day's files rewrites one
    * day's files. Null predicate semantics follow SQL DELETE: a row is
    * removed only when `cond` is TRUE (NULL keeps the row).
    *
    * Concurrency: the commit is pinned to the head version read at entry
    * (or the caller's `expectedHead`), so an interleaved writer fails this
    * delete loudly instead of being silently dropped — re-read and retry.
    * Time travel below the commit still sees the deleted rows until
    * [[vacuum]]; a rewritten-away file's bytes are reclaimed once no
    * retained version references its staging batch. [[readChanges]] shows
    * a rewrite as file-level delete+insert, so every surviving row in a
    * touched file appears as a cancelling (delete, insert) pair —
    * signed-delta consumers ([[IncrementalView]]) net it to zero. */
  def deleteWhere(spark: SparkSession, dir: String, cond: Column,
                  expectedHead: Option[Long] = None,
                  txn: Option[(String, Long)] = None): RewriteStats =
    rewriteWhere(spark, dir, cond, expectedHead, txn) { (touched, hit) =>
      touched.filter(!hit)
    }

  /** Row-level UPDATE, copy-on-write — [[deleteWhere]]'s mechanics with
    * matching rows transformed instead of dropped: each `set` entry
    * replaces column `c` with its expression (evaluated over the row,
    * cast back to the column's type so the table schema never drifts) on
    * rows where `cond` is TRUE; all other rows and all other files are
    * byte-identical survivors. Updating a partition column is allowed —
    * rewritten rows restage into their new fragments. CHECK constraints
    * validate the rewritten files before staging, same as every write. */
  def updateWhere(spark: SparkSession, dir: String, cond: Column,
                  set: Map[String, Column],
                  expectedHead: Option[Long] = None,
                  txn: Option[(String, Long)] = None): RewriteStats = {
    require(set.nonEmpty, "updateWhere needs >= 1 SET column")
    rewriteWhere(spark, dir, cond, expectedHead, txn) { (touched, hit) =>
      val missing = set.keySet -- touched.columns.toSet
      require(missing.isEmpty,
        s"updateWhere SET names unknown column(s) ${missing.mkString(", ")} " +
          s"— table has ${touched.columns.mkString(", ")}")
      touched.select(touched.columns.map { c =>
        set.get(c)
          .map(e => when(hit, e.cast(touched.schema(c).dataType))
            .otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }
  }

  /** The rewrite paths tag rows with helper columns; a table already
    * carrying those names would surface as a confusing ambiguous-reference
    * AnalysisException mid-rewrite, so fail the precondition loudly instead
    * (the same guard shape as Corpus.globalRank's helper columns). */
  private val ReservedRewriteCols =
    Seq("__graft_file", "__graft_pos", "__bin", DvFileCol, DvPosCol)

  private def requireNoReservedCols(cols: Seq[String], dir: String): Unit = {
    val clash = cols.filter(ReservedRewriteCols.contains)
    require(clash.isEmpty,
      s"TxTable $dir: column(s) ${clash.mkString(", ")} collide with " +
        s"reserved rewrite helper names ${ReservedRewriteCols.mkString(", ")} " +
        "— rename them before using row-level rewrites or compaction")
  }

  private def rewriteWhere(spark: SparkSession, dir: String, cond: Column,
      expectedHead: Option[Long], txn: Option[(String, Long)])
      (transform: (DataFrame, Column) => DataFrame): RewriteStats = {
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    val (live, _) = replay(fs, dir)
    if (live.isEmpty) return RewriteStats(0L, 0, 0)
    requireNoReservedCols(framesFor(spark, dir, live).columns, dir)
    val hit = coalesce(cond, lit(false))
    // one filtered scan over the live set, rows tagged with their source
    // file — output is bounded by |files|, never rows. Widened with the
    // declared evolution columns so a rewrite can SET or test a column no
    // batch has materialized yet.
    val perFile = present(spark,
        framesFor(spark, dir, live, Some("__graft_file")), fs, dir, None)
      .filter(hit)
      .groupBy(col("__graft_file")).agg(count(lit(1)).as("__n"))
      .collect()
    if (perFile.isEmpty) return RewriteStats(0L, 0, live.size)
    val byAbs = live.map(e =>
      fs.makeQualified(new Path(dir, e.path)).toString -> e).toMap
    val touched = perFile.map { r =>
      byAbs.getOrElse(r.getString(0), throw new IllegalStateException(
        s"rewrite scan surfaced non-live file ${r.getString(0)} — " +
          "concurrent vacuum below the retention window?"))
    }.toSeq.sortBy(_.path)
    val matched = perFile.map(_.getLong(1)).sum
    val layouts = touched.map(_.part
      .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil))
      .distinct
    require(layouts.size == 1,
      s"rewrite spans mixed partition layouts ${layouts.mkString("; ")} — " +
        "rewrite the table with replace() to a single layout first")
    val partCols = layouts.head
    val next = transform(
      present(spark, framesFor(spark, dir, touched),
        fs, dir, None), hit)
    enforceConstraints(spark, dir, next)
    val files = stage(spark, dir, next, partCols)
    // a rewrite that empties the table records the (physical) schema as
    // declared fields IN the same commit — the table keeps its shape for
    // reads/DESCRIBE/INSERT instead of becoming schema-less (see
    // [[truncate]]; data files are this format's schema carrier)
    val props =
      if (files.nonEmpty || touched.size != live.size) Nil
      else declaredShapeProps(fs, dir,
        scanSchema(spark, dir, None).fields.toSeq, partCols)
    commit(fs, dir, Commit("rewrite", partColField(partCols), None,
      touched.map(_.path), files, txn.toSeq, props), head)
    RewriteStats(matched, touched.size, live.size)
  }

  /** What a [[deleteWhereDV]] did: rows newly deleted, live files that got
    * a (new or re-pointed) deletion-vector ref, and the live total —
    * `filesRewritten = 0` by construction is the merge-on-read promise. */
  final case class DvStats(matchedRows: Long, filesTouched: Int,
                           filesLive: Int)

  /** Row-level DELETE, merge-on-read (the Delta deletion-vector / Iceberg
    * positional-delete shape): instead of rewriting every file that holds
    * a matching row ([[deleteWhere]]'s copy-on-write), ONE scan records
    * the matching rows' `(file, position)` pairs into a small parquet
    * sidecar (`data/dv-<uuid>/`), and one atomic `dv` commit attaches the
    * sidecar to the touched files. Write cost is O(matched rows), not
    * O(bytes of matched files) — at 100 TB, deleting 1k rows spread over
    * 1k large files writes kilobytes, where copy-on-write would rewrite
    * the lot. Reads apply the vector as a position anti-join on the
    * touched files only (see [[framesFor]]); clean files keep their plain
    * vectorized path. A file touched again MERGES its old positions into
    * the new sidecar (one ref per file, never a chain), so read cost per
    * file stays one join against one sidecar.
    *
    * Trade-offs vs copy-on-write, stated: every subsequent read of a
    * touched file pays the anti-join until [[purgeDvs]] (or any rewrite —
    * compaction, z-order, CoW delete) folds the vector in; file stats
    * become a superset (skipping stays correct, prunes a little less).
    * Null predicate semantics, OCC head pinning, time travel (versions
    * below the commit read the pre-delete rows), the change feed (the
    * commit presents as delete+insert of the touched file, like a CoW
    * rewrite), CHECK constraints (a delete cannot violate one), and
    * vacuum retention of the sidecar all behave exactly as
    * [[deleteWhere]]'s scaladoc promises. */
  def deleteWhereDV(spark: SparkSession, dir: String, cond: Column,
                    expectedHead: Option[Long] = None,
                    txn: Option[(String, Long)] = None): DvStats = {
    val head = expectedHead.orElse(headVersion(spark, dir))
    readTagged(spark, dir, "__graft_file", "__graft_pos") match {
      case None => DvStats(0L, 0, 0)
      case Some(tagged) =>
        // ONE DV-aware scan (already-deleted rows can never re-match)
        // tagging each matching row with its file + file-absolute position
        val hit = coalesce(cond, lit(false))
        applyRowChanges(spark, dir,
          tagged.filter(hit)
            .select(col("__graft_file").as("file"), col("__graft_pos").as("pos")),
          appends = None, expectedHead = head, txn = txn)
    }
  }

  /** The table's live rows tagged with their source file's QUALIFIED path
    * and file-absolute row position — the scan side of every merge-on-read
    * write ([[deleteWhereDV]]/[[updateWhereDV]]/[[applyRowChanges]]
    * callers like MergeSink's MoR MERGE). DV-aware and evolution-widened
    * like [[read]]; None before the first commit / empty live set. */
  private[graft] def readTagged(spark: SparkSession, dir: String,
                                fileCol: String,
                                posCol: String): Option[DataFrame] = {
    val fs = hadoopFs(spark, dir)
    val (live, _) = replay(fs, dir)
    if (live.isEmpty) None
    else {
      requireNoReservedCols(framesFor(spark, dir, live).columns, dir)
      Some(present(spark,
        framesFor(spark, dir, live, Some(fileCol), Some(posCol)),
        fs, dir, None))
    }
  }

  /** The merge-on-read PRIMITIVE: one atomic `dv` commit that deletes the
    * given `(file, pos)` rows (columns named exactly `file` = qualified
    * path as [[readTagged]] tags it, `pos`) and appends `appends` — both
    * halves visible together or not at all. [[deleteWhereDV]] is
    * (deletes, None); [[updateWhereDV]] is (old positions, transformed
    * copies); a keyed MERGE is (retired positions, updated+inserted
    * rows). Deletes evaluate ONCE into the sidecar (clustered by file,
    * positions sorted, so the read side's joins skip row groups);
    * touched files' existing vectors fold into the same sidecar — one
    * ref per file, never a chain. Appends stage under the table's live
    * partition layout and pass the CHECK gate before anything stages.
    * O(changed rows) written at any table size. */
  def applyRowChanges(spark: SparkSession, dir: String, deletes: DataFrame,
                      appends: Option[DataFrame],
                      expectedHead: Option[Long] = None,
                      txn: Option[(String, Long)] = None): DvStats = {
    import org.apache.spark.sql.functions.broadcast
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    val (live, _) = replay(fs, dir)
    require(live.nonEmpty, s"applyRowChanges on empty table $dir")
    val rootQ = fs.makeQualified(new Path(dir)).toString
    val batch = s"dv-${java.util.UUID.randomUUID()}"
    val out = new Path(new Path(dir, DataDirName), batch)
    // the sidecar stores table-relative paths so the table stays
    // relocatable; a tagged path OUTSIDE this table's root (a shallow
    // clone / branch referencing its source's files absolutely) keeps its
    // absolute form — it matches the live entry's own absolute path.
    // distinct() so a caller passing duplicate (file, pos) pairs can't
    // inflate the deleted counts purgeDvs decides on
    deletes.select(when(col("file").startsWith(rootQ + "/"),
        col("file").substr(lit(rootQ.length + 2), lit(Int.MaxValue)))
        .otherwise(col("file")).as("file"),
        col("pos"))
      .distinct()
      .repartition(col("file")).sortWithinPartitions("file", "pos")
      .write.parquet(out.toString)
    val staged = {
      val it = fs.listFiles(fs.makeQualified(out), true)
      var any = false
      while (it.hasNext && !any) any = it.next().getPath.getName.endsWith(".parquet")
      any
    }
    // per-file NEW-delete counts from the staged sidecar — a re-read of
    // the small sidecar, never a second table scan
    val newCounts =
      if (!staged) Map.empty[String, Long]
      else readSidecar(spark, out.toString)
        .groupBy("file").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byRel = live.map(e => e.path -> e).toMap
    val touched = newCounts.keySet.toSeq.sorted.map(p =>
      byRel.getOrElse(p, throw new IllegalStateException(
        s"applyRowChanges surfaced non-live file $p — concurrent " +
          "vacuum below the retention window?")))
    // fold the touched files' EXISTING vectors into the new sidecar (same
    // directory, second small write), so each file keeps exactly one ref.
    // Carried rows are anti-joined against the NEW rows first: a caller
    // passing positions that are already deleted (not derived from a
    // DV-aware scan — readTagged callers can't, but this is a public API)
    // must not produce duplicate sidecar rows or double-counted `deleted`
    // (reads stay correct either way via the anti-join; the COUNTS drive
    // purgeDvs' deleted-fraction policy and must be exact).
    val carried = touched.filter(_.dv.isDefined)
    if (carried.nonEmpty) {
      val refs = carried.map(e => (e.path, e.dv.get.dir))
      val refDf = spark.createDataFrame(refs)
        .toDF("__graft_ref_file", "__graft_ref_dv")
      val olds = refs.map(_._2).distinct.sorted.map { d =>
        readSidecar(spark, new Path(dir, d).toString)
          .select(col("file"), col("pos"), lit(d).as("__graft_del_src"))
      }.reduce(_.union(_))
      val newRows = readSidecar(spark, out.toString).select("file", "pos")
      olds.join(broadcast(refDf),
          olds("file") === refDf("__graft_ref_file") &&
            olds("__graft_del_src") === refDf("__graft_ref_dv"), "left_semi")
        .select("file", "pos")
        .join(newRows, Seq("file", "pos"), "left_anti")
        .repartition(col("file")).sortWithinPartitions("file", "pos")
        .write.mode("append").parquet(out.toString)
    }
    // appended copies under the table's live layout, CHECK-gated
    val files = appends match {
      case None => Nil
      case Some(a) =>
        val layouts = live.map(_.part
          .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil))
          .distinct
        require(layouts.size == 1,
          s"applyRowChanges spans mixed partition layouts ${layouts.mkString("; ")}")
        enforceConstraints(spark, dir, a)
        stage(spark, dir, a, layouts.head)
    }
    if (newCounts.isEmpty && files.isEmpty) {
      fs.delete(out, true)
      return DvStats(0L, 0, live.size)
    }
    if (newCounts.isEmpty) fs.delete(out, true) // pure-append change set
    // merged per-file cardinality: exact distinct counts. With no carried
    // vectors the deduped new counts ARE the totals; with carried ones,
    // one more read of the (small) merged sidecar — new ∪ (carried \ new)
    // is distinct by construction of the anti-join above.
    val finalCounts =
      if (carried.isEmpty) newCounts
      else readSidecar(spark, out.toString)
        .groupBy("file").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val refsNew = touched.map(e =>
      e.path -> DvRef(s"$DataDirName/$batch", finalCounts(e.path)))
    val partCol = live.flatMap(_.part).headOption
      .map(_.split('/').map(_.takeWhile(_ != '=')).mkString(","))
    commit(fs, dir, Commit("dv", partCol, None, Nil, files, txn.toSeq,
      dvRefs = refsNew), head)
    // newly deleted = merged totals minus what the carried vectors already
    // held — exact even when the caller re-submits already-deleted pairs
    DvStats(finalCounts.values.sum -
        carried.map(_.dv.get.deleted).sum,
      touched.size, live.size)
  }

  /** Row-level UPDATE, merge-on-read — [[deleteWhereDV]]'s mechanics with
    * the matched rows re-appended transformed: ONE scan stages the
    * matching rows (with their positions), the positions become a
    * deletion vector on the touched files, the transformed copies stage
    * as new data files, and a single atomic `dv` commit carries BOTH
    * halves — there is no window where the old and new row are live
    * together or both absent. Write cost is O(matched rows), not O(bytes
    * of matched files). Updating a partition column is allowed (the
    * copies restage into their new fragments). CHECK constraints validate
    * the transformed rows BEFORE anything stages, same as every write.
    * The same read-side trade as deleteWhereDV applies until [[purgeDvs]];
    * note the updated rows land in fresh files, so their envelopes are
    * tight while the old files' stats stay a superset. */
  def updateWhereDV(spark: SparkSession, dir: String, cond: Column,
                    set: Map[String, Column],
                    expectedHead: Option[Long] = None,
                    txn: Option[(String, Long)] = None): DvStats = {
    require(set.nonEmpty, "updateWhereDV needs >= 1 SET column")
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    val tagged0 = readTagged(spark, dir, "__graft_file", "__graft_pos")
      .getOrElse(return DvStats(0L, 0, 0))
    val hit = coalesce(cond, lit(false))
    val tagged = tagged0.filter(hit)
    val missing = set.keySet -- tagged.columns.toSet
    require(missing.isEmpty,
      s"updateWhereDV SET names unknown column(s) ${missing.mkString(", ")}")
    // ONE table scan: the matched rows in full (for the transformed
    // copies) plus their (file, pos) — parked in an uncommitted temp dir
    // so the sidecar and the copies both derive from it without a second
    // scan. Crash debris here is an orphan dir vacuum reclaims by age.
    val tmp = new Path(new Path(dir, DataDirName),
      s"tmp-upd-${java.util.UUID.randomUUID()}")
    tagged.write.parquet(tmp.toString)
    val hasParquet = {
      val it = fs.listFiles(fs.makeQualified(tmp), true)
      var any = false
      while (it.hasNext && !any) any = it.next().getPath.getName.endsWith(".parquet")
      any
    }
    if (!hasParquet) {
      fs.delete(tmp, true)
      return DvStats(0L, 0, replay(fs, dir)._1.size)
    }
    val matchedFull = spark.read.parquet(tmp.toString)
    // the transformed copies — every row here matched, so the SET applies
    // unconditionally; casts pin the table schema exactly as updateWhere
    val dataCols = matchedFull.columns
      .filterNot(c => c == "__graft_file" || c == "__graft_pos")
    val transformed = matchedFull.select(dataCols.map { c =>
      set.get(c)
        .map(e => e.cast(matchedFull.schema(c).dataType).as(c))
        .getOrElse(col(c))
    }.toSeq: _*)
    val stats = applyRowChanges(spark, dir,
      matchedFull.select(col("__graft_file").as("file"),
        col("__graft_pos").as("pos")),
      appends = Some(transformed), expectedHead = head, txn = txn)
    fs.delete(tmp, true)
    stats
  }

  /** Fold deletion vectors back into clean files: live files whose deleted
    * fraction is at least `minDeletedFraction` (0.0 = every DV-carrying
    * file) are rewritten WITHOUT their deleted positions and atomically
    * swapped — the maintenance half of the merge-on-read trade, restoring
    * the plain vectorized read path and tight file stats. Row-preserving
    * (`dataChange = false`): the change feed stays silent, exactly like
    * compaction. Fractions compare against the parquet footer's row count
    * — O(DV'd files) metadata reads, no data scanned for the decision.
    * Superseded sidecars reclaim via [[vacuum]] once outside retention. */
  def purgeDvs(spark: SparkSession, dir: String,
               minDeletedFraction: Double = 0.0,
               expectedHead: Option[Long] = None): CompactStats = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction <= 1.0,
      s"minDeletedFraction must be in [0, 1], got $minDeletedFraction")
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    val (live, _) = replay(fs, dir)
    val dvd = live.filter(_.dv.isDefined)
    if (dvd.isEmpty) return CompactStats(0, 0, live.size)
    val conf = spark.sparkContext.hadoopConfiguration
    val targets =
      if (minDeletedFraction <= 0.0) dvd
      else dvd.filter { e =>
        val rows = parquetRowCount(conf, new Path(dir, e.path))
        rows > 0 && e.dv.get.deleted.toDouble / rows >= minDeletedFraction
      }
    if (targets.isEmpty) return CompactStats(0, 0, live.size)
    val layouts = targets.map(_.part
      .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil))
      .distinct
    require(layouts.size == 1,
      s"purgeDvs spans mixed partition layouts ${layouts.mkString("; ")}")
    val partCols = layouts.head
    val next = present(spark, framesFor(spark, dir, targets),
      fs, dir, None)
    val files = stage(spark, dir, next, partCols)
    commit(fs, dir, Commit("rewrite", partColField(partCols), None,
      targets.map(_.path), files, Nil, dataChange = false), head)
    CompactStats(targets.size, files.size, live.size - targets.size)
  }

  /** Parquet footer record count — a metadata read, no data pages. */
  private[graft] def parquetRowCount(conf: org.apache.hadoop.conf.Configuration,
                              p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try reader.getRecordCount finally reader.close()
  }

  /** True when any live file carries a deletion vector as of `asOf` —
    * the SQL front door's routing test (DV'd files need the position
    * anti-join; clean files keep the stock FileIndex scan). */
  private[graft] def hasLiveDvs(spark: SparkSession, dir: String,
                                asOf: Option[Long] = None): Boolean =
    liveEntriesForSql(spark, dir, asOf).exists(_.dv.isDefined)

  /** [[read]] restricted to the DV-carrying live files (None when there
    * are none) — the SQL front door unions this branch beside the clean
    * files' stock vectorized scan. */
  private[graft] def readDvSlice(spark: SparkSession, dir: String,
                                 asOf: Option[Long] = None): Option[DataFrame] = {
    val fs = hadoopFs(spark, dir)
    val entries = liveEntriesForSql(spark, dir, asOf).filter(_.dv.isDefined)
    if (entries.isEmpty) None
    else Some(present(spark, framesFor(spark, dir, entries, asOf = asOf),
      fs, dir, asOf))
  }

  /** Reclaim data files outside the retention window (superseded replaces,
    * crash-orphaned staging). Maintenance-cycle work, never the hot path.
    * Returns the number of staging dirs plus individually reclaimed files
    * deleted (rewrite-retired files inside still-live batches reclaim
    * file-by-file — see the in-body note).
    *
    * `retainVersions`: keep every file referenced by the live set of any of
    * the last N commits — a reader that resolved file paths at one of those
    * versions keeps working across this vacuum (the Delta retention trade;
    * default 1 = head only, the aggressive reclaim). When a vacuum removes
    * a batch some OLDER commit still references, the oldest retained
    * version is recorded as the table's floor: [[read]] rejects `asOf`
    * below it and [[versions]] stops advertising those versions.
    *
    * `minOrphanAgeMs`: staging dirs referenced by NO commit are either
    * crash debris or a concurrent writer's in-flight batch — only dirs
    * older than this are deleted (default 0 keeps single-process tests
    * exact; production maintenance should pass minutes). */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int = 1,
             minOrphanAgeMs: Long = 0L): Int = {
    val r = vacuumReport(spark, dir, retainVersions, minOrphanAgeMs,
      dryRun = false)
    r.batchDirs.size + r.files.size
  }

  /** Exactly what a [[vacuum]] with the same arguments would (or did)
    * reclaim: whole staging dirs (superseded/orphaned batches), individual
    * files retired inside still-live batches, their total bytes, and the
    * retention floor the vacuum records (None when no committed history is
    * removed). Paths are table-relative. */
  final case class VacuumReport(batchDirs: Seq[String], files: Seq[String],
                                bytes: Long, newFloor: Option[Long])

  /** [[vacuum]]'s plan — and, when `dryRun = false`, its execution. The
    * dry run is the operational safety affordance: it deletes NOTHING and
    * returns precisely the reclaim set a real vacuum with the same
    * arguments would delete, so "what would this destroy?" is answerable
    * before the first destructive maintenance run on a production table. */
  def vacuumReport(spark: SparkSession, dir: String, retainVersions: Int = 1,
                   minOrphanAgeMs: Long = 0L,
                   dryRun: Boolean = true): VacuumReport = {
    require(retainVersions >= 1, s"retainVersions must be >= 1, got $retainVersions")
    val fs = hadoopFs(spark, dir)
    val sets = liveSetsByVersion(fs, dir)
    // a deletion-vector sidecar dir is referenced exactly like a data
    // batch (via the live entries' dv refs), so it retains and reclaims
    // at batch granularity with the same rules
    // adopted (CONVERT) entries have no staging batch — they are simply
    // never in vacuum's reclaim domain (the engine-owned data/ dir)
    def batches(s: Seq[(Long, Vector[FileEntry], Boolean)]) =
      s.flatMap(_._2.flatMap(e =>
        batchNameOf(e.path).toSeq ++
          e.dv.map(_.dir.split('/')(1)).toSeq)).toSet
    // a LIVE BRANCH pins every version at or above its base: the branch's
    // seed commit references main's files ABSOLUTELY as of that version,
    // so reclaiming them would silently corrupt the branch (publish or
    // drop branches to release the retention)
    val branchFloor = listBranches(spark, dir).map(_._2).minOption
    val retained = branchFloor match {
      case None => sets.takeRight(retainVersions)
      case Some(b) =>
        val byCount = sets.takeRight(retainVersions)
        (sets.filter(_._1 >= b) ++ byCount)
          .distinctBy(_._1).sortBy(_._1)
    }
    val keep = batches(retained)
    val everCommitted = batches(sets) // every batch is live right after its
                                      // adding commit, so this is complete
    val dataDir = new Path(dir, DataDirName)
    if (!fs.exists(dataDir))
      return VacuumReport(Nil, Nil, 0L, None)
    val now = System.currentTimeMillis()
    var removedCommitted = false
    val stale = fs.listStatus(dataDir).toSeq.filter { st =>
      val name = st.getPath.getName
      st.isDirectory && !keep.contains(name) && {
        if (everCommitted.contains(name)) { removedCommitted = true; true }
        else now - st.getModificationTime >= minOrphanAgeMs
      }
    }
    // FILE-granular reclaim inside still-live batches: a row-level
    // rewrite ([[deleteWhere]]/[[compactSmallFiles]]) retires individual
    // files whose batch keeps other live siblings — batch-level deletion
    // alone would pin those dead bytes for as long as ONE sibling stays
    // live. A file referenced by no retained live set is unreachable to
    // any retention-respecting reader, so it reclaims exactly like a
    // dead batch (and fences the floor the same way).
    def paths(s: Seq[(Long, Vector[FileEntry], Boolean)]) =
      s.flatMap(_._2.flatMap(e => e.path +: e.dv.map(_.dir).toSeq)).toSet
    val enumerated = paths(sets)
    val deadFiles = (enumerated -- paths(retained))
      .filter(p => batchNameOf(p).exists(keep.contains)).toSeq.sorted
    if (deadFiles.nonEmpty) removedCommitted = true
    // GHOST files: on disk inside a KEPT batch but referenced by NO
    // enumerable version — a rewrite retired them and a later compactLog
    // checkpoint pruned the only commits that mentioned them, so the
    // enumeration above can never see them. Without this disk diff they
    // leak permanently on streaming tables that compact their log before
    // vacuuming. They sit below compactLog's floor already (no retained
    // reader can reference them), so no floor advance is needed; the
    // orphan age guard keeps a racing writer's in-flight bytes safe the
    // same way it does for whole orphan dirs.
    val rootQ = fs.makeQualified(new Path(dir)).toString
    // dv- sidecar batches are skipped: a kept sidecar's part files are
    // referenced as a whole DIRECTORY by the dv refs (never enumerated
    // file-by-file), so the not-in-enumerated test would misread every
    // one of them as a ghost and delete live deletion vectors
    val ghosts = keep.toSeq.sorted.filterNot(_.startsWith("dv-")).flatMap { b =>
      val bd = new Path(dataDir, b)
      val acc = Seq.newBuilder[(String, Long)]
      if (fs.exists(bd)) {
        val it = fs.listFiles(bd, true)
        while (it.hasNext) {
          val st = it.next()
          val rel = st.getPath.toString.stripPrefix(rootQ).stripPrefix("/")
          if (st.getPath.getName.endsWith(".parquet") &&
              !enumerated.contains(rel) &&
              now - st.getModificationTime >= minOrphanAgeMs)
            acc += ((rel, st.getLen))
        }
      }
      acc.result()
    }
    val bytes =
      stale.map(st => fs.getContentSummary(st.getPath).getLength).sum +
        deadFiles.map(p => fs.getFileStatus(new Path(dir, p)).getLen).sum +
        ghosts.map(_._2).sum
    val priorFloor = readFloor(fs, dir).getOrElse(Long.MinValue)
    val newFloor = if (removedCommitted)
      retained.headOption.map(_._1).filter(_ > priorFloor) else None
    val report = VacuumReport(
      stale.map(st => s"$DataDirName/${st.getPath.getName}").sorted,
      (deadFiles ++ ghosts.map(_._1)).sorted, bytes, newFloor)
    if (!dryRun) {
      // floor BEFORE the destructive deletes: the floor is monotonic and
      // idempotent, so advancing it for a delete that never happens is
      // harmless — whereas deleting first leaves a crash window where an
      // advertised old version plans over reclaimed files and dies with
      // the mid-scan FileNotFoundException the floor exists to prevent
      newFloor.foreach(writeFloor(fs, dir, _))
      stale.foreach(st => fs.delete(st.getPath, true))
      report.files.foreach(p => fs.delete(new Path(dir, p), false))
    }
    report
  }

  /** Number of distinct staging batches the live set spans — the fan-in of
    * [[read]]'s union. Append-heavy tables grow one batch per commit
    * (~2.9k/day at a 30 s cadence); compare against a bound and
    * [[compactData]] in the maintenance cycle. */
  def liveBatchCount(spark: SparkSession, dir: String): Int =
    replay(hadoopFs(spark, dir), dir)._1
      .map(e => batchNameOf(e.path).getOrElse("<adopted>")).distinct.size

  /** Operational snapshot for monitoring/maintenance decisions. All values
    * come from the log and a directory listing — no data file is opened. */
  final case class TableInfo(headVersion: Long, commitCount: Int,
                             checkpointVersion: Option[Long],
                             retentionFloor: Option[Long],
                             liveFiles: Int, liveBatches: Int,
                             onDiskBatches: Int, scheme: Option[String])

  /** [[TableInfo]] for a table, None before the first commit. `onDiskBatches`
    * minus `liveBatches` approximates reclaimable staging dirs (retained
    * history + orphans) — a maintenance trigger alongside
    * [[liveBatchCount]]. */
  def describe(spark: SparkSession, dir: String): Option[TableInfo] = {
    val fs = hadoopFs(spark, dir)
    val commits = listCommits(fs, dir)
    commits.lastOption.map { case (head, _) =>
      val (live, scheme) = replay(fs, dir)
      val dataDir = new Path(dir, DataDirName)
      val onDisk =
        if (!fs.exists(dataDir)) 0
        else fs.listStatus(dataDir).count(_.isDirectory)
      TableInfo(head, commits.size,
        listCheckpoints(fs, dir).lastOption.map(_._1),
        readFloor(fs, dir),
        live.size,
        live.map(e => batchNameOf(e.path).getOrElse("<adopted>"))
          .distinct.size,
        onDisk, scheme)
    }
  }

  /** Rewrite the live set into ONE staging batch via a single `replace`
    * commit, then vacuum the superseded files. Bounds [[read]]'s union
    * fan-in AND the small-file count in one pass. Unlike the rename-swap
    * [[MergeSink.compactIfNeeded]], no localCheckpoint is needed: the
    * rewrite reads the old immutable files while staging new ones, the
    * commit flips atomically, and readers mid-flight keep working against
    * the files they already resolved for as long as the trailing
    * [[vacuum]]'s retention covers their version — pass
    * `retainVersions` >= 2 when concurrent readers are possible (the
    * default 1 reclaims the superseded files immediately).
    * `targetPartitions` > 0 additionally coalesces (per partition column
    * when the layout has one). */
  def compactData(spark: SparkSession, dir: String,
                  targetPartitions: Int = 0,
                  retainVersions: Int = 1): Boolean = {
    val fs = hadoopFs(spark, dir)
    val (live, scheme) = replay(fs, dir)
    if (live.isEmpty) false
    else {
      val partCols = live.flatMap(_.part).headOption.toSeq
        .flatMap(_.split('/').toSeq.map(_.split('=')(0)))
      val df0 = read(spark, dir).get
      val df =
        if (targetPartitions > 0 && partCols.nonEmpty)
          df0.repartition(targetPartitions,
            partCols.map(org.apache.spark.sql.functions.col): _*)
        else if (targetPartitions > 0) df0.repartition(targetPartitions)
        else df0
      replace(spark, dir, df, partCols, scheme, dataChange = false)
      vacuum(spark, dir, retainVersions)
      true
    }
  }

  /** Restore the table to the live state of `version` — the Delta RESTORE
    * command, metadata-only: the restored version's file entries are
    * re-committed as a new `replace`, so NOT ONE data byte is copied and
    * the restore itself stays time-travelable (restoring a restore works,
    * and the mistake that prompted it remains inspectable above the
    * floor). `version` must be at or above the vacuum retention floor —
    * below it the files may be reclaimed, and [[read]]'s own asOf fence
    * rejects it loudly before any commit. The new commit is OCC-pinned to
    * the head read at entry: a concurrent writer fails the restore rather
    * than being silently rolled back. */
  def restore(spark: SparkSession, dir: String, version: Long,
              expectedHead: Option[Long] = None): Unit = {
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    for (floor <- readFloor(fs, dir))
      require(version >= floor,
        s"restore to $version predates the vacuum retention floor $floor " +
          s"for $dir — those files may already be reclaimed")
    require(listCommits(fs, dir).exists(_._1 == version) ||
      listCheckpoints(fs, dir).exists(_._1 == version),
      s"restore target $version is not a committed version of $dir")
    val (entries, scheme) = replay(fs, dir, Some(version))
    commit(fs, dir, Commit("replace",
      entries.flatMap(_.part).headOption
        .map(_.split('/').map(_.takeWhile(_ != '=')).mkString(",")),
      scheme, Nil, entries), head)
  }

  /** What [[compactSmallFiles]] did: small files packed away, files
    * written in their place, and live files left untouched. */
  final case class CompactStats(filesPacked: Int, filesWritten: Int,
                                filesUntouched: Int)

  /** Small-file compaction (the Delta OPTIMIZE bin-packing shape, and the
    * incremental complement to [[compactData]]'s whole-table rewrite):
    * pack live files SMALLER than `smallBytes` into ~`targetBytes` files,
    * per partition fragment, in one atomic `rewrite` commit — files at or
    * above the threshold are never read, rewritten, or moved. This is THE
    * maintenance op for streaming-ingested tables: a micro-batch sink
    * lands one small file per trigger, and after a day a scan plans
    * thousands of tiny splits; packing is O(small bytes), so running it
    * every N batches keeps read amplification flat while the big
    * compacted files from previous runs are skipped as already-done.
    * File sizes come from the driver's file-status metadata — O(live
    * files) namenode calls, no data read for the decision. A fragment
    * with fewer than two small files is left alone (nothing to gain).
    * Readers pinned below the commit keep working until [[vacuum]], same
    * as every rewrite.
    *
    * `sortCols` clusters rows INSIDE each packed file (the sort is
    * partition-local, no extra shuffle): micro-batch rows arrive in
    * arrival order, so an unsorted packed file's parquet row groups all
    * span the whole key range and row-group skipping reads everything;
    * sorted, a point query touches one row group. (File-LEVEL envelopes
    * still reflect which source files shared a bin — re-cluster across
    * files with [[graft.ops.Layout.writeZOrdered]]-style rewrites when
    * file pruning is the goal.) */
  def compactSmallFiles(spark: SparkSession, dir: String,
                        targetBytes: Long = 128L << 20,
                        smallBytes: Long = 64L << 20,
                        sortCols: Seq[String] = Nil,
                        expectedHead: Option[Long] = None): CompactStats = {
    require(targetBytes > 0 && smallBytes > 0,
      s"targetBytes/smallBytes must be positive: $targetBytes/$smallBytes")
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    val (live, _) = replay(fs, dir)
    if (live.isEmpty) return CompactStats(0, 0, 0)
    requireNoReservedCols(framesFor(spark, dir, live).columns, dir)
    val sized = live.map(e =>
      e -> fs.getFileStatus(new Path(dir, e.path)).getLen)
    // pack only fragments holding >= 2 small files — a lone small file
    // rewrites into itself, pure churn
    val packable = sized.filter(_._2 < smallBytes)
      .groupBy(_._1.part).filter(_._2.size >= 2)
    if (packable.isEmpty)
      return CompactStats(0, 0, live.size)
    val touched = packable.values.flatten.map(_._1).toSeq.sortBy(_.path)
    val layouts = touched.map(_.part
      .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil))
      .distinct
    require(layouts.size == 1,
      s"compactSmallFiles spans mixed partition layouts ${layouts.mkString("; ")}")
    val partCols = layouts.head
    // first-fit-decreasing bin packing per fragment, driver-side over the
    // (file, size) metadata: each bin targets `targetBytes`. Rows are then
    // routed to their file's bin and repartitioned on the bin id, so each
    // bin lands whole in one writer task — the staged file count is
    // bounded by the bin count without any global sort. (A hash collision
    // merges two bins into one task: same-fragment bins write one larger
    // file, different fragments still split via partitionBy — either way
    // never MORE files than bins.)
    var nextBin = 0
    val binOf: Map[String, Int] = packable.values.flatMap { es =>
      val open = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      es.sortBy(-_._2).map { case (e, len) =>
        val i = open.indexWhere(_._1 >= len)
        val id =
          if (i >= 0) { open(i) = (open(i)._1 - len, open(i)._2); open(i)._2 }
          else { val b = nextBin; nextBin += 1
                 open += ((targetBytes - len, b)); b }
        fs.makeQualified(new Path(dir, e.path)).toString -> id
      }
    }.toMap
    val binDf = spark.createDataFrame(binOf.toSeq).toDF("__graft_file", "__bin")
    import org.apache.spark.sql.functions.broadcast
    val shaped = framesFor(spark, dir, touched, Some("__graft_file"))
      .join(broadcast(binDf), "__graft_file")
      .repartition(math.max(1, nextBin), col("__bin"))
      .drop("__graft_file", "__bin")
    // partCols prefix the sort so the partitioned writer's own required
    // ordering is already satisfied and the clustering survives the write.
    // `shaped` carries PHYSICAL names (raw frames, no logical
    // presentation), so logical sortCols translate first.
    val df =
      if (sortCols.isEmpty) shaped
      else shaped.sortWithinPartitions(
        ((partCols ++ sortCols.map(physicalNameOf(fs, dir, None, _)))
          .distinct).map(col): _*)
    val files = stage(spark, dir, df, partCols)
    commit(fs, dir, Commit("rewrite", partColField(partCols), None,
      touched.map(_.path), files, Nil, dataChange = false), head)
    CompactStats(touched.size, files.size, live.size - touched.size)
  }

  /** Rewrite an explicit SET of live files (by relative path) through a
    * row-preserving transform, in one `rewrite` commit that can carry
    * property updates ATOMICALLY with the swap — the primitive behind
    * incremental clustering ([[graft.ops.Layout.zorderIncrementalTx]]
    * stamps its progress marker in the same commit, so a crash can never
    * record clustering that didn't land or vice versa). DV-aware and
    * logical-schema like every read; `dataChange = false` (same live
    * rows), so the change feed stays silent. Returns
    * (files rewritten, files written). */
  private[graft] def rewriteSet(spark: SparkSession, dir: String,
                                targets: Set[String],
                                transform: DataFrame => DataFrame,
                                props: Map[String, String] = Map.empty,
                                expectedHead: Option[Long] = None): (Int, Int) = {
    require(targets.nonEmpty, "rewriteSet needs >= 1 target file")
    val fs = hadoopFs(spark, dir)
    val head = expectedHead.orElse(headVersion(spark, dir))
    val (live, _) = replay(fs, dir)
    val byRel = live.map(e => e.path -> e).toMap
    val missing = targets.filterNot(byRel.contains)
    require(missing.isEmpty,
      s"rewriteSet targets non-live file(s) ${missing.toSeq.sorted.mkString(", ")}")
    val touched = targets.toSeq.sorted.map(byRel)
    val layouts = touched.map(_.part
      .map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil))
      .distinct
    require(layouts.size == 1,
      s"rewriteSet spans mixed partition layouts ${layouts.mkString("; ")}")
    val next = transform(present(spark,
      framesFor(spark, dir, touched), fs, dir, None))
    val files = stage(spark, dir, next, layouts.head)
    commit(fs, dir, Commit("rewrite", partColField(layouts.head), None,
      touched.map(_.path), files, Nil, props.toSeq.sortBy(_._1),
      dataChange = false), head)
    (touched.size, files.size)
  }

  /** Relative paths of the live files as of `asOf` — [[rewriteSet]]'s
    * addressing scheme (and the identity incremental clustering diffs). */
  private[graft] def liveRelPaths(spark: SparkSession, dir: String,
                                  asOf: Option[Long] = None): Seq[String] =
    replay(hadoopFs(spark, dir), dir, asOf)._1.map(_.path)

  /** Bound replay cost for long-lived tables WITHOUT destroying the
    * history retention and time travel are computed from: write a
    * checkpoint of the live set at the retention cut (head −
    * `retainVersions`), then prune the commit files below it (plus older
    * checkpoints). The cut's commit file is kept, so version numbering,
    * OCC slot claims, and [[versions]] stay monotonic; replay seeds from
    * the checkpoint, so versions [cut, head] remain exactly readable.
    * Versions pruned away are fenced by the same floor [[vacuum]] uses —
    * [[read]] rejects them loudly. Data files are never touched.
    * `retainVersions = 0` keeps only the head readable (the aggressive
    * squash). */
  def compactLog(spark: SparkSession, dir: String,
                 retainVersions: Int = 0): Unit = {
    require(retainVersions >= 0,
      s"retainVersions must be >= 0, got $retainVersions")
    val fs = hadoopFs(spark, dir)
    val commits = listCommits(fs, dir)
    if (commits.isEmpty) return
    val cut = commits.last._1 - retainVersions
    if (cut < commits.head._1) return // whole history is inside the tail
    val ld = logDir(dir)
    val ckptSlot = new Path(ld, f"$cut%020d.ckpt")
    if (!fs.exists(ckptSlot)) {
      // live set AS OF the cut — the seed that replaces every commit below
      val (live, scheme) = replay(fs, dir, asOf = Some(cut))
      val partCol = live.flatMap(_.part).headOption
        .map(_.split('/').map(_.split('=')(0)).mkString(","))
      val tmp = new Path(ld, s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      // the checkpoint carries the ACCUMULATED txn and property maps at
      // the cut — the pruned commits below it may hold the only copies
      val txns = txnState(fs, dir, asOf = Some(cut)).toSeq.sortBy(_._1)
      val props = propsState(fs, dir, asOf = Some(cut)).toSeq.sortBy(_._1)
      try out.write(render(
        Commit("replace", partCol, scheme, Nil, live, txns, props))
        .getBytes(UTF_8))
      finally out.close()
      // a lost race is fine: a ckpt at cut is a pure function of the log
      if (!claimSlot(fs, tmp, ckptSlot)) fs.delete(tmp, true)
    }
    val pruned = commits.filter(_._1 < cut)
    if (pruned.nonEmpty) {
      // fence BEFORE pruning (same crash-window reasoning as vacuum): a
      // crash between a delete and a late floor write would let read(asOf)
      // below the cut silently replay to an empty/None result
      val prior = readFloor(fs, dir).getOrElse(Long.MinValue)
      if (cut > prior) writeFloor(fs, dir, cut)
      pruned.foreach { case (_, p) => fs.delete(p, false) }
    }
    listCheckpoints(fs, dir).filter(_._1 < cut)
      .foreach { case (_, p) => fs.delete(p, false) }
  }
}
