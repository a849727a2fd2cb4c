package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The four merge/load modes of the reference (SURVEY §2.10 M1-M4), as
  * join-based plans over a parquet-directory target.
  *
  * The reference implements these as `INSERT … ON CONFLICT` statements on
  * PostgreSQL (load.py:10-187). Spark has no native parquet upsert, so:
  *  - M3/M4 (insert-if-absent / dedup append) are an anti-join against the
  *    sink keys followed by an APPEND — only new files are written, nothing
  *    is rewritten; at 100 TB this is the cheap idempotent path.
  *  - M1/M2 (partial upsert / SCD2 close-out) rewrite the whole target via
  *    a full-outer merge join and an atomic directory swap: O(|target|) per
  *    batch, like a Delta MERGE without file pruning. The join itself is
  *    key-partitioned and never collects to the driver.
  *
  * All four modes are idempotent: re-applying a batch (the 90 s overlap
  * re-extraction, SURVEY §2.11 T3) converges to the same state —
  * at-least-once extract + idempotent sink ⇒ effectively-once.
  */
object MergeSink {

  /** Read current sink contents, or None before first write. A directory
    * holding only a _SUCCESS marker (a bootstrapped PARTITIONED table has no
    * data files until the first append) also counts as absent. Runs crash
    * [[recover]]y first, so a reader never observes a half-committed swap.
    *
    * Throws on a directory that holds a [[TxTable]] log: every rename-mode
    * sink reads through here, and treating such a table as absent (or as
    * its raw files) would swap the whole table out for one batch, or add
    * files the log never references. Use [[readAny]] to read either. */
  def readTarget(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseTxTable(spark, dir)
    recover(spark, dir)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      try Some(spark.read.parquet(dir))
      catch {
        // empty partitioned dir: no footers to infer from
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => None
      }
    else None
  }

  private def refuseTxTable(spark: SparkSession, dir: String): Unit =
    if (TxTable.exists(spark, dir))
      throw new IllegalStateException(s"$dir holds a TxTable commit log: " +
        "read it with readAny; rename-swap sinks cannot write it")

  /** Read a sink regardless of its commit protocol: a directory carrying a
    * TxTable log reads through the log's live set; anything else through
    * [[readTarget]]'s rename-swap recovery. Lets health checks and demos
    * work unchanged when a deployment flips to transactional sinks. */
  def readAny(spark: SparkSession, dir: String): Option[DataFrame] =
    if (TxTable.exists(spark, dir)) TxTable.read(spark, dir)
    else readTarget(spark, dir)

  /** Latest row per key within a batch (ties broken by orderCols desc).
    * The reference gets within-batch uniqueness from source PKs; we make it
    * explicit so overlap re-extraction can never double-apply. */
  def latestPerKey(batch: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame =
    if (orderCols.isEmpty) batch.dropDuplicates(keys)
    else {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(orderCols.map(c => col(c).desc_nulls_last): _*)
      batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** M1 — upsert with partial update (load.py:10-47, 86-114): insert new
    * rows; on key match overwrite ONLY `mutableCols` (with the batch value,
    * nulls included, like `SET c = EXCLUDED.c`); all other columns keep
    * their first-seen values. */
  def upsertPartial(spark: SparkSession, dir: String, batch: DataFrame,
                    keys: Seq[String], mutableCols: Seq[String],
                    orderCols: Seq[String] = Nil): Unit =
    mergeInto(spark, dir, batch, keys, mutableCols, orderCols = orderCols)

  // ---------------------------------------------------------------------
  // Partition-scoped merge
  //
  // Keys the physical layout so a batch reads and swaps only the partitions
  // its keys live in. That saves work only when a batch's keys cluster; the
  // ETL cycle's batches hash into every key bucket, so the cycle merges
  // unpartitioned targets with [[mergeInto]]. Only `streaming.Streams`
  // binds the scoped merge.
  // ---------------------------------------------------------------------

  /** Physical layout for scoped merges: `expr` derives the partition value
    * from a row. The same key must always land in the same partition
    * (hash-of-key or an immutable date column), so the batch's partition set
    * is computable from the batch alone. Size `buckets` so one partition
    * stays executor-memory-sized at the target scale: 16 suffices locally;
    * a 100 TB dim wants O(4k) buckets (~25 GB each).
    *
    * `descriptor` identifies the layout on disk (`_graft_scheme` marker):
    * a scoped merge against a table laid out under a DIFFERENT scheme
    * (e.g. after a bucket-count resize) would prune to the wrong
    * partitions and duplicate keys silently — instead the mismatch
    * triggers one full migration rewrite to the new layout. */
  final case class PartitionScheme(colName: String, expr: Column, descriptor: String)
  object PartitionScheme {
    /** Stable hash buckets over the merge key — dims and keyed facts. */
    def keyHash(keys: Seq[String], buckets: Int): PartitionScheme =
      PartitionScheme("part_bucket",
        pmod(xxhash64(keys.map(col): _*), lit(buckets.toLong)).cast("int"),
        s"keyHash(${keys.mkString(",")}):$buckets")
    /** Immutable event-date partitions — append-mostly fact tables. */
    def byDate(tsCol: String): PartitionScheme =
      PartitionScheme("part_date", to_date(col(tsCol)), s"byDate($tsCol)")
  }

  private def schemeMarker(dir: String) = new Path(dir, "_graft_scheme")

  private def readSchemeMarker(spark: SparkSession, dir: String): Option[String] = {
    val p = schemeMarker(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  private def writeSchemeMarker(spark: SparkSession, dir: String,
                                descriptor: String): Unit = {
    val p = schemeMarker(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(descriptor.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** M1 with partition-scoped rewrite: only partitions holding batch keys are
    * read, merged, and swapped; untouched partition files are not rewritten
    * (byte-identical after the merge). A legacy/bootstrapped unpartitioned
    * target is migrated to the scoped layout by one full rewrite. */
  def upsertPartialScoped(spark: SparkSession, dir: String, batch: DataFrame,
                          keys: Seq[String], mutableCols: Seq[String],
                          scheme: PartitionScheme,
                          orderCols: Seq[String] = Nil): Unit = {
    // pin the batch: the scoped path consumes it twice (partition-set
    // collect + merge write) and upstream is a full extract plan
    val b = latestPerKey(batch, keys, orderCols).localCheckpoint()
    def migrate(existing: DataFrame): Unit =
      writeReplace(spark, dir,
        mergePlan(existing.drop(scheme.colName), b, keys, mutableCols).rows
          .withColumn(scheme.colName, scheme.expr), Seq(scheme.colName))
    readTarget(spark, dir) match {
      case None =>
        writeReplace(spark, dir, b.withColumn(scheme.colName, scheme.expr),
          Seq(scheme.colName))
        writeSchemeMarker(spark, dir, scheme.descriptor)
      case Some(existing) if !existing.columns.contains(scheme.colName) ||
          !readSchemeMarker(spark, dir).contains(scheme.descriptor) =>
        // legacy/unmarked layout, or the scheme changed (bucket resize):
        // pruning against the old layout would merge against the wrong
        // partitions and duplicate keys — one full rewrite migrates safely
        migrate(existing)
        writeSchemeMarker(spark, dir, scheme.descriptor)
      case Some(existing) =>
        // the batch's partition set — bounded by #buckets (or #dates in the
        // batch), so the collect is a few scalar rows, never data
        val touched = b.select(scheme.expr.as(scheme.colName)).distinct()
          .collect().map(_.get(0)).toSeq
        if (touched.nonEmpty) {
          // null-safe membership: a null partition value (e.g. byDate over a
          // null timestamp) must still select the existing null-partition
          // rows, or the swap would drop them
          val member = touched.map(v => col(scheme.colName) <=> lit(v)).reduce(_ || _)
          val scoped = existing.filter(member).drop(scheme.colName)
          val merged = mergePlan(scoped, b, keys, mutableCols).rows
            .withColumn(scheme.colName, scheme.expr)
          replacePartitions(spark, dir, merged, scheme.colName)
        }
    }
  }

  /** M2 — versioned upsert, SCD2-flavored (load.py:50-83, 139-166): rows are
    * immutable versions keyed by `key` (source_id); a re-delivered version
    * refreshes only the close-out/validation columns (`mutableCols`,
    * typically version_ended_at + is_current_version + validation fields).
    * Mechanically M1; the ≤1-current-per-entity invariant is the source's
    * end_at discipline, checkable via [[scd2Violations]]. */
  def scd2(spark: SparkSession, dir: String, batch: DataFrame,
           key: String, mutableCols: Seq[String],
           orderCols: Seq[String] = Nil): Unit =
    upsertPartial(spark, dir, batch, Seq(key), mutableCols, orderCols)

  /** Entities with more than one current version (SCD2 invariant breach). */
  def scd2Violations(target: DataFrame, entityKeys: Seq[String],
                     isCurrentCol: String): DataFrame =
    target.filter(col(isCurrentCol))
      .groupBy(entityKeys.map(col): _*)
      .agg(count(lit(1)).as("n_current"))
      .filter(col("n_current") > 1)

  /** M3 — insert-if-absent (load.py:117-136, `ON CONFLICT DO NOTHING`):
    * append only rows whose key is not already in the sink. Pure append —
    * no rewrite, safe under overlap replay. */
  def insertIfAbsent(spark: SparkSession, dir: String, batch: DataFrame,
                     keys: Seq[String], partitionCols: Seq[String] = Nil): Unit = {
    def write(df: DataFrame): Unit = {
      val w = df.write.mode("append")
      // date-partitioned layout (the reference's index access paths become
      // partition pruning, SURVEY §4): new files land only in the partitions
      // the batch touches
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(dir)
    }
    val b = batch.dropDuplicates(keys)
    readTarget(spark, dir) match {
      case None => write(b)
      case Some(existing) =>
        write(b.join(existing.select(keys.map(col): _*).dropDuplicates(keys),
            keys, "left_anti")
          .select(existing.columns.map(col).toSeq: _*)) // stable column order
    }
  }

  /** M4 — event-log append with unique-key dedup (load.py:169-187): same as
    * M3 on a synthesized source_key. */
  def appendDedup(spark: SparkSession, dir: String, batch: DataFrame,
                  key: String, partitionCols: Seq[String] = Nil): Unit =
    insertIfAbsent(spark, dir, batch, Seq(key), partitionCols)

  /** General tri-clause MERGE — the full `MERGE INTO` statement shape
    * (matched → update or conditional delete; not-matched → insert;
    * not-matched-by-source → conditional delete), which the M1-M4 modes
    * specialize. The reference's loaders only ever upsert
    * (load.py:18-187 `ON CONFLICT DO UPDATE/NOTHING`); the delete clauses
    * are what CDC ingestion and GDPR-style retirement flows need and what
    * a plain upsert cannot express.
    *
    * Conditions are evaluated over the joined row with the target aliased
    * `t` and the source aliased `s` — e.g.
    * `col("s.op") === "D"` for a CDC tombstone, or
    * `col("t.status") === "stale"` to retire target rows absent from the
    * source. Clause order on a match follows SQL MERGE: the delete
    * condition is tested first; surviving matches take source values for
    * `updateCols` and keep target values elsewhere. `source` must carry
    * every target column (same contract as the other merge modes).
    *
    * `insertCond` guards the not-matched insert (s columns only) — the
    * `WHEN NOT MATCHED AND <cond> THEN INSERT` form. A CDC feed MUST pass
    * one excluding its tombstones (`col("s.op") =!= "D"`): a replayed
    * delete for an already-deleted key arrives source-only, and an
    * unconditional insert would resurrect it. Null conditions follow SQL
    * WHEN semantics: not-true means the clause does not fire.
    *
    * One full-outer hash join on `keys` + one filter — single shuffle,
    * no driver loop. The target is rewritten unpartitioned; one that
    * [[upsertPartialScoped]] laid out (`_graft_scheme` marker) loses its
    * layout column in that rewrite. */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                keys: Seq[String], updateCols: Seq[String],
                matchedDeleteCond: Option[Column] = None,
                insertNotMatched: Boolean = true,
                insertCond: Option[Column] = None,
                notMatchedBySourceDeleteCond: Option[Column] = None,
                orderCols: Seq[String] = Nil,
                updateSources: Map[String, String] = Map.empty): Unit = {
    val src = latestPerKey(source, keys, orderCols)
    readTarget(spark, dir) match {
      case None =>
        // no target: every source row is not-matched; apply the insert
        // clause (with its guard — tombstones in a first batch must not
        // seed the table)
        if (insertNotMatched)
          writeReplace(spark, dir, filterInsertable(src, insertCond))
      case Some(existing) =>
        // a bucketed target (upsertPartialScoped's marker) drops its
        // PartitionScheme column and is rewritten unpartitioned
        val cur = if (readSchemeMarker(spark, dir).isEmpty) existing
          else existing.drop("part_bucket", "part_date")
        writeReplace(spark, dir,
          mergePlan(cur, src, keys, updateCols, matchedDeleteCond,
            insertNotMatched, insertCond, notMatchedBySourceDeleteCond,
            updateSources).rows)
    }
  }

  /** [[mergeInto]] over the commit log: same plan, atomic `replace` commit.
    * The head version captured before the read rides along as the commit's
    * `expectedHead`, so an interleaved writer turns into a loud commit
    * failure instead of a silently dropped write. */
  def mergeIntoTx(spark: SparkSession, dir: String, source: DataFrame,
                  keys: Seq[String], updateCols: Seq[String],
                  matchedDeleteCond: Option[Column] = None,
                  insertNotMatched: Boolean = true,
                  insertCond: Option[Column] = None,
                  notMatchedBySourceDeleteCond: Option[Column] = None,
                  orderCols: Seq[String] = Nil,
                  txn: Option[(String, Long)] = None,
                  updateSources: Map[String, String] = Map.empty): Unit = {
    val src = latestPerKey(source, keys, orderCols)
    val v0 = TxTable.headVersion(spark, dir)
    TxTable.read(spark, dir) match {
      case None =>
        if (insertNotMatched)
          TxTable.replace(spark, dir, filterInsertable(src, insertCond),
            expectedHead = v0, txn = txn)
      case Some(existing) =>
        TxTable.replace(spark, dir,
          mergePlan(existing, src, keys, updateCols, matchedDeleteCond,
            insertNotMatched, insertCond, notMatchedBySourceDeleteCond,
            updateSources).rows,
          expectedHead = v0, txn = txn)
    }
  }

  /** [[mergeIntoTx]]'s merge-on-read twin: the SAME tri-clause algebra,
    * but instead of rewriting the whole table, ONE join pass computes the
    * change set — retired row positions (matched deletes, matched updates'
    * old images, not-matched-by-source deletes) and appended copies
    * (updated images, guarded inserts) — and
    * [[TxTable.applyRowChanges]] commits both halves atomically as a
    * deletion-vector commit. Untouched rows are never read twice,
    * rewritten, or moved: a 1k-row CDC batch into a 100 TB table writes
    * O(1k rows), where the replace-based merge rewrites the table. The
    * join output is parked in an uncommitted temp dir (O(changed rows)),
    * so the target is scanned exactly once. Read-side trade and
    * maintenance are [[TxTable.deleteWhereDV]]'s: anti-join on the
    * touched files until `purgeDvs`.
    *
    * The change set is read off [[mergePlan]]'s join: a target row the
    * clauses drop retires ('del'), a kept match with update columns
    * retires and re-appends ('upd'), a kept source-only row appends
    * ('ins'); appended images take the plan's column values, so clause
    * semantics are the replace-based merge's row for row — MergeSinkSpec
    * and DeleteVectorSpec assert the equivalence on the same inputs. */
  def mergeIntoDV(spark: SparkSession, dir: String, source: DataFrame,
                  keys: Seq[String], updateCols: Seq[String],
                  matchedDeleteCond: Option[Column] = None,
                  insertNotMatched: Boolean = true,
                  insertCond: Option[Column] = None,
                  notMatchedBySourceDeleteCond: Option[Column] = None,
                  orderCols: Seq[String] = Nil,
                  txn: Option[(String, Long)] = None,
                  updateSources: Map[String, String] = Map.empty): Unit = {
    val src = latestPerKey(source, keys, orderCols)
    val head = TxTable.headVersion(spark, dir)
    TxTable.readTagged(spark, dir, FileTag, PosTag) match {
      case None =>
        // no target rows: every source row is not-matched (first batch)
        if (insertNotMatched)
          TxTable.replace(spark, dir, filterInsertable(src, insertCond),
            expectedHead = head, txn = txn)
      case Some(existing) =>
        val plan = mergePlan(existing, src, keys, updateCols, matchedDeleteCond,
          insertNotMatched, insertCond, notMatchedBySourceDeleteCond,
          updateSources)
        // classify every CHANGED row of the join; unchanged rows never
        // leave it
        val action =
          when(plan.inTarget && !plan.keep, "del")
            .when(plan.matched && lit(updateCols.nonEmpty), "upd")
            .when(!plan.inTarget && plan.keep, "ins")
        val changed = plan.joined
          .withColumn("__graft_action", action)
          .filter(col("__graft_action").isNotNull)
          .select(col("__graft_action") +:
            col(s"t.$FileTag").as(FileTag) +:
            col(s"t.$PosTag").as(PosTag) +: plan.values: _*)
        // park the O(changed) set so the target scans once; crash debris
        // is an orphan dir vacuum reclaims by age
        val fs = new Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmp = new Path(new Path(dir, "data"),
          s"tmp-mrg-${java.util.UUID.randomUUID()}")
        changed.write.parquet(tmp.toString)
        val any = {
          val it = fs.listFiles(fs.makeQualified(tmp), true)
          var a = false
          while (it.hasNext && !a) a = it.next().getPath.getName.endsWith(".parquet")
          a
        }
        if (any) {
          val ch = spark.read.parquet(tmp.toString)
          TxTable.applyRowChanges(spark, dir,
            ch.filter(col("__graft_action") =!= "ins")
              .select(col(FileTag).as("file"), col(PosTag).as("pos")),
            appends = Some(ch.filter(col("__graft_action") =!= "del")
              .select(plan.cols.map(col): _*)),
            expectedHead = head, txn = txn)
        }
        fs.delete(tmp, true)
    }
  }

  /** First-batch form of the guarded insert clause: `insertCond` evaluated
    * with only the source side in scope. */
  private def filterInsertable(src: DataFrame,
                               insertCond: Option[Column]): DataFrame =
    insertCond match {
      case None    => src
      case Some(c) => src.alias("s").filter(coalesce(c, lit(false)))
    }

  /** Row-position tags [[mergeIntoDV]] reads the target with; they ride
    * through [[mergePlan]]'s join but are not table columns. */
  private val FileTag = "__graft_file"
  private val PosTag = "__graft_pos"

  /** A planned MERGE: `joined` is the full-outer join of the target
    * (aliased `t`) and the source (aliased `s`); `inTarget` and `matched`
    * say which sides a joined row has; `keep` whether the clauses keep it;
    * `values` are the output columns `cols` (the target's). */
  private final case class MergePlan(joined: DataFrame, cols: Seq[String],
                                     inTarget: Column, matched: Column,
                                     keep: Column, values: Seq[Column]) {
    /** The merged table: every kept row, in the target's columns. */
    def rows: DataFrame = joined.filter(keep).select(values: _*)
  }

  /** The one MERGE plan behind every merge mode ([[mergeInto]] and its
    * log and deletion-vector forms; M1/M2 are its default clauses): one
    * full-outer join on `keys`, per-row clause dispatch on which side(s)
    * matched. Key columns coalesce; `updateCols` take the source value
    * whenever the source has the key (nulls included, `SET c =
    * EXCLUDED.c`); every other column keeps the target value, else the
    * source's. With default clauses `keep` folds to true, so the optimized
    * plan is the join and one projection.
    *
    * `updateSources` lets the UPDATE and INSERT clauses disagree on a
    * column: the source row carries the INSERT value under the column's
    * own name (used for source-only rows) and the UPDATE value under a
    * SIDE-CHANNEL column named `updateSources(col)` (used for matched
    * rows) — standard MERGE lets the two clauses set different values,
    * and a single in-row value cannot express that. Columns absent from
    * the map read their one in-row value on both paths. */
  private def mergePlan(existing: DataFrame, src: DataFrame,
                        keys: Seq[String], updateCols: Seq[String],
                        matchedDeleteCond: Option[Column] = None,
                        insertNotMatched: Boolean = true,
                        insertCond: Option[Column] = None,
                        notMatchedBySourceDeleteCond: Option[Column] = None,
                        updateSources: Map[String, String] = Map.empty)
      : MergePlan = {
    val cols = existing.columns.toSeq.filterNot(c => c == FileTag || c == PosTag)
    val t = existing.withColumn("__t", lit(true)).alias("t")
    val s = src.withColumn("__s", lit(true)).alias("s")
    val joined = t.join(s,
      keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _),
      "full_outer")
    val inTarget = col("t.__t").isNotNull
    val inSource = col("s.__s").isNotNull
    val matched = inTarget && inSource
    // null condition results (SQL three-valued logic) mean "don't fire"
    def fires(c: Option[Column]) =
      coalesce(c.getOrElse(lit(false)), lit(false))
    val insertOk =
      lit(insertNotMatched) && fires(Some(insertCond.getOrElse(lit(true))))
    val keep = !(matched && fires(matchedDeleteCond)) &&
      !(inTarget && !inSource && fires(notMatchedBySourceDeleteCond)) &&
      (inTarget || insertOk) // source-only: the guarded insert clause
    val values = cols.map { c =>
      val out =
        if (keys.contains(c)) coalesce(col(s"t.$c"), col(s"s.$c"))
        else if (updateCols.contains(c)) {
          val v = when(inSource, col(s"s.$c")).otherwise(col(s"t.$c"))
          updateSources.get(c).fold(v)(u => when(matched, col(s"s.$u")).otherwise(v))
        } else when(inTarget, col(s"t.$c")).otherwise(col(s"s.$c"))
      out.as(c)
    }
    MergePlan(joined, cols, inTarget, matched, keep, values)
  }

  /** Materialize `df` into `dir` via tmp-dir + swap, so a reader never sees
    * a half-written table and the plan can read the old contents. Local-FS
    * commit protocol; a cluster deployment swaps this for Delta's log.
    *
    * Crash-atomic: the live dir is renamed ASIDE (`__bak`) before the tmp
    * dir is renamed in — there is no window where the table is simply gone.
    * A crash inside the swap leaves a `__bak`/`__tmp` pair that [[recover]]
    * rolls back on the next read or write.
    *
    * Throws, like [[readTarget]], on a directory that holds a [[TxTable]]
    * log: the swap would replace the log and its history with plain files. */
  def writeReplace(spark: SparkSession, dir: String, df: DataFrame,
                   partitionCols: Seq[String] = Nil): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseTxTable(spark, dir)
    recover(spark, dir)
    val tmp = new Path(dir + "__tmp")
    val bak = new Path(dir + "__bak")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    if (fs.exists(p) && !fs.rename(p, bak))
      throw new java.io.IOException(s"merge commit failed: rename $p -> $bak")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"merge commit failed: rename $tmp -> $p")
    fs.delete(bak, true)
  }

  /** Swap only the partition directories present in `df` into the live
    * table; every other partition's files are left physically untouched.
    * Per-partition protocol: live partition → `__pbak`, tmp partition →
    * live, then delete backups. A crash mid-swap strands partitions in
    * `__pbak`; [[recover]] restores any that went missing from the live
    * tree, and the interrupted batch re-merges idempotently on replay
    * (the watermark only advances after the sink call returns). */
  private def replacePartitions(spark: SparkSession, dir: String,
                                df: DataFrame, partCol: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "__tmp")
    val pbak = new Path(dir + "__pbak")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(pbak)) fs.delete(pbak, true)
    df.write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    fs.mkdirs(pbak)
    fs.listStatus(tmp).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      .foreach { st =>
        val name = st.getPath.getName
        val live = new Path(p, name)
        if (fs.exists(live) && !fs.rename(live, new Path(pbak, name)))
          throw new java.io.IOException(s"merge commit failed: rename $live aside")
        if (!fs.rename(st.getPath, live))
          throw new java.io.IOException(s"merge commit failed: rename $name -> $live")
      }
    fs.delete(pbak, true)
    fs.delete(tmp, true)
  }

  /** Roll the sink forward out of any crash window the swap protocols can
    * leave behind: a whole-table backup with the live dir missing is renamed
    * back; a leftover whole-table backup beside a live dir is dropped;
    * partitions stranded in `__pbak` but missing from the live tree are
    * restored; stale `__tmp` staging is deleted. Idempotent and cheap (a
    * few metadata ops) — called from every read and write entry point.
    *
    * SINGLE-WRITER CONTRACT: recovery mutates the staging/backup dirs, so
    * each sink directory must have one writing process at a time (the
    * incremental runner guarantees it — streams own disjoint targets).
    * A concurrent out-of-band reader during an in-flight swap could delete
    * the writer's staging; on a cluster this local-FS protocol is replaced
    * by a transactional table format anyway (see [[writeReplace]]). */
  def recover(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(dir + "__bak")
    val pbak = new Path(dir + "__pbak")
    val tmp = new Path(dir + "__tmp")
    if (fs.exists(bak)) {
      if (!fs.exists(p)) fs.rename(bak, p)   // crashed between the two renames
      else fs.delete(bak, true)              // crashed before backup cleanup
    }
    if (fs.exists(pbak)) {
      if (!fs.exists(p)) fs.mkdirs(p)
      fs.listStatus(pbak).foreach { st =>
        val live = new Path(p, st.getPath.getName)
        if (!fs.exists(live)) fs.rename(st.getPath, live)
      }
      fs.delete(pbak, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Number of parquet data files under the table (recursively). */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
  }

  // ---------------------------------------------------------------------
  // M1 over the TxTable commit log
  //
  // The same merge plan, a different commit protocol: instead of the
  // rename swap (multi-step, needs recover()), each batch publishes via ONE
  // log rename — no crash window a reader can observe, no recovery pass.
  // No pipeline or streaming sink binds this (TxTableSpec drives it); the
  // sinks move to the log once deletion vectors and upkeep bound its
  // storage (ROADMAP.md).
  // ---------------------------------------------------------------------

  /** M1 scoped + transactional — the 100 TB path with an O(1) commit:
    * read ONLY the partitions holding batch keys (pruned at the log level,
    * no footer of an untouched partition is opened), merge, and publish a
    * `replacePartitions` commit. Untouched partitions' files are never
    * rewritten, moved, or re-listed. Scheme changes migrate via one full
    * rewrite, as in [[upsertPartialScoped]]. */
  def upsertPartialScopedTx(spark: SparkSession, dir: String, batch: DataFrame,
                            keys: Seq[String], mutableCols: Seq[String],
                            scheme: PartitionScheme,
                            orderCols: Seq[String] = Nil): Unit = {
    val b = latestPerKey(batch, keys, orderCols).localCheckpoint()
    val v0 = TxTable.headVersion(spark, dir)
    def staged(df: DataFrame) = df.withColumn(scheme.colName, scheme.expr)
    if (v0.isEmpty)
      TxTable.replace(spark, dir, staged(b), Seq(scheme.colName),
        Some(scheme.descriptor), expectedHead = v0)
    else if (!TxTable.currentScheme(spark, dir).contains(scheme.descriptor)) {
      // layout mismatch (bucket resize / legacy): pruning would merge
      // against the wrong partitions — one full rewrite migrates safely.
      // A log can exist with an EMPTY live set (e.g. a replace that
      // committed zero rows): treat that as no existing rows, not a crash
      val merged = TxTable.read(spark, dir) match {
        case None           => b
        case Some(existing) =>
          mergePlan(existing.drop(scheme.colName), b, keys, mutableCols).rows
      }
      TxTable.replace(spark, dir, staged(merged),
        Seq(scheme.colName), Some(scheme.descriptor), expectedHead = v0)
    } else {
      // bounded collect: one scalar per touched partition, never data
      val touched = b.select(scheme.expr.as(scheme.colName)).distinct()
        .collect().map(r => TxTable.fragment(scheme.colName, r.get(0))).toSet
      if (touched.nonEmpty) {
        val merged = TxTable.read(spark, dir, Some(touched)) match {
          case None         => b // no live rows in the touched partitions
          case Some(scoped) =>
            mergePlan(scoped.drop(scheme.colName), b, keys, mutableCols).rows
        }
        TxTable.replacePartitions(spark, dir, staged(merged), scheme.colName,
          Some(scheme.descriptor), expectedHead = v0)
      }
    }
  }

  /** Small-file compaction: append-mode sinks (M3/M4) accrete one file set
    * per micro-batch — at a 30 s cadence that is ~2.9k file sets/day, which
    * degrades scan planning and row-group pruning long before storage cost
    * matters. When the file count passes `maxFiles`, rewrite the table into
    * `targetPartitions` files per partition (atomic swap). Run it from a
    * maintenance cycle, not the hot path. */
  def compactIfNeeded(spark: SparkSession, dir: String, maxFiles: Int,
                      targetPartitions: Int,
                      partitionCols: Seq[String] = Nil): Boolean = {
    if (dataFileCount(spark, dir) <= maxFiles) false
    else readTarget(spark, dir) match {
      case None => false
      case Some(df) =>
        val compacted =
          if (partitionCols.nonEmpty)
            df.repartition(targetPartitions, partitionCols.map(col): _*)
          else df.repartition(targetPartitions)
        // localCheckpoint: the rewrite reads the dir it will replace
        writeReplace(spark, dir, compacted.localCheckpoint(), partitionCols)
        true
    }
  }
}
