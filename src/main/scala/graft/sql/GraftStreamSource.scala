package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StructType

import graft.merge.TxTable

/** A TxTable commit log as a Structured Streaming SOURCE — the
  * subscription the reference approximates with a 30 s re-extraction poll
  * (`scheduler.py:45-69` re-reads source tables every cycle; here a
  * downstream job consumes exactly the commits it has not seen).
  *
  * Offsets ARE commit versions: micro-batch (start, end] replays
  * [[TxTable.readChanges]] over that version range, so each batch costs
  * O(files changed in range), never O(table) — the property that makes a
  * 100 TB table followable. The V1 `Source` shape (the one Delta ships)
  * keeps the read path a planned batch DataFrame — vectorized parquet,
  * pushdown, codegen, no row-at-a-time connector — while
  * [[SupportsTriggerAvailableNow]] is implemented natively so
  * `Trigger.AvailableNow` + `maxVersionsPerBatch` drains to the head
  * snapshot in bounded-size batches and stops (the generic V1 wrapper
  * would freeze the FIRST rate-limited offset as the target and stop one
  * batch in).
  *
  * Maintenance rewrites (compaction, z-order) commit with
  * `dataChange = false` and never appear in the feed AT ALL, in any mode —
  * same rows, nothing to report (the Delta `dataChange` contract); a
  * 100 TB table's compaction cycle costs its consumers zero rows.
  *
  * Modes (`option("mode", ...)`):
  *  - `appends` (default): rows ADDED to the table; a commit that removes
  *    files (delete/update/replace) fails the stream loudly by default —
  *    silently dropping changes would un-sync every consumer (the Delta
  *    source makes the same choice). `ignoreDeletes=true` skips
  *    DELETE-ONLY commits and still fails loudly on a commit that also
  *    re-added surviving rows (a row-level rewrite): re-emitting those
  *    rows as fresh inserts would silently duplicate them downstream.
  *    `skipChangeCommits=true` (implies ignoreDeletes) goes further and
  *    drops every file-removing version from the feed entirely — pure
  *    appends flow, updates/deletes are consciously unobserved (Delta's
  *    option of the same name);
  *  - `cdc`: the full change feed with `_change_type` /
  *    `_commit_version` columns — the input for streaming replication
  *    ([[graft.merge.Replicator.stream]]).
  *
  * `startingVersion` (default 0) = the snapshot boundary: 0 streams the
  * whole table history from its first commit (seed + follow in one
  * query); the current head streams only future commits.
  * `startingTimestamp` (exclusive with it) resolves an instant — epoch
  * millis or `yyyy-MM-dd HH:mm:ss` text, the batch reader's
  * `timestampAsOf` grammar — to the newest commit at or before it, which
  * becomes that boundary.
  *
  * Rate limits — all optional, combinable (a batch stops at the first
  * limit hit, always advancing at least one version so drains terminate):
  *  - `maxVersionsPerBatch`: commits per micro-batch;
  *  - `maxFilesPerBatch` / `maxBytesPerBatch` (the Delta maxFilesPerTrigger
  *    / maxBytesPerTrigger shape): cap a batch by the DATA it admits —
  *    added files / their bytes — so one 4-billion-row backfill commit and
  *    four 4-row commits stop being "the same size". Soft caps: a single
  *    commit larger than the cap still flows alone rather than wedging.
  *
  * Restart contract: offsets come back from the checkpoint WAL; a start
  * version below the source's vacuum floor fails loudly
  * ([[TxTable.readChanges]]'s fence) — recovery is a fresh checkpoint (or
  * [[graft.merge.Replicator.resnapshot]] for replicas), never silent
  * data loss. */
final class GraftStreamSource(spark: SparkSession, dir: String,
                              cdc: Boolean, startingVersion: Long,
                              maxVersionsPerBatch: Option[Long],
                              ignoreDeletes: Boolean,
                              skipChangeCommits: Boolean = false,
                              maxFilesPerBatch: Option[Long] = None,
                              maxBytesPerBatch: Option[Long] = None)
    extends Source with SupportsTriggerAvailableNow {

  require(maxVersionsPerBatch.forall(_ > 0),
    "maxVersionsPerBatch must be positive")
  require(maxFilesPerBatch.forall(_ > 0) && maxBytesPerBatch.forall(_ > 0),
    "maxFilesPerBatch/maxBytesPerBatch must be positive")

  override val schema: StructType = GraftStreamSource.schemaFor(spark, dir, cdc)

  /** Head frozen by `Trigger.AvailableNow` at query start: the drain
    * target. None outside available-now runs (follow the live head). */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(
      TxTable.headVersion(spark, dir).getOrElse(startingVersion))

  private def ver(json: String): Long = json.trim.toLong

  /** Admission-control offset negotiation (the path the engine uses for
    * this source; the legacy `getOffset` below is kept only for API
    * completeness): advance from `start` by at most `maxVersionsPerBatch`
    * commits toward the (possibly frozen) head; null = caught up. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(start).map(o => ver(o.json)).getOrElse(startingVersion)
    val head0 = TxTable.headVersion(spark, dir).getOrElse(return null)
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    var next = maxVersionsPerBatch.fold(head)(m => math.min(head, from + m))
    if (maxFilesPerBatch.isDefined || maxBytesPerBatch.isDefined)
      next = capByData(from, next)
    if (next <= from) null else LongOffset(next)
  }

  /** Per-file lengths are immutable once committed — cache across batches. */
  private val sizeCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def sizeOf(relPath: String): Long = sizeCache.getOrElseUpdate(
    relPath,
    new org.apache.hadoop.fs.Path(dir, relPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new org.apache.hadoop.fs.Path(dir, relPath)).getLen)

  /** Largest end version in `(from, next]` whose cumulative ADDED
    * files/bytes stay under the caps. Versions adding nothing (props-only,
    * delete-only, maintenance) are free; the first data-bearing version is
    * always admitted even when it alone exceeds a cap, so a drain can
    * never wedge on one oversized commit. Log-replay cost only. */
  private def capByData(from: Long, next: Long): Long = {
    val added = TxTable.addedEntriesByVersion(spark, dir, from, Some(next))
    var files = 0L; var bytes = 0L
    for ((v, es) <- added) {
      files += es.size
      if (maxBytesPerBatch.isDefined) bytes += es.map(e => sizeOf(e.path)).sum
      val over = maxFilesPerBatch.exists(files > _) ||
        maxBytesPerBatch.exists(bytes > _)
      // stop BEFORE v unless v is the batch's first data-bearing version
      if (over && files > es.size) return v - 1
      if (over) return v
    }
    next
  }

  override def reportLatestOffset(): OffsetV2 =
    TxTable.headVersion(spark, dir).map(LongOffset(_)).orNull

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): OffsetV2 = LongOffset(startingVersion)

  override def deserializeOffset(json: String): OffsetV2 = LongOffset(ver(json))

  override def getOffset: Option[Offset] =
    TxTable.headVersion(spark, dir).filter(_ > startingVersion)
      .map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val after = start.map(o => ver(o.json)).getOrElse(startingVersion)
    val until = ver(end.json)
    val batch = TxTable.readChanges(spark, dir, after, Some(until)) match {
      case None => return GraftBridge.emptyStreaming(spark, schema)
      case Some(ch) if cdc => ch
      case Some(ch0) =>
        // versions that removed files, driver-side from the log (the
        // dataChange=false maintenance versions are already absent)
        lazy val removing = TxTable.changeShape(spark, dir, after, Some(until))
          .filter(_._3).map(_._1)
        val ch =
          if (!skipChangeCommits) ch0
          else if (removing.isEmpty) ch0
          else ch0.filter(!col("_commit_version").isin(removing: _*))
        if (!skipChangeCommits && !ignoreDeletes) {
          // `_change_type` is a per-slice literal, so this filter constant-
          // folds to an empty scan when no commit in range removed files —
          // the happy path costs nothing
          require(ch.filter(col("_change_type") === "delete").isEmpty,
            s"commits ($after, $until] of $dir removed or rewrote files; " +
              "an appends-mode stream cannot represent that — use " +
              "mode=cdc, ignoreDeletes=true to skip delete-only commits, " +
              "or skipChangeCommits=true to skip every changing commit")
        } else if (!skipChangeCommits && removing.nonEmpty) {
          // ignoreDeletes: skipping the delete half of a ROW-LEVEL REWRITE
          // would re-emit every surviving row of the touched files as a
          // fresh insert — silent duplication downstream. Only commits
          // that removed rows without re-adding any may be skipped.
          require(ch.filter(col("_change_type") === "insert" &&
              col("_commit_version").isin(removing: _*)).isEmpty,
            s"commits ${removing.mkString(",")} of $dir both removed and " +
              "re-added rows (row-level rewrite/upsert): ignoreDeletes " +
              "only skips delete-only commits — re-emitting the rewritten " +
              "files would duplicate their rows downstream; use mode=cdc " +
              "for net change semantics, or skipChangeCommits=true to " +
              "consciously drop changing commits")
        }
        ch.filter(col("_change_type") === "insert")
          .drop("_change_type", "_commit_version")
    }
    // Schema-change guard: the stream's schema froze at source
    // construction, but batches read through the table's PRESENT schema
    // (widening casts, renames, drops apply at the batch's own version).
    // Three cases per column:
    //  - batch NARROWER than the stream's type (a restart re-reading a
    //    pre-ALTER range under the already-widened stream schema): cast
    //    up — exact-value lattice moves only, always safe;
    //  - batch WIDER or renamed away (the table widened/renamed UNDER a
    //    running stream): unrepresentable in the frozen plan — fail
    //    loudly with the fix: restart the stream. Offsets are commit
    //    versions, so the checkpoint stays valid and the restarted
    //    stream resumes exactly here with the new schema;
    //  - additive new columns: projected away below, the stream keeps
    //    its contract.
    val got = batch.schema
    val out = schema.fields.map { want =>
      if (cdc &&
          (want.name == "_change_type" || want.name == "_commit_version"))
        col(want.name)
      else {
        val have = got.fields.find(_.name == want.name).getOrElse(
          throw new IllegalStateException(
            s"column '${want.name}' vanished from $dir mid-stream " +
              "(RENAME/DROP COLUMN?) — restart the stream to pick up the " +
              "new schema; offsets are commit versions, the checkpoint " +
              "stays valid"))
        if (have.dataType == want.dataType) col(want.name)
        else if (TxTable.widenOk(have.dataType, want.dataType))
          col(want.name).cast(want.dataType)
        else throw new IllegalStateException(
          s"the schema of $dir changed mid-stream: column '${want.name}' " +
            s"is now ${have.dataType}, the stream started with " +
            s"${want.dataType} (ALTER COLUMN TYPE?) — restart the stream " +
            "to pick up the new schema; offsets are commit versions, the " +
            "checkpoint stays valid")
      }
    }
    GraftBridge.asStreaming(
      batch.select(out.zip(schema.fieldNames).map { case (c, n) =>
        c.as(n) }.toSeq: _*))
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftStreamSource[$dir, mode=${if (cdc) "cdc" else "appends"}]"
}

object GraftStreamSource {

  /** Stream schema: the table's batch-read column order, plus the CDC
    * columns in cdc mode (matching [[TxTable.readChanges]]'s output). */
  def schemaFor(spark: SparkSession, dir: String, cdc: Boolean): StructType = {
    val base = TxTable.read(spark, dir).getOrElse(throw
      new IllegalArgumentException(
        s"cannot stream from $dir before its first commit — the stream " +
          "schema is carried by the table's data")).schema
    if (!cdc) base
    else StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  private[sql] def fromParameters(spark: SparkSession, dir: String,
                                  parameters: Map[String, String]): GraftStreamSource = {
    val cdc = parameters.get("mode") match {
      case None | Some("appends") => false
      case Some("cdc")            => true
      case Some(other) => throw new IllegalArgumentException(
        s"unknown graft stream mode '$other' (use 'appends' or 'cdc')")
    }
    // startingTimestamp: the stream-side twin of the batch reader's
    // timestampAsOf — resolved ONCE at source construction to the newest
    // commit at or before the instant, which becomes the snapshot
    // boundary (commits AFTER it stream)
    val byTs = parameters.get("startingTimestamp").map { raw =>
      val t = raw.trim
      val micros: Long =
        if (t.matches("-?\\d+")) t.toLong * 1000L // epoch millis
        else java.sql.Timestamp.valueOf(t).getTime * 1000L
      TxTable.versionAtTimestampMicros(spark, dir, micros).getOrElse(0L)
    }
    require(byTs.isEmpty || !parameters.contains("startingVersion"),
      "give startingVersion OR startingTimestamp, not both")
    val skipChanges =
      parameters.get("skipChangeCommits").exists(_.trim.toBoolean)
    new GraftStreamSource(spark, dir, cdc,
      startingVersion = byTs.orElse(parameters.get("startingVersion")
        .map(_.trim.toLong)).getOrElse(0L),
      maxVersionsPerBatch =
        parameters.get("maxVersionsPerBatch").map(_.trim.toLong),
      ignoreDeletes = skipChanges ||
        parameters.get("ignoreDeletes").exists(_.trim.toBoolean),
      skipChangeCommits = skipChanges,
      maxFilesPerBatch =
        parameters.get("maxFilesPerBatch").map(_.trim.toLong),
      maxBytesPerBatch =
        parameters.get("maxBytesPerBatch").map(_.trim.toLong))
  }
}
