package graft.merge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate view over a [[TxTable]] — the
  * materialized-view refresh loop the reference runs as a full nightly
  * re-aggregation in SQL (reference transform.py:12-304 recomputes every
  * derived table per cycle). At 100 TB a full recompute per cycle is the
  * difference between a view that refreshes in seconds and one that
  * re-shuffles the table: this refresh consumes the table's change feed
  * ([[TxTable.readChanges]]) and applies a SIGNED delta, so each cycle
  * costs O(changed rows + touched view buckets), never O(table).
  *
  * The maintained shape is the self-maintainable one (Palpanas et al.,
  * "Incremental Maintenance for Non-Distributive Aggregate Functions",
  * VLDB 2002 — distributive aggregates): per group,
  * `mv_count = COUNT(*)` and `<c>_sum = SUM(c)` for each requested column.
  * Inserts contribute +1/+v, deletes −1/−v; groups whose count reaches 0
  * disappear. AVG is `<c>_sum / mv_count` at read time.
  *
  * MIN/MAX (`minMaxCols` → `<c>_min` / `<c>_max`) are NOT self-maintainable
  * under deletes — a retired extremum's replacement lives only in the
  * source — so they follow the two-regime rule the VLDB 2002 line of work
  * prescribes: a group whose window holds ONLY inserts folds them in as
  * `least/greatest(current, incoming)` (pure feed, O(changed rows)); a
  * group any delete touched is RE-AGGREGATED from the source snapshot at
  * the target version, restricted to exactly those groups (one semi-join —
  * the scan prunes under a key-aligned layout; the aggregate is
  * O(matching rows)). Delete-free refresh cycles never touch the source.
  *
  * Exactly-once refresh: the view is itself a TxTable, hash-bucketed on
  * the group keys, and each refresh commit carries a txn mark
  * (appId = [[IncrementalView.MvApp]], epoch = the SOURCE version this
  * refresh applied up to). The mark rides in the same atomic commit as
  * the data, so a crashed refresh is either invisible (re-run re-applies
  * the same delta) or complete (re-run is a no-op) — never half-applied,
  * and never double-applied ([[TxTable.appendOnce]]'s argument).
  *
  * Float caveat, stated not hidden: for floating-point sum columns,
  * +v then −v can leave an ulp-scale residue vs a recompute. Exact for
  * integral and decimal columns; [[refresh]]'s `full = true` escape path
  * (and any [[TxTable.replace]]-triggered rebuild) squashes any drift. */
object IncrementalView {

  /** txn appId under which refreshes record the applied source version. */
  val MvApp = "graft-mv"

  /** What one [[refresh]] call did: the half-open source-version range
    * applied, the number of change rows consumed, view buckets rewritten,
    * and whether the escape hatch (full recompute) fired. */
  final case class Refresh(fromVersion: Long, toVersion: Long,
                           changedRows: Long, touchedBuckets: Int,
                           full: Boolean)

  private def sumName(c: String) = s"${c}_sum"
  private def minName(c: String) = s"${c}_min"
  private def maxName(c: String) = s"${c}_max"

  private def aggExprs(sumCols: Seq[String],
                       minMaxCols: Seq[String]): Seq[Column] =
    (count(lit(1)).as("mv_count") +:
      sumCols.map(c => sum(col(c)).as(sumName(c)))) ++
      minMaxCols.flatMap(c => Seq(min(col(c)).as(minName(c)),
        max(col(c)).as(maxName(c))))

  /** Bring the view at `viewDir` up to date with the source table at
    * `sourceDir`. Returns None when there is nothing to do (no source
    * commits yet, or the view is already at the source head). First call
    * materializes the view with one full aggregation; every later call is
    * incremental. `buckets` fixes the view's hash-bucket layout on first
    * materialization (sized to the expected GROUP cardinality — each
    * refresh rewrites only buckets holding changed groups). */
  def refresh(spark: SparkSession, sourceDir: String, viewDir: String,
              keys: Seq[String], sumCols: Seq[String],
              buckets: Int = 32,
              minMaxCols: Seq[String] = Nil): Option[Refresh] = {
    require(keys.nonEmpty, "IncrementalView.refresh needs >= 1 group key")
    val srcHead = TxTable.headVersion(spark, sourceDir).getOrElse {
      return None
    }
    val applied = TxTable.lastTxn(spark, viewDir, MvApp)
    if (applied.exists(_ >= srcHead)) return None
    val scheme = MergeSink.PartitionScheme.keyHash(keys, buckets)

    applied match {
      case None =>
        fullBuild(spark, sourceDir, viewDir, keys, sumCols, scheme,
          srcHead, applied.getOrElse(0L), buckets, minMaxCols)
      case Some(from) =>
        val changes = TxTable.readChanges(spark, sourceDir, from,
          Some(srcHead)).getOrElse {
          // versions advanced with no file-set delta (pure-txn commits):
          // nothing to apply; the next refresh re-derives the same answer
          return Some(Refresh(from, srcHead, 0L, 0, full = false))
        }
        val isIns = col("_change_type") === "insert"
        val sign = when(isIns, lit(1L)).otherwise(lit(-1L))
        val delta = changes
          .withColumn("__sign", sign)
          .groupBy(keys.map(col): _*)
          .agg(
            sum(col("__sign")).as("__d_count"),
            sumCols.map(c =>
              sum(col(c) * col("__sign")).as(s"__d_${sumName(c)}")) ++
            // insert-only extremum candidates + the delete marker that
            // sends a group down the re-aggregate path
            minMaxCols.flatMap(c => Seq(
              min(when(isIns, col(c))).as(s"__i_${minName(c)}"),
              max(when(isIns, col(c))).as(s"__i_${maxName(c)}"))) ++
            (if (minMaxCols.isEmpty) Nil
             else Seq(max(when(isIns, 0L).otherwise(1L)).as("__has_del"))): _*)
          .filter(col("__d_count") =!= 0L ||
            sumCols.map(c => col(s"__d_${sumName(c)}") =!= lit(0))
              .foldLeft(if (minMaxCols.isEmpty) lit(false) else lit(true))(_ || _))
          .withColumn(scheme.colName, scheme.expr)
          .localCheckpoint() // delta is O(changed groups); pin it — it is
                             // joined, bucket-listed, and counted below
        val changedRows = delta.count()
        if (changedRows == 0)
          return Some(Refresh(from, srcHead, 0L, 0, full = false))

        // buckets holding changed groups — the only view slices rewritten
        val touched = delta.select(scheme.colName).distinct()
          .collect().map(_.getInt(0)).sorted // bounded by `buckets`
        val frags = touched.map(b => s"${scheme.colName}=$b").toSet
        val current = TxTable.read(spark, viewDir, parts = Some(frags))
          .getOrElse( // no live view rows in the touched buckets: an
                      // all-new-groups delta merges against an empty slice
            delta.limit(0).select(
              keys.map(col) ++
                Seq(col("__d_count").as("mv_count")) ++
                sumCols.map(c =>
                  col(s"__d_${sumName(c)}").as(sumName(c))) ++
                minMaxCols.flatMap(c => Seq(
                  col(s"__i_${minName(c)}").as(minName(c)),
                  col(s"__i_${maxName(c)}").as(maxName(c)))): _*))
        val joined = current.as("v").join(delta.as("d"),
          keys.map(k => col(s"v.$k") <=> col(s"d.$k")).reduce(_ && _),
          "full_outer")
        val merged = joined.select(
          keys.map(k => coalesce(col(s"v.$k"), col(s"d.$k")).as(k)) ++
            Seq((coalesce(col("v.mv_count"), lit(0L)) +
              coalesce(col("d.__d_count"), lit(0L))).as("mv_count")) ++
            sumCols.map { c =>
              (coalesce(col(s"v.${sumName(c)}"), lit(0)) +
                coalesce(col(s"d.__d_${sumName(c)}"), lit(0))).as(sumName(c))
            } ++
            // insert-only groups fold extrema in-feed; least/greatest
            // ignore nulls, so an untouched-view or insert-free side
            // passes through. Groups a delete touched get re-aggregated
            // below — mark them.
            minMaxCols.flatMap { c => Seq(
              least(col(s"v.${minName(c)}"), col(s"d.__i_${minName(c)}"))
                .as(minName(c)),
              greatest(col(s"v.${maxName(c)}"), col(s"d.__i_${maxName(c)}"))
                .as(maxName(c)))
            } ++
            (if (minMaxCols.isEmpty) Nil
             else Seq(coalesce(col("d.__has_del"), lit(0L))
               .as("__needs_rescan"))): _*)
        val counts = merged.agg(
          sum(when(col("mv_count") < 0L, 1L).otherwise(0L)),
          sum(when(col("mv_count") > 0L, 1L).otherwise(0L))).head()
        require(counts.getLong(0) == 0L,
          s"IncrementalView $viewDir: negative group count after applying " +
            s"($from, $srcHead] — the change feed was not applied from the " +
            "view's own high-water mark, or the source saw non-feed writes")
        val survivingRaw = merged.filter(col("mv_count") > 0L)
        // delete-touched groups: their extrema may have retired — replace
        // the feed-folded min/max with a re-aggregate of the source
        // snapshot restricted to exactly those groups (one semi-join
        // against an O(changed groups) key list)
        val surviving0 =
          if (minMaxCols.isEmpty) survivingRaw
          else {
            val rescanKeys = survivingRaw
              .filter(col("__needs_rescan") === 1L).select(keys.map(col): _*)
              .localCheckpoint()
            if (rescanKeys.isEmpty) survivingRaw.drop("__needs_rescan")
            else {
              val snap = TxTable.read(spark, sourceDir, asOf = Some(srcHead))
                .getOrElse(throw new IllegalStateException(
                  s"IncrementalView $viewDir: surviving groups but empty " +
                    s"source snapshot at $srcHead"))
              val re = snap.join(rescanKeys, keys, "left_semi")
                .groupBy(keys.map(col): _*)
                .agg(
                  minMaxCols.flatMap(c => Seq(
                    min(col(c)).as(s"__r_${minName(c)}"),
                    max(col(c)).as(s"__r_${maxName(c)}"))).head,
                  minMaxCols.flatMap(c => Seq(
                    min(col(c)).as(s"__r_${minName(c)}"),
                    max(col(c)).as(s"__r_${maxName(c)}"))).tail: _*)
              survivingRaw.join(re, keys, "left_outer")
                .select(
                  (survivingRaw.columns.toSeq
                    .filterNot(_ == "__needs_rescan")
                    .filterNot(c => minMaxCols.exists(m =>
                      c == minName(m) || c == maxName(m))).map(col)) ++
                  minMaxCols.flatMap { c => Seq(
                    when(col("__needs_rescan") === 1L,
                      col(s"__r_${minName(c)}"))
                      .otherwise(col(minName(c))).as(minName(c)),
                    when(col("__needs_rescan") === 1L,
                      col(s"__r_${maxName(c)}"))
                      .otherwise(col(maxName(c))).as(maxName(c)))
                  }: _*)
            }
          }
        // keep the view's column order stable across refreshes
        val surviving = surviving0.select(
          (keys ++ Seq("mv_count") ++ sumCols.map(sumName) ++
            minMaxCols.flatMap(c => Seq(minName(c), maxName(c)))).map(col): _*)
          .withColumn(scheme.colName, scheme.expr)
        // replacePartitionsBy derives the swapped fragments from the STAGED
        // files: a touched bucket whose groups all died would not restage,
        // leaving its old rows live — squash via the full path instead
        // (rare: a bucket's every group deleted in one window).
        val survivingBuckets = surviving.select(scheme.colName).distinct().count()
        if (survivingBuckets < touched.length)
          fullBuild(spark, sourceDir, viewDir, keys, sumCols, scheme,
            srcHead, from, buckets, minMaxCols).map(_.copy(
            fromVersion = from, changedRows = changedRows,
            touchedBuckets = touched.length))
        else {
          TxTable.replacePartitionsBy(spark, viewDir, surviving,
            Seq(scheme.colName), Some(scheme.descriptor),
            txn = Some(MvApp -> srcHead))
          Some(Refresh(from, srcHead, changedRows, touched.length,
            full = false))
        }
    }
  }

  /** Full materialization, reading the source AS OF `srcHead` — the same
    * version the refresh commit stamps as its txn epoch. Reading head
    * instead would bake a source commit that lands between headVersion()
    * and the read into a view marked as-of the EARLIER version, and the
    * next refresh would re-apply that commit's delta on top — double
    * counting. Package-private so the race window is testable: callers
    * pass a deliberately stale head and assert the snapshot honors it. */
  private[graft] def fullBuild(spark: SparkSession, sourceDir: String,
      viewDir: String, keys: Seq[String], sumCols: Seq[String],
      scheme: MergeSink.PartitionScheme, srcHead: Long, from: Long,
      buckets: Int, minMaxCols: Seq[String] = Nil): Option[Refresh] = {
    val snap = TxTable.read(spark, sourceDir, asOf = Some(srcHead))
      .getOrElse {
        return None // source committed but live set empty: nothing to view
      }
    val exprs = aggExprs(sumCols, minMaxCols)
    val view = snap.groupBy(keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
      .withColumn(scheme.colName, scheme.expr)
    TxTable.replace(spark, viewDir, view, Seq(scheme.colName),
      Some(scheme.descriptor), txn = Some(MvApp -> srcHead))
    Some(Refresh(from, srcHead, -1L, buckets, full = true))
  }

  /** The source version the view at `viewDir` currently reflects. */
  def appliedVersion(spark: SparkSession, viewDir: String): Option[Long] =
    TxTable.lastTxn(spark, viewDir, MvApp)
}
