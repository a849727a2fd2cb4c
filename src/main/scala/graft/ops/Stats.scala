package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANALYZE-style table statistics — the numbers an optimizer (or a human
  * sizing a 100 TB job) reads before planning: per-column null fractions,
  * distinct counts, min/max, and an equi-width value histogram. The
  * reference has no stats surface (PostgreSQL ANALYZE plays this role for
  * it, `setup_target.py` relies on PG defaults); re-expressed here as
  * first-class DataFrame operators because a standalone engine must
  * answer "how skewed / how wide / how null is this column" itself —
  * [[Skew.keyProfile]] is the per-key deep dive, these are the survey.
  */
object Stats {

  /** One profile row per requested column:
    * (column, n_rows, n_nulls, null_frac_r6, n_distinct, approx_distinct,
    * distinct_within_5pct, min_str, max_str).
    *
    * Exact AND sketched distinct counts ship together, q32-style: the
    * exact count anchors correctness (and the oracle hash), the HLL++
    * estimate runs for real with a bounded-error boolean so a sketch
    * regression fails the row. min/max stringify so one schema fits every
    * column type (the caller has the typed table for typed reads).
    *
    * Scale shape: ONE pass per column (count + conditional count + min +
    * max + both distincts in a single aggregate); columns union after
    * aggregation, so the output is |cols| rows however wide the table.
    * At 100 TB drop the exact distinct (the only shuffle-heavy term) and
    * keep the sketch — the knob is `exactDistinct = false`. */
  def columnProfile(df: DataFrame, cols: Seq[String],
                    exactDistinct: Boolean = true): DataFrame =
    cols.map { c =>
      val base = df.agg(
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, lit(1))).as("n_nulls"),
        (if (exactDistinct) count_distinct(col(c))
         else lit(null).cast("long")).as("n_distinct"),
        approx_count_distinct(col(c)).as("approx_distinct"),
        min(col(c)).cast("string").as("min_str"),
        max(col(c)).cast("string").as("max_str"))
      base.select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
        round(col("n_nulls") / col("n_rows"), 6).as("null_frac_r6"),
        col("n_distinct"), col("approx_distinct"),
        (if (exactDistinct)
           abs(col("approx_distinct") - col("n_distinct")) <=
             col("n_distinct") * 0.05
         else lit(null).cast("boolean")).as("distinct_within_5pct"),
        col("min_str"), col("max_str"))
    }.reduce(_ unionByName _)

  /** Distribution drift between two snapshots of a numeric column — the
    * check a corpus pipeline runs when a new crawl/version lands: did the
    * value distribution move? Both sides bucket against SHARED edges
    * (combined min/max, the exact IEEE bucketing), then per-bin counts
    * and mass fractions align in one full-outer join. Output: (bin, n_a,
    * n_b, frac_a_r6, frac_b_r6) — bins empty on BOTH sides absent.
    * [[totalVariation]] collapses this to the scalar 0.5·Σ|p_a − p_b|
    * (total-variation distance: 0 = identical, 1 = disjoint) — chosen
    * over KL/PSI because it needs no log, so it replays exactly. */
  def drift(a: DataFrame, b: DataFrame, c: String, bins: Int): DataFrame = {
    val an = a.filter(col(c).isNotNull).select(col(c).cast("double").as("x"))
    val bn = b.filter(col(c).isNotNull).select(col(c).cast("double").as("x"))
    val r = an.unionByName(bn).agg(min(col("x")), max(col("x"))).head()
    require(!r.isNullAt(0), s"drift($c): both sides empty")
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    def binned(df: DataFrame, n: String) = df
      .select(Layout.linearBucketN(col("x"), lo, hi, bins.toLong).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(n))
    val ja = binned(an, "n_a"); val jb = binned(bn, "n_b")
    val ta = an.count().toDouble; val tb = bn.count().toDouble
    ja.join(jb, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("frac_a_r6", round(col("n_a") / lit(ta), 6))
      .withColumn("frac_b_r6", round(col("n_b") / lit(tb), 6))
  }

  /** Frozen drift reference for [[graft.streaming.Streams.Sinks
    * .driftMonitor]]: the column's histogram as (bin, frac) rows plus the
    * shared edges (lo, hi) every later batch must bucket against —
    * freezing edges is what makes batch scores comparable over time. */
  def driftReference(df: DataFrame, c: String, bins: Int): DataFrame = {
    val nn = df.filter(col(c).isNotNull).select(col(c).cast("double").as("x"))
    val r = nn.agg(min(col("x")), max(col("x"))).head()
    require(!r.isNullAt(0), s"driftReference($c): empty input")
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val total = nn.count().toDouble
    nn.select(Layout.linearBucketN(col("x"), lo, hi, bins.toLong).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .select(col("bin"), (col("n") / lit(total)).as("frac"),
        lit(lo).as("lo"), lit(hi).as("hi"), lit(bins).as("bins"))
  }

  /** Total-variation distance between the two sides of [[drift]]:
    * 0.5 · Σ_bins |n_a/N_a − n_b/N_b|, the per-bin |Δ| summed
    * decimal-exact so the scalar is partition-order independent. */
  def totalVariation(a: DataFrame, b: DataFrame, c: String,
                     bins: Int): Double = {
    val d = drift(a, b, c, bins)
    val ta = col("n_a").cast("double"); val tb = col("n_b").cast("double")
    val sums = d.agg(sum(col("n_a")).as("sa"), sum(col("n_b")).as("sb")).head()
    val (sa, sb) = (sums.getLong(0).toDouble, sums.getLong(1).toDouble)
    d.select(abs(ta / lit(sa) - tb / lit(sb)).as("ad"))
      .agg((graft.functions.SafeCasts.decimalSum(col("ad"), 12) / 2.0)
        .as("tv"))
      .head().getDouble(0)
  }

  /** Equi-DEPTH histogram (the optimizer-stats form PostgreSQL ANALYZE
    * actually keeps): `bins` cells holding equal ROW counts, so cell
    * boundaries track the distribution — a skewed column gets narrow cells
    * where the mass is, where [[histogram]]'s equal-width cells would dump
    * everything into one.
    *
    * Cells are RANK cuts, not value cuts: row r (1-based rank under
    * (value, tieBreak) order) lands in cell ⌊(r−1)·bins / n⌋ — integer
    * division, so cell membership is integer-exact across engines where an
    * interpolated-quantile value threshold would ulp-flip (the q88
    * discipline). Ties on the value can straddle a cell edge by design:
    * the cut is by rank, and `tieBreak` makes the rank total.
    *
    * Output: (bin, n, lo, hi) — per-cell count and REAL value bounds;
    * consecutive cells may share a boundary value when ties straddle.
    *
    * Scale note: the exact global rank comes from the distributed
    * range-partition + per-partition-offset form ([[graft.ext.Corpus]]'s
    * globalRank — no single-partition window anywhere), so even the exact
    * profile scales across shuffle partitions; a 100 TB profile still
    * usually prefers the approx_percentile/KLL edges
    * ([[histogramEquiDepthSketch]]) to skip the range sort entirely. */
  def histogramEquiDepth(df: DataFrame, c: String, bins: Int,
      tieBreak: Column): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    val nn = df.filter(col(c).isNotNull)
      .select(col(c).cast("double").as("x"), tieBreak.as("__t"))
    val n = nn.count()
    require(n > 0, s"histogramEquiDepth($c): empty input")
    graft.ext.Corpus.globalRank(nn, Seq(col("x"), col("__t")), "__rn")
      .withColumn("bin", expr(s"((__rn - 1) * $bins) DIV ${n}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
      .select(col("bin"), col("n"), col("lo"), col("hi"))
  }

  /** The 100 TB form of [[histogramEquiDepth]]: cell edges from
    * `approx_percentile` (one sketch aggregate — no global sort, no
    * window), rows assigned by a broadcast when-chain over the edge
    * literals. Cells hold ~n/bins rows within the sketch's rank error
    * (`accuracy` ≈ 1/rank-error); the exact rank-cut form stays the
    * validation twin at test scale. Output schema matches: (bin, n, lo,
    * hi). Edge values are sketch-derived — partition-order sensitive in
    * the tail — so this form is band-checked, never hash-pinned (the q32
    * convention). */
  def histogramEquiDepthSketch(df: DataFrame, c: String, bins: Int,
      accuracy: Int = 10000): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    val nn = df.filter(col(c).isNotNull).select(col(c).cast("double").as("x"))
    val probs = (1 until bins).map(_.toDouble / bins)
    val edges = nn.agg(expr(
      s"approx_percentile(x, array(${probs.mkString(",")}), $accuracy)"))
      .head().getSeq[Double](0)
    val bin = edges.zipWithIndex.foldLeft(None: Option[Column]) {
      case (acc, (e, i)) =>
        Some(acc.fold(when(col("x") < e, i))(_.when(col("x") < e, i)))
    }.fold(lit(0))(_.otherwise(edges.length)).cast("long")
    nn.withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
      .select(col("bin"), col("n"), col("lo"), col("hi"))
  }

  /** Corpus manifest: per-group integrity fingerprint for a 100 TB table —
    * the audit artifact a data pipeline publishes next to each corpus drop
    * so a consumer (or a later re-run) can verify "same rows, same bytes"
    * WITHOUT re-reading the corpus side-by-side. Per group: row count,
    * null-content count, id range, and an order-independent content
    * signature = Σ over rows of the first 8 md5 hex digits of
    * `id|content` read as an integer. Addition commutes, so the signature
    * is independent of partitioning and row order (the same property
    * [[graft.functions.SafeCasts.decimalSum]] gives numeric sums), and any
    * single-row change moves it with probability ≈ 1 − 2⁻³².
    *
    * Engine-portable by the [[graft.ext.Sampling.hashBucket]] rule (md5 is
    * md5 everywhere), so the oracle recomputes the identical signature.
    * Scale shape: one narrow map + one groupBy on the group column —
    * |groups| output rows, no second pass. */
  def manifest(df: DataFrame, group: Column, id: Column,
      content: Column): DataFrame =
    df.groupBy(group.as("group_key"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(content.isNull, lit(1))).as("n_null_content"),
        min(id).cast("string").as("min_id"),
        max(id).cast("string").as("max_id"),
        sum(manifestSig(id, content)).as("content_sig"))

  private def manifestSig(id: Column, content: Column): Column =
    conv(substring(md5(concat_ws("|",
      id.cast("string"), coalesce(content.cast("string"), lit("")))), 1, 8),
      16, 10).cast("long")

  /** The ADDITIVE core of [[manifest]] — (group_key, n_rows,
    * n_null_content, content_sig), every column a sum — which makes the
    * manifest a mergeable state: per-batch contributions fold by plain
    * addition ([[manifestFromContributions]]), so an incremental corpus
    * keeps a live integrity fingerprint without ever rescanning earlier
    * batches (the q77 index discipline applied to auditing). The id range
    * stays in the full [[manifest]] only: min/max don't decompose over
    * the string cast. */
  def manifestContribution(df: DataFrame, group: Column, id: Column,
      content: Column): DataFrame =
    df.groupBy(group.as("group_key"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(content.isNull, lit(1))).as("n_null_content"),
        sum(manifestSig(id, content)).as("content_sig"))

  /** Current manifest from a contribution table (any number of batches):
    * all three columns add. Folding a batch twice DOES double-count —
    * redelivery safety must come from contribution keying upstream
    * ([[graft.streaming.Streams.Sinks.manifestFold]]). */
  def manifestFromContributions(state: DataFrame): DataFrame =
    state.groupBy(col("group_key"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_null_content")).as("n_null_content"),
        sum(col("content_sig")).as("content_sig"))

  /** Equi-width histogram of a numeric column: `bins` cells spanning
    * [min, max] via [[Layout.linearBucket]]'s exact IEEE bucketing (the
    * max row clamps into the top cell), plus each cell's row count and
    * real value bounds. Null rows are excluded and reported by
    * [[columnProfile]]. Empty cells are absent (a 100 TB histogram join
    * fills gaps cheaper than a dense output invents zeros). One agg for
    * min/max, one linear pass to bucket-count — no sort, no window. */
  def histogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    val nn = df.filter(col(c).isNotNull)
    val r = nn.agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
    if (r.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("bin"), lit(0.0).as("lo"), lit(0.0).as("hi"),
          lit(0L).as("n")).limit(0)
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val bucket = Layout.linearBucketN(col(c), lo, hi, bins.toLong)
    nn.select(col(c).cast("double").as("x"), bucket.as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
      .select(col("bin"), col("lo"), col("hi"), col("n"))
  }
}
