package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY §7.6):
  * exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale posture:
  *  - Exact dedup shuffles once on the content hash (not the full text —
  *    group on `sha2`, 64 bytes, instead of multi-KB documents).
  *  - MinHash signatures are computed *per row with higher-order functions*
  *    (no explode of doc×shingle, no shuffle); only the LSH band table is
  *    exploded — `bands` rows per doc — and the candidate join shuffles on
  *    the band hash, so cost is O(docs × bands), never O(docs²).
  *  - SimHash reduces each doc to one 64-bit int; near-dup = same value
  *    (or banded prefixes for hamming tolerance).
  */
object Dedup {

  /** Default cap on the contracted label-pair frontier a single incremental
    * fold may pull to the driver (16 B/pair → ~64 MB at the cap). Batches
    * whose frontier exceeds it fail loudly rather than OOM the driver. */
  val DefaultMaxLabelPairs: Int = 4 << 20

  /** MinHash/LSH tuning profile. The numbers that matter:
    *  - `n`: shingle width in WORDS. Real prose needs n in 5..13 — unigrams
    *    make every document that shares vocabulary a candidate pair and the
    *    bucket join degenerates toward quadratic. Small n is only right for
    *    very short texts (titles, synthetic corpora) where a 5-gram window
    *    would exceed the document.
    *  - `k`: signature length (hash functions). Estimator std-err ≈
    *    1/sqrt(k): k=128 gives ±0.09 on the Jaccard estimate.
    *  - `bands`: LSH bands (k % bands == 0, r = k/bands rows per band).
    *    Collision probability for similarity s is 1-(1-s^r)^bands — the
    *    (32 bands, r=4) curve crosses 50% near s≈0.5 and 97% at s≈0.7.
    *  - `threshold`: estimated-Jaccard cut applied AFTER banding.
    */
  final case class MinHashParams(n: Int, k: Int, bands: Int, threshold: Double) {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    require(n >= 1 && threshold >= 0 && threshold <= 1, s"bad profile: $this")
  }
  object MinHashParams {
    /** Production default for web/document corpora: 5-gram shingles, 128
      * hashes in 32 bands (catches ≥0.7-Jaccard pairs with p≈0.97 while a
      * 0.3-Jaccard pair collides with p≈0.03), verified at threshold 0.7.
      * Use with the xxhash64 fast path ([[minhashDedupAssignments]]). */
    val production = MinHashParams(n = 5, k = 128, bands = 32, threshold = 0.7)
    /** Short-text / synthetic-corpus profile — the q16 oracle settings.
      * Unigram shingles ONLY because these documents are a few words long;
      * never use n=1 on real prose (see [[MinHashParams]]). */
    val shortText = MinHashParams(n = 1, k = 32, bands = 4, threshold = 0.6)
  }

  /** Exact dedup: keep the minimum id per identical content. Grouping on the
    * content digest keeps shuffle rows narrow at 100 TB. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), sha2(col(textCol), 256).as("content_sha"))
      .groupBy(col("content_sha"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Edit-distance (Levenshtein) near-duplicate pairs under prefix+length
    * blocking — the entity-resolution primitive for SHORT keys (titles,
    * names, normalized URLs, leading lines) where set-based methods
    * (MinHash shingles) are blind to character-level variants: a typo'd
    * title shares almost no word n-grams with its original but sits at
    * edit distance 1-3.
    *
    * Blocking contract (part of the semantics, not an approximation knob):
    * a pair is reported iff it (a) shares the lowercased `prefixLen`-char
    * prefix, (b) differs in length by at most `maxDist`, and (c) has
    * levenshtein(a,b) <= maxDist. Pairs that differ inside the first
    * `prefixLen` chars are NOT candidates — the standard blocking
    * tradeoff; run twice with a reversed key to catch head-edits.
    *
    * Scale shape: rows shuffle on (prefix, length band) — never all-pairs.
    * Each row probes its own `lenBand`-char length band plus both
    * neighbors (complete for maxDist <= lenBand since |len(a)-len(b)| <=
    * dist(a,b)), so every qualifying pair surfaces EXACTLY once, from
    * exactly one band slot. The edit distance is threshold-bounded
    * (O(maxDist·len), early-exit, instead of O(len²)) and only runs on
    * pairs that already passed the cheap prefix+length filters.
    *
    * The quadratic corner: pair volume is Σ per-block n², so a blocking
    * key the corpus concentrates on (short prefixes over a small
    * vocabulary) degenerates toward all-pairs — the bench measured a 14×
    * 8×-slope at prefixLen=4 on word-salad text. Two defenses, neither
    * changing the reported pair set:
    *  - a blocked pair runs the banded Levenshtein only after the packed
    *    char-histogram pre-filter ([[nibbleL1]] — lossless, codegen,
    *    measured ~80% kill rate on same-prefix English);
    *  - a block past `maxBlock` rows SALT-SPLITS into ⌈n/maxBlock⌉ cells
    *    (left replicated across cells, right hashed to one; each pair
    *    meets exactly once), because a hot block's contract pairs must be
    *    computed and the real hazard is one reducer buying the whole n²
    *    sweep — the standard skew-join treatment. The loud fence moves to
    *    total candidate volume (`maxPairs`): past it the key is judged
    *    degenerate for the corpus — pick a longer/more selective prefix
    *    (the [[graft.ext.SimSearch.semDedupParamsFor]] philosophy:
    *    measure, then size).
    * Output: (id_a, id_b, dist) with id_a < id_b. */
  /** The 16 character classes of the per-row histogram sketch: letters in
    * case-merged pairs, digits, space, common punctuation. Chars outside
    * every class simply don't count — merging or ignoring only LOWERS the
    * histogram distance, so the pre-filter below stays a superset. */
  private val SketchClasses = Seq(
    "aAbB", "cCdD", "eEfF", "gGhH", "iIjJ", "kKlL", "mMnN", "oOpP",
    "qQrR", "sStT", "uUvV", "wWxX", "yYzZ", "0123456789", " ",
    "_.,;:-'!?")

  /** Packed character histogram of `s`: 16 classes × 4-bit SATURATING
    * counters in one long. Built from 16 `translate`+`length` terms —
    * every one whole-stage-codegen (the HOF-aggregate formulation is
    * CodegenFallback and measured ~3× slower per row). */
  private def charSketch(s: Column): Column =
    SketchClasses.zipWithIndex.map { case (cs, i) =>
      shiftleft(least(length(s) - length(translate(s, cs, "")), lit(15))
        .cast("long"), i * 4)
    }.reduce(_ + _)

  /** Sum over the 16 nibbles of |a_i − b_i| — plain shifts/masks/abs,
    * all inside whole-stage codegen. One edit changes the true histogram's
    * L1 by at most 2, and capping each counter at 15 is a contraction
    * (|min(x,15) − min(y,15)| ≤ |x − y|), so `nibble-L1 ≤ 2·maxDist` is a
    * NECESSARY condition for `lev ≤ maxDist` — a LOSSLESS pre-filter
    * costing ~16 register ops per candidate pair where the banded
    * Levenshtein costs O(maxDist · len) cells. Measured: kills ~80% of
    * same-prefix English candidates at maxDist=5. */
  private def nibbleL1(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      abs(shiftright(a, i * 4).bitwiseAND(lit(15L)) -
        shiftright(b, i * 4).bitwiseAND(lit(15L)))
    }.reduce(_ + _)

  def fuzzyNearDups(docs: DataFrame, idCol: String, strCol: String,
                    maxDist: Int, prefixLen: Int = 10,
                    lenBand: Int = 16, maxBlock: Int = 5000,
                    maxPairs: Long = 100000000L): DataFrame = {
    require(maxDist >= 0 && maxDist <= lenBand,
      s"maxDist=$maxDist must sit in [0, lenBand=$lenBand] or band probing misses pairs")
    require(prefixLen >= 1, s"prefixLen=$prefixLen must be positive")
    val spark = docs.sparkSession
    import org.apache.spark.sql.functions.broadcast
    val base = docs.filter(col(strCol).isNotNull)
      .select(col(idCol).as("__id"), col(strCol).as("__s"),
        lower(substring(col(strCol), 1, prefixLen)).as("__blk"),
        floor(length(col(strCol)) / lenBand).as("__band"))
      .withColumn("__sk", charSketch(col("__s")))
    // Block census, OVERSIZED rows only (rare by construction — a bounded
    // collect at any corpus size). A block past `maxBlock` no longer
    // refuses: its contract pairs exist and must be computed, and the
    // real hazard is SKEW — one reducer buying the whole n² sweep — so
    // the block salt-splits into ⌈n/maxBlock⌉ cells (left side replicated
    // across cells, right side hashed into its own; every qualifying pair
    // still meets exactly once). The loud fence moves to TOTAL pair
    // volume: past `maxPairs` candidate pairs from oversized blocks the
    // sweep is judged a mistake (degenerate key), not a skew problem.
    val oversized = base.groupBy(col("__blk"), col("__band"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBlock).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val overPairs = oversized.values.map(n => n * n).sum
    require(overPairs <= maxPairs,
      s"fuzzyNearDups: oversized (prefix, band) blocks imply ~$overPairs " +
        s"candidate pairs (> maxPairs=$maxPairs) — the blocking key is " +
        s"degenerate for this corpus; use a longer prefixLen or raise " +
        s"maxPairs deliberately")
    val left0 = base.select(col("__id").as("id_a"), col("__s").as("s_a"),
      col("__sk").as("sk_a"), col("__blk"),
      explode(array(col("__band") - 1, col("__band"), col("__band") + 1))
        .as("__jband"))
    val right0 = base.select(col("__id").as("id_b"), col("__s").as("s_b"),
      col("__sk").as("sk_b"), col("__blk"), col("__band").as("__jband"))
    val (left, right) =
      if (oversized.isEmpty)
        (left0.withColumn("__cell", lit(0)),
          right0.withColumn("__cell", lit(0)))
      else {
        // cell counts ride a broadcast map keyed by the PROBED band (the
        // right side's own band = the left side's __jband), so both sides
        // agree on every block's split factor
        val mDf = broadcast(spark.createDataFrame(oversized.toSeq.map {
          case ((b, band), n) =>
            (b, band, ((n + maxBlock - 1) / maxBlock).toInt)
        }).toDF("__mblk", "__mband", "__m"))
        val l = left0.join(mDf,
            left0("__blk") === mDf("__mblk") &&
              left0("__jband") === mDf("__mband"), "left")
          .withColumn("__cell",
            explode(sequence(lit(0), coalesce(col("__m"), lit(1)) - 1)))
          .drop("__mblk", "__mband", "__m")
        val r = right0.join(mDf,
            right0("__blk") === mDf("__mblk") &&
              right0("__jband") === mDf("__mband"), "left")
          .withColumn("__cell",
            pmod(xxhash64(col("id_b")), coalesce(col("__m"), lit(1)))
              .cast("int"))
          .drop("__mblk", "__mband", "__m")
        (l, r)
      }
    left.join(right, Seq("__blk", "__jband", "__cell"))
      .filter(col("id_a") < col("id_b") &&
        abs(length(col("s_a")) - length(col("s_b"))) <= maxDist &&
        nibbleL1(col("sk_a"), col("sk_b")) <= lit(2L * maxDist))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Word n-gram shingles of the lowercased text (distinct set). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Per-doc MinHash signature table: (doc_id, sig: array<long>[k]).
    *
    * Formulated as explode + k native min-aggregates rather than nested
    * higher-order functions: the HOF version is CodegenFallback AND gets
    * inlined by CollapseProject into every consumer (8× in the band explode,
    * once per join side), recomputing the whole signature per reference —
    * measured ~10× slower end-to-end. Here xxhash64/min stay inside
    * whole-stage codegen, partial aggregation computes the mins map-side so
    * the shuffle carries one row per (doc × shingle-partial), and the
    * Aggregate node is a natural collapse barrier: downstream operators see
    * `sig` as an attribute, never the expression. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 n: Int, k: Int): DataFrame = {
    val shingleRows = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), n)).as("s"))
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"__h$i"))
    shingleRows.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** LSH banding: split the k-length signature into `bands` rows of
    * (doc_id, band_id, band_hash) — deliberately WITHOUT the signature, so
    * the downstream candidate join shuffles narrow rows only. */
  def lshBands(sigTable: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    sigTable
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band_id"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
              .as("band_hash")))).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  /** Candidate near-duplicate pairs with estimated Jaccard from signature
    * agreement. Join on (band_id, band_hash); pairs deduped by (a < b). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5): DataFrame = {
    // The candidate join is quadratic in bucket size, so the band table it
    // joins carries ONLY (band, doc_id) — signatures would multiply shuffle
    // width by k×8 bytes per row. Signatures join back only after the pair
    // set is distinct, so the Jaccard estimate runs once per unique pair.
    // NOTE deliberately NOT pinned (no localCheckpoint): the signatures
    // feed three consumers, but callers like q16's keeper aggregation
    // rely on the optimizer ELIMINATING the whole pair pipeline under a
    // count, and any checkpoint is an optimizer barrier; the r15 A/B also
    // measured the pin slower than the parallel triple recompute at
    // bench scale. Consumers that need every edge pin at THEIR level
    // (portableClusterIndex).
    val sigs = signatures(docs, idCol, textCol, n, k)
    val narrow = lshBands(sigs, k, bands)
    val pairs = narrow
      .join(narrow.withColumnRenamed("doc_id", "doc_b"), Seq("band_id", "band_hash"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (graft.functions.VectorExprs.longArrayAgree(col("sig_a"), col("sig_b"))
          .cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** [[minhashNearDups]] under a named tuning profile. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      p: MinHashParams): DataFrame =
    minhashNearDups(docs, idCol, textCol, p.n, p.k, p.bands, p.threshold)

  /** [[minhashDedupAssignments]] under a named tuning profile —
    * [[MinHashParams.production]] is the 100 TB default. */
  def minhashDedupAssignments(docs: DataFrame, idCol: String, textCol: String,
                              p: MinHashParams): DataFrame =
    minhashDedupAssignments(docs, idCol, textCol, p.n, p.k, p.bands, p.threshold)

  /** Doc-level dedup decisions from the near-dup pair set: each doc maps to
    * its smallest-id near-duplicate as keeper (docs with no candidate keep
    * themselves, keeper_id = doc_id). Output is one row per document — the
    * artifact a dedup pipeline actually materializes; on a degenerate
    * corpus the pair set is quadratic, so never return it directly. */
  def minhashDedupAssignments(docs: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, k: Int = 64, bands: Int = 16,
                              threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, textCol, n, k, bands, threshold)
    val keepers = pairs.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("cand"), max(col("est_jaccard")).as("max_est_jaccard"))
    docs.select(col(idCol).as("doc_id")).join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cand"), col("doc_id")).as("keeper_id"),
        col("max_est_jaccard"))
  }

  // ---------------------------------------------------------------------
  // Portable (cross-engine-reproducible) MinHash
  //
  // The fast path above hashes with xxhash64, which most other engines
  // lack, so its outputs can only be rows-checked. This variant hashes with
  // h_i(t) = substr(md5(i || '|' || t), 1, 16) — equal-length lowercase hex
  // compares lexicographically == numerically, so `min` is the same hash-min
  // — and every stage reproduces bit-for-bit in any engine with md5 (the
  // DuckDB oracle does, q16). ~3× the CPU of xxhash64; production-scale
  // dedup uses [[signatures]], verification uses this.
  // ---------------------------------------------------------------------

  def portableSignatures(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, k: Int): DataFrame = {
    val shingleRows = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), n)).as("s"))
    val mins = (0 until k).map(i =>
      min(substring(md5(concat(lit(i + "|"), col("s")).cast("binary")), 1, 16))
        .as(s"__h$i"))
    shingleRows.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** [[lshBands]] with an md5 band hash over the comma-joined band slice. */
  def portableBands(sigTable: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sigTable
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band_id"),
            md5(array_join(slice(col("sig"), b * r + 1, lit(r)), ",").cast("binary"))
              .as("band_hash")))).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  /** [[portableDedupAssignments]] under a named tuning profile. */
  def portableDedupAssignments(docs: DataFrame, idCol: String, textCol: String,
                               p: MinHashParams): DataFrame =
    portableDedupAssignments(docs, idCol, textCol, p.n, p.k, p.bands, p.threshold)

  /** [[minhashDedupAssignments]] on the portable hash — same LSH structure,
    * same narrow-join discipline, every value DuckDB-reproducible. The
    * default args are [[MinHashParams.shortText]] (the q16 oracle profile);
    * production corpora should pass [[MinHashParams.production]]. */
  /** The thresholded near-dup PAIR set on the portable hash —
    * (doc_a, doc_b, est_jaccard), a < b — exposed so cluster-level
    * consumers ([[nearDupClusters]], q64) share the exact q16-verified
    * candidate machinery. */
  def portableNearDups(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 1, k: Int = 32, bands: Int = 4,
                       threshold: Double = 0.6): DataFrame = {
    val sigs = portableSignatures(docs, idCol, textCol, n, k)
    val narrow = portableBands(sigs, k, bands)
    val pairs = narrow
      .join(narrow.withColumnRenamed("doc_id", "doc_b"), Seq("band_id", "band_hash"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  def portableDedupAssignments(docs: DataFrame, idCol: String, textCol: String,
                               n: Int = 1, k: Int = 32, bands: Int = 4,
                               threshold: Double = 0.6): DataFrame = {
    val est = portableNearDups(docs, idCol, textCol, n, k, bands, threshold)
    val keepers = est.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("cand"), max(col("est_jaccard")).as("max_est_jaccard"))
    docs.select(col(idCol).as("doc_id")).join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cand"), col("doc_id")).as("keeper_id"),
        col("max_est_jaccard"))
  }

  /** Transitive near-dup clusters: connected components over the candidate
    * pair graph by iterative min-label propagation — doc chains a~b~c
    * collapse to one cluster even when a,c never paired directly. Each
    * iteration is one join + aggregate; lineage is cut per iteration
    * (localCheckpoint) so the plan stays flat; iteration count is bounded
    * by the component diameter (one hop per round) and capped by `maxIter`.
    * Hitting the cap with changes still in flight THROWS rather than
    * returning silently under-merged labels — a chain-shaped cluster deeper
    * than the cap would otherwise get wrong cluster ids that look valid.
    * Output: (doc_id, cluster_id) where cluster_id = min doc_id of the
    * component. */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // restore (not null) on exit: a caller's own description must survive
    val callerDesc = sc.getLocalProperty("spark.job.description")
    // pin the edge set: EVERY iteration (and each convergence check) joins
    // against it — without this the upstream pair computation (banding +
    // signature agreement, the expensive part) re-executes per iteration,
    // turning an O(iters × |edges|) loop into O(iters × pair-derivation)
    sc.setJobDescription("nearDupClusters: pin edge set")
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint()
    // seed = least(self, min(direct neighbor)) — exactly what round one
    // of the loop would compute from identity labels, folded into the
    // endpoint-dedup aggregate the seed already pays for (same groupBy-u
    // shuffle as the old distinct()), so every call starts one round
    // ahead at zero extra cost
    sc.setJobDescription("nearDupClusters: seed labels")
    var labels = edges.groupBy(col("u").as("doc_id"))
      .agg(least(min(col("v")), col("u")).as("cluster_id"))
      .localCheckpoint()
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "v")
          .withColumnRenamed("cluster_id", "v_label"), Seq("v"))
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("v_label")).as("nbr_label"))
      // the changed flag rides the checkpointed frame, so convergence
      // detection is a filter over stored rows, not a second labels join
      val afterNbr = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_label"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nbr_label"), col("cluster_id")) < col("cluster_id"))
            .as("__changed"))
      // Pointer-jumping (path compression): label := label(label). The
      // neighbor-min pass alone moves the component min ONE hop per round
      // (O(diameter) rounds — a 1000-link chain of near-dup shingles needs
      // 1000 rounds); composing it with one jump per round doubles the
      // reach each time, so convergence is O(log diameter). Invariants
      // preserved: every label is a doc_id of the SAME component (a
      // label's label is just another member's label), labels only
      // decrease, and the fixpoint — label(u) = min(component) for all u,
      // where both passes are identities — is unchanged, so q64/q65's
      // recursive-CTE oracles and every caller see identical output.
      // The jump is armed from the loop's second round on (the seed above
      // already counts as one neighbor round): typical near-dup graphs
      // (star-shaped dup clusters) converge in 2-3 neighbor rounds where
      // the extra labels self-join would be pure overhead (~35% measured
      // on q64); only a still-unconverged deep component pays for — and
      // gets — the doubling.
      sc.setJobDescription(s"nearDupClusters: propagate iter=$iter")
      val plan = if (iter < 1) afterNbr else afterNbr
        .join(afterNbr.select(col("doc_id").as("__p_id"),
          col("cluster_id").as("__p_label")),
          col("cluster_id") === col("__p_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("__p_label"), col("cluster_id")))
            .as("cluster_id"),
          (col("__changed") ||
            coalesce(col("__p_label"), col("cluster_id")) < col("cluster_id"))
            .as("__changed"))
      // ONE job per round: the convergence bit rides an accumulator
      // inside the same map that `localCheckpoint` would run anyway
      // (toRdd.map(_.copy())), so materializing the round's labels IS the
      // convergence check — no second `limit(1).count()` action. A task
      // retry can only re-add counts from rows that did change, so the
      // `> 0` test is retry-safe (0 stays exactly 0).
      val schema = plan.schema
      val chIdx = schema.fieldIndex("__changed")
      val acc = sc.longAccumulator(s"nearDupClusters.changed.$iter")
      val rdd = org.apache.spark.sql.graftbridge.GraftBridge
        .toInternalRdd(plan).map { r =>
          if (!r.isNullAt(chIdx) && r.getBoolean(chIdx)) acc.add(1L)
          r.copy()
        }
      rdd.localCheckpoint()
      rdd.count()
      changed = acc.value > 0
      labels = org.apache.spark.sql.graftbridge.GraftBridge
        .fromInternalRdd(plan.sparkSession, rdd, schema).drop("__changed")
      iter += 1
    }
    sc.setJobDescription(callerDesc)
    if (changed) throw new IllegalStateException(
      s"nearDupClusters did not converge within maxIter=$maxIter rounds: " +
        "labels were still changing in the last iteration, so a component " +
        "with diameter > 2^maxIter would be silently under-merged. Re-run " +
        "with a larger maxIter (rounds needed ~ log2 of the longest chain " +
        "in the pair graph)")
    labels
  }

  /** Empty persisted label table for [[incrementalClusters]] — the fold's
    * zero element (folding a first batch into it equals batch clustering). */
  def emptyLabels(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("cluster_id", LongType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Fold ONE batch's near-dup edges into persisted cluster labels — the
    * incremental analog of [[nearDupClusters]] for a corpus built batch by
    * batch. `labels` is the persisted (doc_id, cluster_id) table (cluster_id
    * = min doc_id of the component, the [[nearDupClusters]] invariant);
    * `newEdges` is the batch's candidate pair set (doc_a, doc_b) — typically
    * [[portableIncrementalEdges]] / the xxhash64 twin, so it contains
    * new-vs-corpus and new-vs-new pairs only. Returns the UPDATED full label
    * table (old docs relabeled where a new edge bridged their components,
    * plus the batch's endpoint docs).
    *
    * Scale posture: the corpus-wide `labels` table is touched only by ONE
    * broadcast-join relabel pass — no iterative propagation over it. The
    * iterative part (component merging) runs as driver-side union-find over
    * the batch's contracted LABEL graph, whose size is bounded by the
    * batch's edge frontier (≤ |newEdges| pairs), not by the corpus: each old
    * cluster participates as a single contracted node. The min-label
    * invariant is preserved (union by min root), so folding batches one at
    * a time converges to exactly [[nearDupClusters]] over the union graph
    * — the q65 oracle replays both stages in DuckDB's recursive CTE. */
  def incrementalClusters(newEdges: DataFrame, labels: DataFrame,
                          maxLabelPairs: Int = DefaultMaxLabelPairs): DataFrame = {
    val (remapDf, endpointLabels) = clusterFoldParts(newEdges, labels, maxLabelPairs)
    // ONE broadcast relabel pass over the corpus labels; batch endpoints
    // not yet in the table are appended with their (remapped) labels
    val updatedOld = labels
      .join(broadcast(remapDf), labels("cluster_id") === col("__old"), "left")
      .select(labels("doc_id"),
        coalesce(col("__new"), labels("cluster_id")).as("cluster_id"))
    updatedOld.unionByName(clusterAppendRows(remapDf, endpointLabels, labels))
  }

  /** The DELTA of [[incrementalClusters]]: ONLY the rows whose label
    * changed (members of merged clusters) plus the batch's new docs. The
    * full fold ≡ old labels overridden by this delta — so a streaming sink
    * can apply it as a partition-SCOPED upsert (O(changed rows) written
    * per batch) instead of rewriting the whole label table, which is the
    * difference between a 100 TB label table being maintainable per batch
    * or not. Finding the changed rows is still one narrow broadcast-remap
    * scan of `labels` (no shuffle); only the WRITE shrinks to the delta. */
  def incrementalClustersDelta(newEdges: DataFrame, labels: DataFrame,
                               maxLabelPairs: Int = DefaultMaxLabelPairs): DataFrame = {
    val (remapDf, endpointLabels) = clusterFoldParts(newEdges, labels, maxLabelPairs)
    val changed = labels
      .join(broadcast(remapDf), labels("cluster_id") === col("__old"))
      .select(labels("doc_id"), col("__new").as("cluster_id"))
    changed.unionByName(clusterAppendRows(remapDf, endpointLabels, labels))
  }

  /** Batch endpoints not yet in the label table, with remapped labels. */
  private def clusterAppendRows(remapDf: DataFrame, endpointLabels: DataFrame,
                                labels: DataFrame): DataFrame =
    endpointLabels.join(labels, Seq("doc_id"), "left_anti")
      .join(broadcast(remapDf), col("label") === col("__old"), "left")
      .select(col("doc_id"), coalesce(col("__new"), col("label")).as("cluster_id"))

  /** Shared fold core: contract the batch's edges to current labels,
    * union-find the ≤|edges| label pairs on the driver, and return the
    * (label → merged-min-label) remap plus each endpoint's pre-merge
    * label. */
  private def clusterFoldParts(newEdges: DataFrame, labels: DataFrame,
                               maxLabelPairs: Int): (DataFrame, DataFrame) = {
    val sess = newEdges.sparkSession
    import sess.implicits._
    // pin the edge set: its derivation (band joins + signature agreement)
    // must not re-execute per downstream reference
    val e = newEdges.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val endpoints = e.select(col("doc_a").as("doc_id"))
      .union(e.select(col("doc_b").as("doc_id"))).distinct()
    // batch endpoints resolve to their current label; unseen docs label
    // themselves (the singleton-component seed)
    val endpointLabels = endpoints.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("label"))
      .localCheckpoint()
    // contract existing clusters to their label: the label-level edge list
    // is bounded by the batch's frontier, safe to union-find on the driver
    val labelPairs = e
      .join(endpointLabels.select(col("doc_id").as("doc_a"), col("label").as("la")),
        Seq("doc_a"))
      .join(endpointLabels.select(col("doc_id").as("doc_b"), col("label").as("lb")),
        Seq("doc_b"))
      .filter(col("la") =!= col("lb"))
      .select(col("la"), col("lb")).distinct()
      // Bounded in principle by <= |newEdges| distinct label pairs, but the
      // batch edge frontier is caller-controlled — so enforce the bound at
      // runtime: take(max+1) fetches at most one row past the cap, and an
      // oversized frontier fails LOUDLY instead of OOMing the driver.
      .as[(Long, Long)].take(maxLabelPairs + 1)
    require(labelPairs.length <= maxLabelPairs,
      s"cluster fold frontier exceeds maxLabelPairs=$maxLabelPairs distinct label pairs; " +
        "split the batch, raise the bound explicitly, or rebuild with nearDupClusters")

    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // union by MIN root keeps the cluster_id = min-member invariant: every
    // incoming label is the min id of its component, so the min of merged
    // roots is the min id of the merged component
    labelPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val remap = parent.keysIterator.map(l => (l, find(l)))
      .filter { case (l, r) => l != r }.toSeq
    (remap.toDF("__old", "__new"), endpointLabels)
  }

  /** Cross-document duplicated-SPAN profile — the sliding-window form of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): any `window`-token span occurring in
    * >= `minDocs` distinct documents is duplicated text, and each document
    * reports how much of it is covered by such spans. Complements
    * [[removeRepeatedSegments]] (fixed non-overlapping segments — misses
    * duplicates at unaligned offsets) and
    * [[graft.ext.TextStats.repetitionProfile]] (within-doc only): this is
    * the cross-doc signal at ARBITRARY offsets, the standard curation
    * gate input for contaminated/boilerplate-heavy corpora.
    *
    * Output: (doc_id, n_toks, dup_spans, dup_tokens, dup_ratio_r6) — spans
    * hitting the hot set, distinct token positions they cover, and the
    * covered fraction. Every corpus row is retained (null text → zeros).
    *
    * Scale shape: the positional grams carry (doc_id, start, xxhash64) —
    * the hot-set aggregate and semi-join shuffle the 64-bit hash, never
    * gram text; coverage explodes each HOT span to `window` positions
    * (bounded by window × hot spans, not corpus size) and collapses
    * immediately into a per-doc countDistinct. Determinism: a pure
    * function of the text — the q74 oracle replays the whole pipeline in
    * DuckDB grouping on raw gram text (hash vs text grouping diverges only
    * on a 64-bit collision, the q09/q69 convention). */
  def duplicatedSpanProfile(docs: DataFrame, idCol: String, textCol: String,
                            window: Int, minDocs: Long): DataFrame = {
    val hotSpans = hotSpanStarts(docs, idCol, textCol, window, minDocs)
    val spans = hotSpans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"))
    val cover = hotSpans
      .select(col("doc_id"), explode(sequence(col("s"),
        col("s") + (window - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).as("dup_tokens"))
    docs.select(col(idCol).as("doc_id"),
        when(col(textCol).isNull, lit(0L)).otherwise(
          size(split(trim(lower(col(textCol))), "\\s+")).cast("long")).as("n_toks"))
      .join(spans, Seq("doc_id"), "left")
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(when(col("n_toks") > 0,
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_toks"))
          .otherwise(lit(0.0)), 6).as("dup_ratio_r6"))
  }

  /** The TRANSFORM twin of [[duplicatedSpanProfile]]: rebuild each document
    * from the token positions NOT covered by any cross-doc duplicated span
    * (the Lee et al. 2022 cut, applied token-exactly). Surviving tokens
    * keep their original order; every corpus row is retained (null text →
    * empty). Output: (doc_id, clean_text, n_toks, toks_removed).
    *
    * Scale shape: on top of the profile's hot-span machinery, the rebuild
    * shuffles each doc's surviving (position, token) pairs once — exactly
    * [[removeRepeatedSegments]]' rebuild cost, O(total tokens). */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            window: Int, minDocs: Long): DataFrame = {
    val covered = hotSpanStarts(docs, idCol, textCol, window, minDocs)
      .select(col("doc_id"), explode(sequence(col("s"),
        col("s") + (window - 1))).as("p"))
      .distinct()
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(split(trim(lower(col(textCol))), "\\s+")).as(Seq("p", "tok")))
    val rebuilt = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x.getField("tok"))).as("clean_text"),
        count(lit(1)).as("toks_kept"))
    docs.select(col(idCol).as("doc_id"),
        when(col(textCol).isNull, lit(0L)).otherwise(
          size(split(trim(lower(col(textCol))), "\\s+")).cast("long")).as("n_toks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_toks"),
        (col("n_toks") - coalesce(col("toks_kept"), lit(0L))).as("toks_removed"))
  }

  /** Shared core of the duplicated-span pair: positional `window`-grams →
    * hot set (>= `minDocs` distinct docs, keyed on xxhash64 — the shuffle
    * never carries gram text) → each doc's hot-span start positions,
    * pinned (consumed multiple times downstream). */
  private def hotSpanStarts(docs: DataFrame, idCol: String, textCol: String,
                            window: Int, minDocs: Long): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    require(minDocs > 1, s"minDocs must exceed 1 (minDocs=1 marks every span): $minDocs")
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextExprs.wordNGrams(col(textCol), window,
          distinct = false)).as(Seq("s", "gram")))
      .select(col("doc_id"), col("s"), xxhash64(col("gram")).as("gh"))
    val hot = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("gh"))
    grams.join(hot, Seq("gh"), "left_semi").localCheckpoint()
  }

  /** Exact n-gram Jaccard for a pair table (verification pass after LSH). */
  def ngramJaccard(pairs: DataFrame, left: Column, right: Column, n: Int): Column = {
    val (ls, rs) = (shingles(left, n), shingles(right, n))
    size(array_intersect(ls, rs)).cast("double") / size(array_union(ls, rs))
  }

  /** SimHash: sign-aggregated 64-bit fingerprint of the token set. For each
    * bit b, sum ±1 over tokens by whether xxhash64(token) has bit b set; the
    * fingerprint has bit b iff the sum is positive.
    *
    * One fold over the token array accumulates all 64 bit-sums (the per-token
    * bit vector comes from the binary-string form of the hash, since
    * `shiftright` only takes a literal bit count); the final bit-pack unrolls
    * at plan-build time with Scala-side shifts. Pure expressions, no UDF.
    */
  def simhashBitSums(text: Column): Column = {
    val toks = array_distinct(split(trim(lower(text)), "\\s+"))
    def hashBits(t: Column): Column = {
      val bits = lpad(bin(xxhash64(t)), 64, "0") // MSB-first 64-char 0/1 string
      transform(sequence(lit(0), lit(63)),
        b => when(bits.substr(lit(64) - b, lit(1)) === "1", 1).otherwise(-1))
    }
    aggregate(toks, array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, hashBits(t), (a, v) => a + v))
  }

  private def packBits(bitSums: Column): Column =
    (0 until 64).map(b =>
      when(element_at(bitSums, b + 1) > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))

  def simhash(text: Column): Column = packBits(simhashBitSums(text))

  /** [[simhashTable]] on the portable hash: the 64 token-hash bits come from
    * two 32-bit halves of md5 hex (each parses into an int64 without sign
    * trouble in ANY engine — a full 16-hex value can exceed 2^63), so the
    * whole fingerprint computation transliterates to the DuckDB oracle.
    * Same packed-lane aggregate structure as the fast path. */
  def portableSimhashTable(docs: DataFrame, idCol: String, textCol: String,
                           out: String = "simhash64"): DataFrame = {
    val md5hex = md5(col("__t").cast("binary"))
    val toks = docs.select(col(idCol),
        explode(array_distinct(split(trim(lower(col(textCol))), "\\s+"))).as("__t"))
      .select(col(idCol),
        conv(substring(md5hex, 1, 8), 16, 10).cast("long").as("__hlo"),
        conv(substring(md5hex, 9, 8), 16, 10).cast("long").as("__hhi"))
    val packedSums = (0 until 32).map { b =>
      val lo = shiftright(col("__hlo"), b).bitwiseAND(1)
      val hi = shiftleft(shiftright(col("__hhi"), b).bitwiseAND(1), 32)
      sum(lo.bitwiseOR(hi)).as(s"__p$b")
    }
    val aggs = packedSums :+ count(lit(1)).as("__n")
    val grouped = toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    def bitCount(b: Int): Column = {
      val p = col(s"__p${b % 32}")
      if (b < 32) p.bitwiseAND(0xFFFFFFFFL) else shiftright(p, 32)
    }
    grouped.select(col(idCol),
      (0 until 64).map(b =>
        when(bitCount(b) * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce((x, y) => x.bitwiseOR(y)).as(out))
  }

  /** Table-level simhash, the fast path: explode tokens and compute the bit
    * counters as native sum-aggregates with literal shift counts — fully
    * codegen'd, map-side partial aggregation, Aggregate as collapse barrier
    * (same rationale as [[signatures]]; the Column form above is
    * CodegenFallback and ~50× slower per doc). Output: (idCol, out).
    *
    * The 64 counters are packed two-per-long into 32 sum aggregates (bit b
    * in the low 32-bit lane, bit b+32 in the high lane) plus one count(*):
    * 64 separate sums put >128 fields in the aggregation buffer, past
    * `spark.sql.codegen.maxFields` (100), dropping the hot aggregate out of
    * whole-stage codegen (~10× slower). Each lane accumulates a 0/1 per
    * token, so lane overflow would need 2^32 distinct tokens in one doc —
    * impossible. Set-bit count S_b relates to the ±1 formulation by
    * sum(±1) = 2*S_b − n, so fingerprint bit b is set iff 2*S_b > n. */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String,
                   out: String = "simhash64"): DataFrame = {
    // hash each token ONCE in a projection below the aggregate — the packed
    // bit-sum expressions then read the attribute instead of re-hashing
    val toks = docs.select(col(idCol),
        explode(array_distinct(split(trim(lower(col(textCol))), "\\s+"))).as("__t"))
      .select(col(idCol), xxhash64(col("__t")).as("__h"))
    val h = col("__h")
    val packedSums = (0 until 32).map { b =>
      val lo = shiftright(h, b).bitwiseAND(1)
      val hi = shiftleft(shiftright(h, b + 32).bitwiseAND(1), 32)
      sum(lo.bitwiseOR(hi)).as(s"__p$b")
    }
    val aggs = packedSums :+ count(lit(1)).as("__n")
    val grouped = toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    def bitCount(b: Int): Column = {
      val p = col(s"__p${b % 32}")
      if (b < 32) p.bitwiseAND(0xFFFFFFFFL) else shiftright(p, 32)
    }
    grouped.select(col(idCol),
      (0 until 64).map(b =>
        when(bitCount(b) * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce((x, y) => x.bitwiseOR(y)).as(out))
  }

  // ---------------------------------------------------------------------
  // Incremental near-dup: a 100 TB corpus is built batch by batch, so new
  // documents must dedup against the EXISTING corpus without re-reading
  // its text. The corpus is represented by its persisted MinHash index —
  // the signature table (doc_id, sig) and the band table (doc_id, band_id,
  // band_hash), both tiny relative to the text — and each batch joins its
  // own bands against it. Cost per batch: O(|batch| × bands) shuffle rows
  // plus the bucket-candidate joins; the old corpus is never rescanned.
  // ---------------------------------------------------------------------

  /** The persisted dedup state: append the returned DELTA (the kept docs'
    * rows) after each batch. When persisting through
    * `MergeSink.appendDedup`, key signatures on `doc_id` but bands on the
    * COMPOSITE (doc_id, band_id) — the sink dedups on its key, and a bare
    * doc_id key would collapse a doc's `bands` rows to one, silently
    * dropping most LSH buckets. */
  final case class DedupIndex(signatures: DataFrame, bands: DataFrame)

  def emptyIndex(spark: org.apache.spark.sql.SparkSession): DedupIndex = {
    import org.apache.spark.sql.types._
    val sigSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType))))
    val bandSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band_id", IntegerType), StructField("band_hash", LongType)))
    DedupIndex(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sigSchema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], bandSchema))
  }

  /** Build the index for an initial corpus: dedup it first, index ONLY the
    * kept representatives. Indexing every doc would let later batches pick
    * a dropped near-duplicate as keeper — a ghost reference to a document
    * that no longer exists in the published corpus. This is exactly one
    * step of the incremental fold with an empty starting index. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 64, bands: Int = 16,
                 threshold: Double = 0.5): DedupIndex =
    incrementalAssignments(docs, idCol, textCol,
      emptyIndex(docs.sparkSession), n, k, bands, threshold)._2

  /** Dedup one new batch against the corpus index. Returns the per-doc
    * assignments (`doc_id, keeper_id, max_est_jaccard`) and the index
    * DELTA — the kept docs' rows only, to APPEND to the persisted index
    * (it is not the accumulated index itself).
    *
    * Keeper preference is first-seen: a match already in the corpus always
    * wins over an in-batch match (regardless of id), in-batch matches fall
    * back to the smallest id — so with an empty index this degenerates to
    * exactly [[minhashDedupAssignments]]. Chained duplicates keep the batch
    * semantics: a doc's keeper may itself be assigned elsewhere.
    */
  def incrementalAssignments(newDocs: DataFrame, idCol: String, textCol: String,
                             index: DedupIndex,
                             n: Int = 3, k: Int = 64, bands: Int = 16,
                             threshold: Double = 0.5): (DataFrame, DedupIndex) =
    incrementalCore(newDocs, idCol, index, threshold,
      d => signatures(d, idCol, textCol, n, k),
      s => lshBands(s, k, bands),
      (a, b) => graft.functions.VectorExprs.longArrayAgree(a, b)
        .cast("double") / k)

  /** [[incrementalAssignments]] on the portable md5 hash — the
    * verification twin ([[portableSignatures]]/[[portableBands]] rationale):
    * every stage, including the first-seen keeper priority, reproduces
    * bit-for-bit in DuckDB (the q62 oracle replays both the index build and
    * the batch step). Defaults are the `shortText` oracle profile.
    * Production corpora use [[incrementalAssignments]] (xxhash64). */
  def portableIncrementalAssignments(newDocs: DataFrame, idCol: String,
                                     textCol: String, index: DedupIndex,
                                     n: Int = 1, k: Int = 32, bands: Int = 4,
                                     threshold: Double = 0.6)
      : (DataFrame, DedupIndex) =
    incrementalCore(newDocs, idCol, index, threshold,
      d => portableSignatures(d, idCol, textCol, n, k),
      s => portableBands(s, k, bands),
      (a, b) => size(filter(zip_with(a, b, (x, y) => x === y), v => v))
        .cast("double") / k)

  /** ALL-docs portable index for cluster-grade consumers: clustering wants
    * every edge, so unlike [[buildIndex]] nothing is keeper-filtered.
    * Signatures are computed ONCE and pinned — the expensive md5 pass never
    * re-executes across the several consumers an index feeds (pair
    * derivation, incremental probes, estimate joins). */
  def portableClusterIndex(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 1, k: Int = 32,
                           bands: Int = 4): DedupIndex = {
    val sigs = portableSignatures(docs, idCol, textCol, n, k).localCheckpoint()
    DedupIndex(sigs, portableBands(sigs, k, bands).localCheckpoint())
  }

  /** Thresholded near-dup pairs WITHIN an index — [[portableNearDups]]
    * without touching any text: candidates self-join the index's band
    * table, estimates read its signatures. The index IS the corpus at this
    * point; at 100 TB this is the only form that should run (the text was
    * scanned exactly once, when the index was built). */
  def portableNearDupsOverIndex(index: DedupIndex, k: Int = 32,
                                threshold: Double = 0.6): DataFrame = {
    val narrow = index.bands.select(col("doc_id"), col("band_id"), col("band_hash"))
    val pairs = narrow
      .join(narrow.withColumnRenamed("doc_id", "doc_b"), Seq("band_id", "band_hash"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    val sigs = index.signatures
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** One batch's thresholded near-dup EDGES against the corpus index:
    * (doc_a, doc_b, est_jaccard) with doc_a = the corpus or smaller-id
    * in-batch target — the pair feed for [[incrementalClusters]]. Exactly
    * the candidate set [[incrementalAssignments]] scores (new-vs-corpus +
    * new-vs-new), before any keeper aggregation collapses it. */
  def incrementalEdges(newDocs: DataFrame, idCol: String, textCol: String,
                       index: DedupIndex,
                       n: Int = 3, k: Int = 64, bands: Int = 16,
                       threshold: Double = 0.5): DataFrame =
    incrementalScored(newDocs, idCol, index, threshold,
      d => signatures(d, idCol, textCol, n, k),
      s => lshBands(s, k, bands),
      (a, b) => graft.functions.VectorExprs.longArrayAgree(a, b)
        .cast("double") / k)._3
      .select(col("tgt").as("doc_a"), col("doc_id").as("doc_b"),
        col("est_jaccard")).distinct()

  /** [[incrementalEdges]] on the portable md5 hash (the q65 oracle feed —
    * every edge reproduces bit-for-bit in DuckDB). */
  def portableIncrementalEdges(newDocs: DataFrame, idCol: String,
                               textCol: String, index: DedupIndex,
                               n: Int = 1, k: Int = 32, bands: Int = 4,
                               threshold: Double = 0.6): DataFrame =
    incrementalScored(newDocs, idCol, index, threshold,
      d => portableSignatures(d, idCol, textCol, n, k),
      s => portableBands(s, k, bands),
      (a, b) => size(filter(zip_with(a, b, (x, y) => x === y), v => v))
        .cast("double") / k)._3
      .select(col("tgt").as("doc_a"), col("doc_id").as("doc_b"),
        col("est_jaccard")).distinct()

  /** [[emptyIndex]] for the portable hash family: string signatures and
    * md5 band hashes instead of xxhash64 longs. */
  def emptyPortableIndex(spark: org.apache.spark.sql.SparkSession): DedupIndex = {
    import org.apache.spark.sql.types._
    val sigSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", ArrayType(StringType))))
    val bandSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band_id", IntegerType), StructField("band_hash", StringType)))
    DedupIndex(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sigSchema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], bandSchema))
  }

  /** The hash-agnostic incremental step both variants share: candidate
    * generation (corpus bands at priority 0, in-batch smaller ids at 1),
    * signature-agreement estimate, first-seen keeper pick, keeper-only
    * index delta. `sigOf`/`bandsOf`/`estFrac` carry the hash family. */
  private def incrementalScored(newDocs: DataFrame, idCol: String,
                                index: DedupIndex, threshold: Double,
                                sigOf: DataFrame => DataFrame,
                                bandsOf: DataFrame => DataFrame,
                                estFrac: (Column, Column) => Column)
      : (DataFrame, DataFrame, DataFrame) = {
    // reused by two candidate joins, the estimate join, and the kept split
    val newSigs = sigOf(newDocs).localCheckpoint()
    val newBands = bandsOf(newSigs).localCheckpoint()

    def renamed(df: DataFrame) = df.select(col("doc_id").as("tgt"),
      col("band_id"), col("band_hash"))
    // corpus matches (priority 0: first-seen wins) + in-batch smaller ids.
    // tgt ≠ doc_id: under at-least-once redelivery the batch's own docs
    // are already IN the index, and a self-match (est = 1.0) would turn a
    // replay into degenerate self-edges/self-keepers
    val corpusCand = newBands.join(renamed(index.bands), Seq("band_id", "band_hash"))
      .filter(col("tgt") =!= col("doc_id"))
      .select(col("doc_id"), col("tgt"), lit(0).as("prio"))
    val batchCand = newBands.join(renamed(newBands), Seq("band_id", "band_hash"))
      .filter(col("tgt") < col("doc_id"))
      .select(col("doc_id"), col("tgt"), lit(1).as("prio"))
    val tgtSigs = index.signatures.unionByName(newSigs)
      .select(col("doc_id").as("tgt"), col("sig").as("sig_t"))

    val scored = corpusCand.unionByName(batchCand).distinct()
      .join(newSigs.select(col("doc_id"), col("sig")), Seq("doc_id"))
      .join(tgtSigs, Seq("tgt"))
      .select(col("doc_id"), col("tgt"), col("prio"),
        estFrac(col("sig"), col("sig_t")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    (newSigs, newBands, scored)
  }

  private def incrementalCore(newDocs: DataFrame, idCol: String,
                              index: DedupIndex, threshold: Double,
                              sigOf: DataFrame => DataFrame,
                              bandsOf: DataFrame => DataFrame,
                              estFrac: (Column, Column) => Column)
      : (DataFrame, DedupIndex) = {
    val (newSigs, newBands, scored) =
      incrementalScored(newDocs, idCol, index, threshold, sigOf, bandsOf, estFrac)

    val keepers = scored.groupBy(col("doc_id"))
      .agg(min(struct(col("prio"), col("tgt"))).as("best"),
        max(col("est_jaccard")).as("max_est_jaccard"))
      .select(col("doc_id"), col("best.tgt").as("cand"), col("max_est_jaccard"))
    val assignments = newDocs.select(col(idCol).as("doc_id"))
      .join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cand"), col("doc_id")).as("keeper_id"),
        col("max_est_jaccard"))

    val kept = assignments.filter(col("keeper_id") === col("doc_id"))
      .select(col("doc_id"))
    (assignments, DedupIndex(
      newSigs.join(kept, Seq("doc_id"), "left_semi"),
      newBands.join(kept, Seq("doc_id"), "left_semi")))
  }

  /** Cross-document boilerplate removal (the CCNet/RefinedWeb paragraph-
    * dedup step of a pretraining pipeline): segment each document into
    * non-overlapping `window`-token pieces, drop every segment whose
    * normalized text occurs in at least `minDocs` DISTINCT documents
    * (headers, footers, license blocks, navigation chrome), and rebuild
    * the document from the surviving segments in order.
    *
    * Semantics notes:
    *  - the frequency count is per-document (`countDistinct(doc_id)`), so
    *    a segment repeated many times WITHIN one document is kept — only
    *    cross-document repetition marks boilerplate;
    *  - every input document comes back out (a fully-boilerplate document
    *    yields `clean_text = ""`), so the operator composes with
    *    downstream curation without dropping corpus rows.
    *
    * Scale shape: the hot-segment aggregate shuffles the 64-bit xxhash of
    * each segment, never its text (the q09 narrow-shuffle treatment); the
    * anti-join against the hot set is an equi-join on that same hash; the
    * rebuild shuffles each document's surviving segments once. Cost is
    * O(total tokens), never quadratic in documents or segments.
    * Determinism: segmentation, the frequency cut, and the ordered rebuild
    * are all pure functions of the text, so the q69 oracle replays the
    * whole pipeline in DuckDB (grouping on the raw segment text — hash vs
    * text grouping only diverges on a 64-bit collision). */
  def removeRepeatedSegments(docs: DataFrame, idCol: String, textCol: String,
      window: Int, minDocs: Long): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    require(minDocs > 1, s"minDocs must exceed 1 (minDocs=1 empties every doc): $minDocs")
    val segs = segmentRows(docs, idCol, textCol, window)

    val hot = segs.groupBy(col("seg_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("seg_hash"))

    val kept = segs.join(hot, Seq("seg_hash"), "left_anti")
    rebuildFromKept(docs, idCol, segs, kept)
  }

  /** Shared segmentation for the segment-dedup family: one row per
    * non-overlapping `window`-token piece of each document —
    * (doc_id, seg_no, seg, seg_hash). A null/empty text yields no rows
    * (explode over a null sequence drops the document); callers that
    * promise row preservation must re-anchor on the input corpus. */
  private def segmentRows(docs: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("seg_no",
        explode(sequence(lit(0L),
          expr(s"(n_tok + ${window - 1}) DIV $window - 1"))))
      .select(col("doc_id"), col("seg_no"),
        array_join(slice(col("toks"),
          (col("seg_no") * window + 1).cast("int"), lit(window)), " ").as("seg"))
      .withColumn("seg_hash", xxhash64(col("seg")))

  /** Shared ordered rebuild: drop cut segments, restitch each document from
    * the survivors in `seg_no` order, and re-anchor on the ORIGINAL corpus
    * rows so null-text/fully-cut documents survive as ("", n, n) rows. */
  private def rebuildFromKept(docs: DataFrame, idCol: String,
      segs: DataFrame, kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_no"), col("seg")))),
          s => s.getField("seg"))).as("clean_text"),
        count(lit(1)).as("segs_kept"))
    // Anchor the rollup on the ORIGINAL corpus rows, not on `segs`: a
    // null-text document produces no segment rows (explode over a null
    // sequence drops it), and the previous segs-anchored rollup silently
    // removed such documents from the output — violating the "never drops
    // corpus rows" contract above. Null text now yields ("", 0, 0).
    docs.select(col(idCol).as("doc_id"))
      .join(segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs")),
        Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        (coalesce(col("n_segs"), lit(0L)) -
          coalesce(col("segs_kept"), lit(0L))).as("segs_removed"))
  }

  // ---------------------------------------------------------------------
  // Incremental segment dedup: the batch-by-batch twin of
  // [[removeRepeatedSegments]] (the r7 ask: persist (seg_hash, n_docs),
  // fold batches q62-style). The corpus's boilerplate knowledge is ONLY
  // its segment-frequency table — (seg_hash, n_docs distinct documents
  // ever seen containing that segment) — which is tiny relative to the
  // text (two longs per distinct segment). Each new batch probes the
  // index for ITS OWN segment hashes only (equi-join on a long; with the
  // index bucketed by seg_hash this is a pruned probe), cuts segments
  // whose CUMULATIVE document frequency (index + batch) reaches minDocs,
  // and emits an O(|batch segments|) count DELTA for the caller to fold
  // into the persisted index — the old corpus text is never rescanned and
  // the index is never rewritten wholesale.
  // ---------------------------------------------------------------------

  /** Empty segment-frequency index: (seg_hash LONG, n_docs LONG). */
  def emptySegmentIndex(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("seg_hash", LongType),
        StructField("n_docs", LongType))))
  }

  /** Sum-merge a batch delta into the persisted index. At scale this runs
    * as a partitioned upsert keyed on seg_hash (MergeSink/TxTable); the
    * union+re-aggregate form here is the reference semantics both share. */
  def foldSegmentIndex(index: DataFrame, delta: DataFrame): DataFrame =
    index.select(col("seg_hash"), col("n_docs"))
      .unionByName(delta.select(col("seg_hash"), col("n_docs")))
      .groupBy(col("seg_hash")).agg(sum(col("n_docs")).as("n_docs"))

  /** Dedup one new batch of documents against the corpus's persisted
    * segment-frequency index. Returns
    * (cleaned batch — same shape as [[removeRepeatedSegments]]:
    *  doc_id, clean_text, n_segs, segs_removed;
    *  index DELTA — this batch's (seg_hash, n_docs) increments, to be
    *  [[foldSegmentIndex]]-ed into the persisted index).
    *
    * Semantics:
    *  - counts come from the batch's RAW segments (not the cleaned
    *    output): boilerplate detection wants true document frequency, and
    *    a segment cut from this batch must still push later batches over
    *    the threshold;
    *  - a batch processed against the index of all earlier batches gets
    *    EXACTLY the cut a full [[removeRepeatedSegments]] over the whole
    *    corpus-so-far would give its documents (cumulative distinct-doc
    *    counts are identical) — so `emptySegmentIndex` + one whole-corpus
    *    batch reproduces the batch operator bit-for-bit;
    *  - earlier batches are NOT retroactively re-cut when a segment later
    *    turns hot — the usual one-pass incremental contract (same as the
    *    q62 MinHash fold);
    *  - doc_ids are assumed unique across batches (the ingestion
    *    contract); redelivered documents would double-count frequencies.
    *
    * Scale shape: the index probe is a broadcast-or-shuffle equi-join on
    * a single long restricted to the batch's distinct segment hashes; the
    * delta is O(|batch's distinct segments|); per-batch cost is O(batch
    * tokens) regardless of corpus size. */
  def incrementalSegmentDedup(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, window: Int, minDocs: Long): (DataFrame, DataFrame) = {
    require(window > 0, s"window must be positive: $window")
    require(minDocs > 1, s"minDocs must exceed 1 (minDocs=1 empties every doc): $minDocs")
    val segs = segmentRows(batch, idCol, textCol, window)

    val delta = segs.groupBy(col("seg_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    // Cumulative frequency for the batch's own segments only: probe the
    // index on the delta's hashes (left join — an absent segment has seen
    // 0 prior documents), never scan the index's full extent.
    val hot = delta
      .join(index.select(col("seg_hash"), col("n_docs").as("__idx_docs")),
        Seq("seg_hash"), "left")
      .filter(col("n_docs") + coalesce(col("__idx_docs"), lit(0L)) >= minDocs)
      .select(col("seg_hash"))

    val kept = segs.join(hot, Seq("seg_hash"), "left_anti")
    (rebuildFromKept(batch, idCol, segs, kept), delta)
  }

  /** Cross-source duplication matrix — corpus forensics for mixture
    * design: for every pair of sources, how many DISTINCT `window`-token
    * segments they share verbatim, plus each source's distinct-segment
    * universe and the pair's segment-set Jaccard. The C4/Dolma-style
    * overlap analysis ("how much of src_a is already in src_b") that
    * decides whether two feeds are worth ingesting separately, run
    * BEFORE committing to a mixture — a high-Jaccard pair means the
    * [[temperatureMixture]]/[[graft.ext.Sampling.epochMixture]] weights
    * double-count the same text.
    *
    * Scale shape: one distinct over (source, seg_hash) — the only
    * corpus-sized shuffle, and it moves a 64-bit hash + source key, never
    * text; per-segment source sets are bounded by the source count, and
    * the pair expansion is |sources-sharing-segment|² per segment.
    * `maxSources` fences the quadratic corner: a segment present in more
    * sources (universal chrome — "click here to subscribe" in every
    * feed) is EXCLUDED from pair counting, because such segments carry no
    * pairwise signal and would alone dominate the expansion. The
    * exclusion is part of the operator's contract (unit-tested), not a
    * silent cap; set it ≥ your source count to disable.
    *
    * Output: (src_a, src_b, shared_segments, n_segs_a, n_segs_b,
    * jaccard), one row per source pair that shares ≥1 segment, src_a <
    * src_b. Deterministic; the q80 oracle replays it text-grouped. */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, window: Int = 8, maxSources: Int = 64): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    require(maxSources >= 2, s"maxSources must be at least 2: $maxSources")
    val segs = docs
      .select(col(sourceCol).as("src"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("seg_no",
        explode(sequence(lit(0L),
          expr(s"(n_tok + ${window - 1}) DIV $window - 1"))))
      .select(col("src"),
        xxhash64(array_join(slice(col("toks"),
          (col("seg_no") * window + 1).cast("int"), lit(window)), " "))
          .as("seg_hash"))
    // Pin the (src, seg_hash) presence set: three consumers read it (the
    // pair matrix and both universe-count joins), and without the pin each
    // re-runs the corpus segmentation scan — 3 corpus scans instead of 1.
    val present = segs.distinct().localCheckpoint()
    val perSrc = present.groupBy(col("src"))
      .agg(count(lit(1)).as("n_segs"))
    val sorted = array_sort(collect_set(col("src")))
    val pairArr = flatten(transform(col("srcs"), a =>
      transform(filter(col("srcs"), b => b > a),
        b => struct(a.as("src_a"), b.as("src_b")))))
    val shared = present.groupBy(col("seg_hash"))
      .agg(sorted.as("srcs"))
      .filter(size(col("srcs")).between(2, maxSources))
      .select(explode(pairArr).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_segments"))
    shared
      .join(perSrc.select(col("src").as("src_a"), col("n_segs").as("n_segs_a")),
        Seq("src_a"))
      .join(perSrc.select(col("src").as("src_b"), col("n_segs").as("n_segs_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_segments"),
        col("n_segs_a"), col("n_segs_b"),
        (col("shared_segments").cast("double") /
          (col("n_segs_a") + col("n_segs_b") - col("shared_segments")))
          .as("jaccard"))
  }
}
