package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY §7.6).
  *
  * Baseline: brute-force cosine top-k — the small query set is broadcast, so
  * the corpus streams through one scan with no shuffle until the final
  * per-query top-k (a `TakeOrderedAndProject`-style window over k rows).
  *
  * Scale path: LSH-bucketed search (random hyperplane signs) — each vector
  * maps to a bucket id; candidates are joined within buckets only, cutting
  * the pair space from |corpus|×|queries| to per-bucket volumes. An IVF
  * (k-means coarse quantizer) drops in the same way once centroids exist.
  */
object SimSearch {

  /** dot(a, b) computed in double; float inputs widen exactly. Backed by the
    * custom [[graft.functions.VectorExprs.DotProduct]] expression — a
    * primitive loop, ~30× the throughput of aggregate(zip_with(...)) on
    * pairwise workloads. Fold order is left-to-right like the HOF form, so
    * oracle parity is unchanged. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Spread a corpus scan across the cores ONLY when it arrives with too
    * few input splits to keep them busy (a small parquet corpus is one
    * split, which would serialize a cross-join sweep or an ADC scan onto
    * one core). The previous unconditional `repartition(par)` paid a full
    * shuffle of the vector payloads PLUS the local sort every keyless
    * repartition runs (sortBeforeRepartition) even when the scan was
    * already thousands of well-sized splits — at 100 TB a pure waste the
    * guide says to remove outright (§2.4).
    *
    * The guard must cost nothing at plan time: an earlier attempt decided
    * from `df.rdd.getNumPartitions`, which physically plans the query and
    * builds its RDD per call — that replanning tax measurably slowed every
    * sub-second ANN path in whole-suite runs and was reverted. This form
    * only walks the already-analyzed logical plan and sums the file
    * relations' listed bytes (the file index is built, and its listing
    * cached, when the relation is created), dividing by the scan's split
    * size. No physical planning, no RDD. The floor division plus the 2×
    * margin keep it conservative: anything that is not clearly a wide
    * multi-split scan (tiny corpus, checkpointed RDD, in-memory relation →
    * estimate 0) repartitions exactly as before, so small-scale plans are
    * byte-identical to the unconditional form. Every consumer in this file
    * is partition-order independent by design (decimal-exact aggregates,
    * deterministic top-k tie-breaks, md5-ranked seeds re-sorted
    * driver-side), so skipping the shuffle cannot change a value. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val par = df.sparkSession.sparkContext.defaultParallelism
    val splitBytes = math.max(1L,
      org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes)
    val scanBytes = org.apache.spark.sql.graftbridge.GraftBridge.analyzed(df).collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.sizeInBytes
        case _ => 0L
      }
    }.sum
    if (scanBytes / splitBytes >= par * 2L) df else df.repartition(par)
  }

  /** Exact top-k per query as the bounded-heap AGGREGATE — the scale form
    * of the `row_number() OVER (PARTITION BY query_id ORDER BY sim DESC,
    * neighbor_id)` window every ANN variant ends with. The window shape is
    * few-queries-many-candidates, so at scale it funnels EVERY scored row
    * into one task per query and sorts it there (the measured super-linear
    * tail of the PQ family); the aggregate keeps a k-element heap per
    * (query, partition), so the shuffle carries ≤ k rows per partition per
    * query and nothing ever sorts more than k+1 elements. Ordering is
    * IDENTICAL to the window: (sim DESC, neighbor_id ASC) — numeric ids
    * ride BIAS-ENCODED (id + 2^63, zero-padded to 20 digits) so the
    * heap's string tie-order is numeric order over the FULL signed
    * range, negative ids included (a raw lpad would encode -5 as
    * '0…0-5', mis-ordering ties and decoding to NULL); string ids
    * compare lexicographically exactly as the window did. */
  private def topKPerQuery(scored: DataFrame, simCol: String,
                           k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = scored.schema("neighbor_id").dataType
    val numericId = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // 2^63 as an exact decimal: id + bias maps [-2^63, 2^63) onto
    // [0, 2^64) — 20 digits, order-preserving, losslessly reversible.
    val bias = lit(new java.math.BigDecimal("9223372036854775808"))
    val tie =
      if (numericId)
        lpad((col("neighbor_id").cast(DecimalType(20, 0)) + bias)
          .cast(DecimalType(20, 0)).cast("string"), 20, "0")
      else col("neighbor_id").cast("string")
    val decoded =
      if (numericId)
        (col("tie").cast(DecimalType(21, 0)) - bias).cast(idType)
      else col("tie").cast(idType)
    graft.functions.SketchAggs
      .topkRows(scored, Seq(col("query_id")), col(simCol), tie, k)
      .select(col("query_id"), decoded.as("neighbor_id"),
        col("val").as(simCol), col("rnk").cast("int").as("rank"))
  }

  /** Brute-force top-k neighbors for each query vector. `queries` should be
    * small (it is broadcast); `corpus` can be arbitrarily large. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("sim"))
    topKPerQuery(sims, "sim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("sim_r6"))
  }

  /** Embedding-cosine near-duplicate pairs: every (a < b) pair above the
    * similarity threshold. Brute force — O(n²) pairs — which is the exact
    * baseline; at corpus scale the same thresholding runs over [[lshTopK]]
    * buckets instead so the pair space stays per-bucket. */
  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    // the stream side of a broadcast nested-loop join keeps its input
    // partitioning — see [[spread]]: a one-partition corpus would
    // serialize the O(n²) sweep onto one core
    val a = spread(corpus.select(col(idCol).as("id_a"), col(vecCol).as("va")))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Semantic dedup assignments (the SemDeDup idea — Abbas et al. 2023,
    * arXiv:2303.09540 — reduced to its deterministic core): every vector
    * maps to its smallest-id cosine-neighbor at or above `threshold` as
    * keeper; vectors with no neighbor keep themselves. One row per input
    * vector — the artifact an embedding-dedup pipeline materializes,
    * mirroring [[graft.ext.Dedup.minhashDedupAssignments]] for text.
    * Composes [[cosineNearDups]], so this is the exact baseline; at corpus
    * scale restrict the pair space to [[lshBucket]] buckets or IVF cells
    * first (same composition, per-bucket pairs). */
  def semanticDedupAssignments(corpus: DataFrame, idCol: String,
                               vecCol: String, threshold: Double): DataFrame = {
    val pairs = cosineNearDups(corpus, idCol, vecCol, threshold)
    val keepers = pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("cand"),
        round(max(col("sim")), 6).as("max_sim_r6"))
    corpus.select(col(idCol).as("vec_id")).join(keepers, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cand"), col("vec_id")).as("keeper_id"),
        col("max_sim_r6"))
  }

  /** [[semanticDedupAssignments]] at corpus scale: banded multi-table LSH —
    * `tables` independent tables of `planesPerTable` hyperplane sign bits;
    * vectors are candidates if ANY table agrees (the MinHash banding curve:
    * P(collide) = 1-(1-p^r)^L with p = 1-θ/π per plane), so the cosine
    * sweep is per-bucket quadratic instead of corpus-quadratic. A single
    * wide bucket only catches near-identical vectors; banding is what makes
    * moderate thresholds (0.4-0.7) reachable. Recall is probabilistic and
    * deterministic per (seed, corpus) — tune r/L against the threshold.
    * Keeper semantics match the exact form.
    *
    * Skew guard: band-slice ids are only `planesPerTable` bits, so a
    * natural-data cluster that collapses into one (t, tb) slice makes that
    * slice's candidate self-join quadratic IN ONE TASK. `hotSliceBound` > 0
    * routes slices whose occupancy exceeds the bound through the
    * [[graft.ops.Skew.saltedJoin]] replicated-build treatment — the
    * candidate PAIR SET is bit-identical (recall unchanged), only the
    * per-task work is bounded at occupancy²/saltFactor. 0 disables (exact
    * plan parity with the oracle-pinned q60 profile); production corpora
    * should set it near `4 × targetOccupancy`. Monitor with
    * [[bandSliceOccupancy]]. */
  def semanticDedupAssignmentsBucketed(corpus: DataFrame, idCol: String,
                                       vecCol: String, threshold: Double,
                                       tables: Int, planesPerTable: Int,
                                       dim: Int,
                                       hotSliceBound: Int = 0,
                                       saltFactor: Int = 8): DataFrame = {
    val nPlanes = tables * planesPerTable
    require(nPlanes <= 63, s"tables*planesPerTable must fit a long: $nPlanes")
    val bucketed = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), nPlanes, dim).as("b")).localCheckpoint()
    // one (table, bucket-slice) row per table; rows carry only (key, id) —
    // the vector joins back after the pair set is distinct
    val probes = sliceProbes(bucketed, "b", "vec_id", tables, planesPerTable)
    val cand = sliceJoinSkewGuarded(probes,
        probes.select(col("vec_id").as("id_b"), col("t"), col("tb")),
        hotSliceBound, saltFactor)
      .filter(col("vec_id") < col("id_b"))
      .select(col("vec_id").as("id_a"), col("id_b")).distinct()
    val pairs = cand
      .join(bucketed.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(bucketed.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
    val keepers = pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("cand"),
        round(max(col("sim")), 6).as("max_sim_r6"))
    corpus.select(col(idCol).as("vec_id")).join(keepers, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cand"), col("vec_id")).as("keeper_id"),
        col("max_sim_r6"))
  }

  /** Band-slice probe rows (id, t, tb) from a frame carrying a packed
    * bucket long: one row per table, each keyed by that table's
    * `planesPerTable`-bit slice. Narrow by construction — candidates join
    * on (t, tb) and the vectors come back only after the pair set is
    * distinct. */
  private def sliceProbes(df: DataFrame, bucketCol: String, idAs: String,
                          tables: Int, planesPerTable: Int,
                          idCol: String = "vec_id"): DataFrame = {
    val mask = (1L << planesPerTable) - 1
    df.select(col(idCol).as(idAs),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          shiftright(col(bucketCol), t * planesPerTable).bitwiseAND(lit(mask))
            .as("tb"))): _*)).as("k"))
      .select(col(idAs), col("k.t"), col("k.tb"))
  }

  /** Equi-join on the (t, tb) band-slice key with the [[graft.ops.Skew]]
    * replicated-build treatment applied ONLY to slices whose right-side
    * occupancy exceeds `hotSliceBound` (0 disables, plain join). The output
    * row set is identical either way — salting redistributes a hot slice's
    * quadratic work across `saltFactor` tasks, it never drops candidates. */
  private def sliceJoinSkewGuarded(left: DataFrame, right: DataFrame,
                                   hotSliceBound: Int,
                                   saltFactor: Int): DataFrame =
    if (hotSliceBound <= 0) left.join(right, Seq("t", "tb"))
    else {
      val hot = right.groupBy(col("t"), col("tb"))
        .agg(count(lit(1)).as("__occ"))
        .filter(col("__occ") > hotSliceBound)
        .select(col("t"), col("tb")).localCheckpoint() // tiny; read 3×
      val coldJoin = left.join(hot, Seq("t", "tb"), "left_anti")
        .join(right, Seq("t", "tb"))
      val hotJoin = graft.ops.Skew.saltedJoin(
        left.join(hot, Seq("t", "tb"), "left_semi"),
        right.join(hot, Seq("t", "tb"), "left_semi"),
        Seq("t", "tb"), saltFactor)
      coldJoin.unionByName(hotJoin)
    }

  /** Per-slice occupancy of the banded LSH layout — the monitor an operator
    * runs before/alongside [[semanticDedupAssignmentsBucketed]] at scale:
    * any (t, tb) whose `n_vectors` dwarfs the target occupancy is a
    * quadratic-sweep cliff (set `hotSliceBound` accordingly, or revisit
    * the [[semDedupParamsFor]] inputs). */
  def bandSliceOccupancy(corpus: DataFrame, idCol: String, vecCol: String,
                         tables: Int, planesPerTable: Int,
                         dim: Int): DataFrame = {
    val nPlanes = tables * planesPerTable
    require(nPlanes <= 63, s"tables*planesPerTable must fit a long: $nPlanes")
    val bucketed = corpus.select(col(idCol).as("vec_id"),
      lshBucket(col(vecCol), nPlanes, dim).as("b"))
    sliceProbes(bucketed, "b", "vec_id", tables, planesPerTable)
      .groupBy(col("t"), col("tb"))
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** Similarity preservation under prefix truncation (the
    * matryoshka-style question: how much cheaper can the embedding width
    * get before neighbor similarities drift?). For each near-dup pair at
    * the full dimension, recompute the cosine at each prefix width — the
    * per-pair table you read before committing a corpus to a narrower
    * stored embedding. Composes [[cosineNearDups]]' exact pair set (the
    * oracle baseline); at corpus scale feed banded-LSH candidate pairs
    * through the same projection instead. Narrow per-pair math — no
    * additional shuffle beyond the pair set itself. */
  def truncationProfile(corpus: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0))
    val pairs = cosineNearDups(corpus, idCol, vecCol, threshold)
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    val truncCols = dims.map { d =>
      round(cosine(slice(col("va"), 1, d), slice(col("vb"), 1, d)), 6)
        .as(s"cos_d${d}_r6")
    }
    pairs.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(Seq(col("id_a"), col("id_b"),
        round(col("sim"), 6).as("cos_full_r6")) ++ truncCols: _*)
  }

  /** Choose (tables, planesPerTable) for a corpus size — the executable
    * form of "tune the planes up with log n". Planes per table r is set so
    * expected bucket occupancy n/2^r stays near `targetOccupancy` (bucket
    * sweeps are quadratic in occupancy, so occupancy — not corpus size —
    * is what must stay constant as data grows); the table count L is then
    * the smallest satisfying the banding recall bound
    * 1 − (1 − p^r)^L ≥ `minRecall` with per-plane collision probability
    * p = 1 − arccos(θ)/π (random-hyperplane LSH). If r·L would overflow
    * the packed 63-bit bucket, r backs off (more occupancy, cheaper
    * tables) until it fits — at loose thresholds (θ≈0.4, recall 0.95) the
    * one-long budget binds and r caps at the largest fitting value, so
    * occupancy grows with n past that point (lift it with multiple bucket
    * words if that ever dominates); at θ≥0.6 the log-n scaling fits. At
    * sf0.01 (n=500, θ=0.4) the solver yields r=3, L=11; the DEPLOYED
    * q60/q61 oracle profile is the same shape rounded up to L=12 tables
    * for extra recall margin (the pinned hyperplane literals predate the
    * solver) — [[semanticDedupAssignmentsBucketedSolved]] uses the
    * solver's own (11, 3). */
  def semDedupParamsFor(corpusSize: Long, threshold: Double,
                        targetOccupancy: Int = 64,
                        minRecall: Double = 0.95): (Int, Int) = {
    require(corpusSize > 0 && threshold > 0 && threshold < 1)
    require(minRecall > 0 && minRecall < 1)
    val p = 1.0 - math.acos(threshold) / math.Pi
    def tablesFor(r: Int): Int = {
      val pr = math.pow(p, r)
      if (pr >= 1.0) 1
      else math.ceil(math.log1p(-minRecall) / math.log1p(-pr)).toInt.max(1)
    }
    var r = math.max(1, math.ceil(
      math.log(corpusSize.toDouble / targetOccupancy) / math.log(2)).toInt)
    while (r > 1 && r * tablesFor(r) > 63) r -= 1
    val l = tablesFor(r)
    require(r * l <= 63,
      s"no (tables=$l, planes=$r) fits 63 bits for threshold=$threshold, " +
        s"minRecall=$minRecall — lower minRecall or raise targetOccupancy")
    (l, r)
  }

  /** [[semanticDedupAssignmentsBucketed]] with (tables, planesPerTable)
    * derived from the corpus size by [[semDedupParamsFor]] — the solver
    * actually driving the operator, so "planes grow with log n" is wired,
    * not just solvable. Costs one `count()` of the corpus (cheap against
    * the banded sweep it parameterizes); callers that already know the
    * size should call the explicit form. Returns the assignments plus the
    * solved (tables, planesPerTable) so downstream incremental batches can
    * reuse the EXACT packing (a [[SemIndex]]'s packed buckets are only
    * probe-compatible under the params that built them). */
  def semanticDedupAssignmentsBucketedSolved(corpus: DataFrame, idCol: String,
                                             vecCol: String, threshold: Double,
                                             dim: Int,
                                             targetOccupancy: Int = 64,
                                             minRecall: Double = 0.95,
                                             hotSliceBound: Int = 0,
                                             saltFactor: Int = 8)
      : (DataFrame, (Int, Int)) = {
    val (l, r) = semDedupParamsFor(math.max(corpus.count(), 1L), threshold,
      targetOccupancy, minRecall)
    (semanticDedupAssignmentsBucketed(corpus, idCol, vecCol, threshold,
      l, r, dim, hotSliceBound, saltFactor), (l, r))
  }

  // ---------------------------------------------------------------------
  // Incremental semantic dedup vs a persisted bucket index — the embedding
  // analog of Dedup.incrementalAssignments. At 100 TB a streaming corpus
  // must dedup each new embedding batch WITHOUT rescanning the corpus: the
  // corpus is represented by one index row per KEPT vector (id, vector,
  // packed bucket id — tiny relative to raw data), and a batch probes only
  // the band slices it shares with the index. Cost per batch:
  // O(|batch| × tables) probe rows plus per-slice candidate joins.
  // ---------------------------------------------------------------------

  /** The persisted dedup state: one row per kept vector
    * (`vec_id, v, bucket`). Append the returned DELTA after each batch;
    * when persisting through `MergeSink.appendDedup`, key on `vec_id`
    * (unlike the text index there is no multi-row band table — band slices
    * recompute from the packed `bucket` long at probe time). */
  final case class SemIndex(entries: DataFrame)

  def emptySemIndex(spark: org.apache.spark.sql.SparkSession): SemIndex = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(FloatType)),
      StructField("bucket", LongType)))
    SemIndex(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** Index an initial corpus: dedup it first, index ONLY the kept
    * representatives (indexing dropped near-dups would hand later batches
    * ghost keepers — same rule as `Dedup.buildIndex`). Exactly one step of
    * the incremental fold from an empty index. */
  def buildSemIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, tables: Int, planesPerTable: Int,
                    dim: Int): SemIndex =
    incrementalSemanticAssignments(corpus, idCol, vecCol,
      emptySemIndex(corpus.sparkSession), threshold, tables, planesPerTable,
      dim)._2

  /** Dedup one new embedding batch against the corpus index. Returns the
    * per-vector assignments (`vec_id, keeper_id, max_sim_r6`) and the index
    * DELTA (the kept vectors' rows only — append it, it is not the
    * accumulated index).
    *
    * Keeper preference is first-seen, mirroring
    * [[graft.ext.Dedup.incrementalAssignments]]: a corpus match always
    * wins over an in-batch match, in-batch matches fall back to the
    * smallest id — so with an empty index this degenerates to exactly
    * [[semanticDedupAssignmentsBucketed]]. Chained duplicates keep batch
    * semantics: a vector's keeper may itself be assigned elsewhere. */
  def incrementalSemanticAssignments(batch: DataFrame, idCol: String,
                                     vecCol: String, index: SemIndex,
                                     threshold: Double, tables: Int,
                                     planesPerTable: Int, dim: Int,
                                     hotSliceBound: Int = 0,
                                     saltFactor: Int = 8)
      : (DataFrame, SemIndex) = {
    val nPlanes = tables * planesPerTable
    require(nPlanes <= 63, s"tables*planesPerTable must fit a long: $nPlanes")
    val b = batch.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), nPlanes, dim).as("bucket")).localCheckpoint()

    def probesOf(df: DataFrame, idAs: String): DataFrame =
      sliceProbes(df, "bucket", idAs, tables, planesPerTable)

    val newProbes = probesOf(b, "vec_id")
    // corpus matches (priority 0: first-seen wins) + in-batch smaller ids;
    // both joins carry the same hot-slice skew guard as the batch path (a
    // corpus cluster that collapses into one index slice would otherwise
    // make every future batch's probe join a one-task quadratic)
    val corpusCand = sliceJoinSkewGuarded(newProbes,
        probesOf(index.entries, "tgt"), hotSliceBound, saltFactor)
      // tgt ≠ vec_id: a redelivered batch already lives in the index; a
      // self-match (sim = 1.0) must not shadow the true first-seen keeper
      .filter(col("tgt") =!= col("vec_id"))
      .select(col("vec_id"), col("tgt"), lit(0).as("prio"))
    val batchCand = sliceJoinSkewGuarded(newProbes, probesOf(b, "tgt"),
        hotSliceBound, saltFactor)
      .filter(col("tgt") < col("vec_id"))
      .select(col("vec_id"), col("tgt"), lit(1).as("prio"))
    val tgtVecs = index.entries.select(col("vec_id").as("tgt"), col("v").as("vt"))
      .unionByName(b.select(col("vec_id").as("tgt"), col("v").as("vt")))

    val scored = corpusCand.unionByName(batchCand).distinct()
      .join(b.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(tgtVecs, Seq("tgt"))
      .select(col("vec_id"), col("tgt"), col("prio"),
        cosine(col("v"), col("vt")).as("sim"))
      .filter(col("sim") >= threshold)

    val keepers = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("prio"), col("tgt"))).as("best"),
        round(max(col("sim")), 6).as("max_sim_r6"))
      .select(col("vec_id"), col("best.tgt").as("cand"), col("max_sim_r6"))
    val assignments = batch.select(col(idCol).as("vec_id"))
      .join(keepers, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cand"), col("vec_id")).as("keeper_id"),
        col("max_sim_r6"))

    val kept = assignments.filter(col("keeper_id") === col("vec_id"))
      .select(col("vec_id"))
    (assignments, SemIndex(b.join(kept, Seq("vec_id"), "left_semi")))
  }

  /** The ±1 Rademacher hyperplanes behind [[lshBucket]], exposed so the
    * DuckDB oracle can be built from the SAME sign pattern (q18 is
    * value-checked end-to-end: identical literals + identical double
    * arithmetic ⇒ identical buckets, candidates, and ranking). */
  def hyperplaneSigns(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      val rnd = new java.util.Random(0x5EED0000L + p)
      Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  /** Random-hyperplane LSH bucket id: sign bits of dot(v, h_i) packed into a
    * long. Hyperplanes are derived deterministically from a fixed seed so
    * driver and executors agree without shipping state. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column = {
    // h_p = ±1 Rademacher hyperplane, materialized at plan-build time from a
    // fixed seed into a literal array — the sign pattern is constant per
    // (plane, dim), so driver and executors agree with no state shipped, and
    // the projection is one primitive-loop dot per plane instead of an
    // interpreted per-element fold. Planes unroll for literal bit shifts.
    hyperplaneSigns(nPlanes, dim).zipWithIndex.map { case (signs, p) =>
      val s = graft.functions.VectorExprs.dotProduct(vec, typedlit(signs))
      when(s >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer assigns each corpus
    * vector to its nearest centroid cell; queries probe only the `nProbe`
    * nearest cells. Centroids are seeded deterministically from the corpus
    * (hash-ranked sample) and refined with `lloydIters` assign-average
    * rounds — all DataFrame ops, centroids broadcast, corpus touched
    * linearly per iteration. The scale profile: cell assignment is a narrow
    * map; the probe join fans each query to nProbe cells instead of the
    * whole corpus. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
              lloydIters: Int = 2): DataFrame = {
    val c = spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))

    // deterministic seed centroids: top-nCells vectors ranked by a PORTABLE
    // hash of the id (md5 hex orders lexicographically the same in any
    // engine) — with lloydIters=0 this makes the whole quantizer, and thus
    // the q28 result set, reproducible by the DuckDB oracle. Cell ids are
    // assigned DRIVER-side after the collect (sort on the hash again, then
    // index): monotonically_increasing_id after orderBy+limit only happens
    // to be rank-ordered under today's physical plan, and the oracle's
    // row_number ids must match unconditionally.
    var centroids = c
      .withColumn("__r", md5(concat(lit("seed|"), col("neighbor_id").cast("string"))))
      .orderBy(col("__r")).limit(nCells)
      .select(col("__r"), col("c_vec"))
      .collect()
      .sortBy(_.getString(0))
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](1)) }

    def nearestCell(v: Column): Column =
      // argmax over broadcast centroid literals — one codegen'd primitive
      // loop per row ([[graft.functions.VectorExprs.NearestCentroid]]:
      // exact cosine, greatest-of-structs tie rule), replacing the nCells
      // struct allocations the unrolled form paid per corpus row
      graft.functions.VectorExprs.nearestCentroid(v,
        centroids.map(_._1),
        centroids.map(_._2.map(_.toDouble).toArray))

    var iter = 0
    while (iter < lloydIters) {
      // assign + average: one linear pass, map-side partial aggregation
      val dim = centroids.head._2.length
      val assigned = c.withColumn("cell_id", nearestCell(col("c_vec")))
      // decimal-exact element sums: double accumulation is order-dependent
      // across partitions, which would make centroids (and every downstream
      // result) vary run to run
      val sums = assigned
        .groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col("c_vec"), i + 1).cast("decimal(27,10)"))
              .cast("double")): _*).as("vsum"))
        .collect()
      centroids = sums.map { r =>
        val n = r.getLong(1).toDouble
        (r.getLong(0), r.getSeq[Double](2).map(x => (x / n).toFloat))
      }
      iter += 1
    }

    val assigned = c.withColumn("cell_id", nearestCell(col("c_vec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // probe the nProbe nearest cells per query
    val probeCells = q.select(col("query_id"), col("q_vec"),
      explode(slice(array_sort(array(centroids.map { case (id, ctr) =>
        struct((-cosine(col("q_vec"), typedlit(ctr))).as("negs"), lit(id).as("id"))
      }: _*)), 1, nProbe).getField("id")).as("cell_id"))
    val sims = assigned.join(broadcast(probeCells), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("sim"))
    topKPerQuery(sims, "sim", k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): split the dim-D space into `m`
    * subspaces, quantize each subvector against its own `nCodes`-entry
    * codebook, and store each corpus vector as m small codes — 64-dim
    * float32 (256 B) compresses to m=4 bytes, so a 100 TB embedding store
    * scans as ~1.6 TB of codes, the whole point of PQ: the ADC
    * (asymmetric-distance) pass reads codes only, never the raw floats.
    * Vectors are L2-normalized first; encode quantizes by per-subspace
    * L2, and the ADC pass ranks by the cosine of the reconstruction.
    *
    * Deterministic by the q28 technique: codebook j = the j-th subvector
    * slice of the md5-ranked seed vectors (no Lloyd iterations), so
    * encode, ADC, and the final ranking replay exactly in the DuckDB
    * oracle. Tie-breaks: encode argmin by (dist ASC, code ASC) via
    * array_sort of (dist, code) structs; ranking by (adist ASC,
    * neighbor_id ASC).
    *
    * At 100 TB: the codes table is the ONLY per-corpus-row state the scan
    * touches (narrow: id + m bytes); queries broadcast; no shuffle until
    * the per-query top-k window. [[ivfPqTopK]] is the composed sublinear
    * variant (probed IVF cells bound the candidates, codes bound the
    * bytes). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 4, nCodes: Int = 16,
             dim: Int = 64, lloydIters: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val c = spread(pqNormalized(corpus, idCol, vecCol, "neighbor_id", "v"))
      .localCheckpoint() // codebook refinement re-reads it per iteration
    val codebooks = pqCodebooks(c, m, sub, nCodes, lloydIters)
    val codes = c.select(col("neighbor_id"), pqCodesCol(m, sub, codebooks))
    val q = pqNormalized(queries, idCol, vecCol, "query_id", "q_vec")
    pqRank(codes.crossJoin(broadcast(q)), m, sub, codebooks, k)
  }

  /** IVF-PQ — the two quantizers composed, each doing its own job: the
    * coarse IVF quantizer limits WHICH codes each query scans (the
    * `nProbe` nearest of `nCells` cells, exactly [[ivfTopK]]'s probe
    * logic), and the product quantizer shrinks WHAT the scan reads (m
    * codes per row). At 100 TB this is the standard billion-scale ANN
    * layout: candidate volume sublinear via cells, bytes-per-candidate
    * constant via codes, the scan join a broadcast equi-join on cell_id —
    * never a full cross product. Same deterministic seeding as
    * q28/q67 ("seed|" centroids, "pqseed|" codebooks, both over the
    * normalized corpus), so the whole pipeline replays in the oracle. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 4, nCodes: Int = 16, dim: Int = 64,
                lloydIters: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val c = spread(pqNormalized(corpus, idCol, vecCol, "neighbor_id", "v"))
      .localCheckpoint() // read by centroid seed, codebooks, and codes scan

    // coarse quantizer: md5-ranked seed centroids over the SAME normalized
    // vectors; assignment/probe tiebreaks exactly as ivfTopK (cos DESC +
    // cell DESC via greatest-of-structs; cos DESC + cell ASC via
    // array_sort of (-cos, id))
    val centroids: Array[(Long, Seq[Double])] = c
      .withColumn("__r", md5(concat(lit("seed|"), col("neighbor_id").cast("string"))))
      .orderBy(col("__r")).limit(nCells)
      .select(col("__r"), col("v")).collect()
      .sortBy(_.getString(0)).zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
    def nearestCell(v: Column): Column =
      // same codegen'd coarse assignment as ivfTopK (exact cosine,
      // greatest-of-structs tie rule), normalized-double centroids
      graft.functions.VectorExprs.nearestCentroid(v,
        centroids.map(_._1),
        centroids.map(_._2.toArray))

    val codebooks = pqCodebooks(c, m, sub, nCodes, lloydIters)
    val codes = c.select(col("neighbor_id"),
      nearestCell(col("v")).as("cell_id"), pqCodesCol(m, sub, codebooks))

    val q = pqNormalized(queries, idCol, vecCol, "query_id", "q_vec")
    val probeCells = q.select(col("query_id"), col("q_vec"),
      explode(slice(array_sort(array(centroids.map { case (id, ctr) =>
        struct((-cosine(col("q_vec"), typedlit(ctr))).as("negs"), lit(id).as("id"))
      }: _*)), 1, nProbe).getField("id")).as("cell_id"))
    pqRank(codes.join(broadcast(probeCells), Seq("cell_id")), m, sub, codebooks, k)
  }

  /** Cast to double and L2-normalize (per-row norm computed once). */
  private def pqNormalized(df: DataFrame, idCol: String, vecCol: String,
                           idAs: String, vAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
        transform(col(vecCol), x => x.cast("double")).as("__v0"))
      .withColumn("__n", l2Norm(col("__v0")))
      .select(col(idAs), transform(col("__v0"), x => x / col("__n")).as(vAs))

  /** Codebook j = the j-th `sub`-wide slice of the "pqseed|" md5-ranked
    * seed vectors (the q28 determinism technique), optionally refined with
    * `lloydIters` per-subspace k-means rounds. Each round is one linear
    * corpus pass: encode every subvector under the current books (the SAME
    * argmin expression the final encode uses), then per-(subspace, code)
    * decimal-exact element sums — order-independent, so the refined books
    * are deterministic AND replayable by a DuckDB oracle (sum exact
    * decimals, divide in double). Codes that attract no vectors keep their
    * previous centroid. The collect is m×nCodes rows — O(codebook), never
    * O(corpus). The guarantee is the k-means one — [[pqTrainingError]] is
    * non-increasing in `lloydIters` (test-pinned); ADC *recall* is corpus-
    * dependent (measured on the test corpus: 0.26 → 0.36 recall@5 at m=16,
    * 0.06 → 0.16 at m=4, two rounds), which is why
    * [[pqTopK]]/[[ivfPqTopK]] expose the knob. */
  private def pqCodebooks(cn: DataFrame, m: Int, sub: Int, nCodes: Int,
                          lloydIters: Int): Array[Array[Seq[Double]]] = {
    val seeds: Array[Seq[Double]] = cn
      .withColumn("__r", md5(concat(lit("pqseed|"), col("neighbor_id").cast("string"))))
      .orderBy(col("__r")).limit(nCodes)
      .select(col("__r"), col("v")).collect()
      .sortBy(_.getString(0))
      .map(_.getSeq[Double](1))
    var cbs = Array.tabulate(m)(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
    var iter = 0
    while (iter < lloydIters) {
      val assigned = cn.select(col("v"), pqCodesCol(m, sub, cbs))
        .select(explode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            element_at(col("codes"), j + 1).as("code"),
            slice(col("v"), j * sub + 1, sub).as("sv"))): _*)).as("s"))
        .select(col("s.j").as("j"), col("s.code").as("code"), col("s.sv").as("sv"))
      val sums = assigned.groupBy(col("j"), col("code"))
        .agg(count(lit(1)).as("n"),
          array((0 until sub).map(i =>
            sum(element_at(col("sv"), i + 1).cast("decimal(27,10)"))
              .cast("double")): _*).as("vsum"))
        .collect()
      val next = cbs.map(_.clone())
      sums.foreach { r =>
        val n = r.getLong(2).toDouble
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](3).map(_ / n)
      }
      cbs = next
      iter += 1
    }
    cbs
  }

  /** Mean PQ training objective — Σ_j ||v_j − cb_j[code_j]||² averaged over
    * the corpus — for a codebook trained with `lloydIters` refinement
    * rounds. The k-means invariant (each assign+average round never raises
    * this objective) is the guarantee refinement rests on, so expose it as
    * the tuning observable: ADC *recall* is corpus-dependent and can wobble
    * per config, but this number must be non-increasing in `lloydIters`
    * (ExtensionsSpec pins it). Decimal-exact mean, so the observable is
    * partition-order independent like every other exposed number. One
    * narrow aggregate per call — no shuffle. */
  def pqTrainingError(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int = 4, nCodes: Int = 16, dim: Int = 64,
                      lloydIters: Int = 0): Double = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val c = pqNormalized(corpus, idCol, vecCol, "neighbor_id", "v").localCheckpoint()
    val cbs = pqCodebooks(c, m, sub, nCodes, lloydIters)
    def codeVec(j: Int): Column = element_at(typedlit(cbs(j).toSeq),
      element_at(col("codes"), j + 1) + 1)
    val err = (0 until m).map { j =>
      val vj = slice(col("v"), j * sub + 1, sub)
      dot(vj, vj) - lit(2.0) * dot(vj, codeVec(j)) + dot(codeVec(j), codeVec(j))
    }.reduce(_ + _)
    c.select(col("v"), pqCodesCol(m, sub, cbs))
      .agg(graft.functions.SafeCasts.decimalAvg(err, 12)).head().getDouble(0)
  }

  /** Encode `v` as m codes: per subspace, argmin_c ||v_j − cb[j][c]||²
    * computed as the SAME ||a||²−2a·b+||b||² expansion the oracle uses
    * (bit-identical floats — left-to-right accumulation, ties to the
    * lowest code). One custom codegen'd expression
    * ([[graft.functions.VectorExprs.PqEncode]]) instead of an array_sort
    * over nCodes structs per subspace per row — the encode was the
    * measured super-linear tail of the PQ family at 8×. */
  private def pqCodesCol(m: Int, sub: Int,
                         codebooks: Array[Array[Seq[Double]]]): Column =
    graft.functions.VectorExprs.pqEncode(col("v"),
      codebooks.map(_.map(_.toArray))).as("codes")

  /** ADC + top-k over joined (codes × query) rows: the similarity estimate
    * is the cosine of the RECONSTRUCTION, cos(q, recon) = Σ_j q_j·cb_j /
    * sqrt(Σ_j ||cb_j||²) (q is unit) — a materially better estimator of
    * the true cosine ranking than ||q − recon||², which also charges the
    * reconstruction's norm error. Both j-sums accumulate left-to-right
    * (the oracle's ordered SUM matches). */
  private def pqRank(joined: DataFrame, m: Int, sub: Int,
                     codebooks: Array[Array[Seq[Double]]], k: Int): DataFrame = {
    def codeVec(j: Int): Column = element_at(typedlit(codebooks(j).toSeq),
      element_at(col("codes"), j + 1) + 1)
    val num = (0 until m).map { j =>
      dot(slice(col("q_vec"), j * sub + 1, sub), codeVec(j))
    }.reduce(_ + _)
    val den = sqrt((0 until m).map(j => dot(codeVec(j), codeVec(j))).reduce(_ + _))
    val scored = joined
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (num / den).as("asim"))
    topKPerQuery(scored, "asim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("asim"), 6).as("asim_r6"))
  }

  /** Int8 scalar-quantization error profile per vector — the storage-
    * compression step of a large embedding store (4× smaller than float32),
    * validated by its reconstruction error. Single-pass formulation: the
    * whole profile (scale, max error, decimal-exact mean error) folds over
    * each vector's array in place — no explode, no dim× row inflation, no
    * per-vector shuffle join back to its own max. The rounding is explicit
    * floor(x+0.5) so any engine reproduces the quantized values bit-for-bit
    * (no round-half-mode ambiguity), and the mean goes through
    * [[graft.functions.SafeCasts.decimalSumArr]] — the same per-term decimal
    * cast the old exploded aggregate used, so results are bit-identical. */
  def quantizationError(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("errs", expr(
        "transform(v, x -> abs(x - floor(x * 127.0D / mx + 0.5D) * mx / 127.0D))"))
      .select(col("vec_id"), round(col("mx") / 127.0, 6).as("scale_r6"),
        round(expr("array_max(errs)"), 6).as("max_abs_err_r6"),
        round(graft.functions.SafeCasts.decimalSumArr(col("errs"), 12)
          / size(col("v")), 6).as("mean_abs_err_r6"))
  }

  /** Per-label centroid cohesion — the embedding-quality eval of a labeled
    * corpus: element-wise label centroids, then each vector's cosine to its
    * own label's prototype, averaged per label. Output:
    * (label, n_vecs, mean_cos_r6).
    *
    * Plan shape (the one that survives 100×): the centroid mean is the only
    * exploded aggregate (dim× rows collapse immediately); centroids then
    * reassemble into per-label ARRAYS — O(labels) rows — broadcast to the
    * corpus, and the per-vector dot/norms run as narrow single-pass array
    * folds ([[graft.functions.SafeCasts.decimalSumArr]], so every sum is
    * decimal-exact and cross-engine reproducible). No dim× shuffle join. */
  def labelCohesion(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    import graft.functions.SafeCasts.{decimalAvg, decimalSum, decimalSumArr}
    val emb = corpus.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val cent = emb
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(decimalAvg(col("x"), 12).as("c"))
    val centArr = cent.groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), t -> t.c)")
        .as("carr"))
      // per-label centroid norm: computed once per label, not once per vector
      .withColumn("nc", decimalSumArr(expr("transform(carr, c -> c * c)"), 12))
    val per = emb.join(broadcast(centArr), Seq("label"))
      .select(col("vec_id"), col("label"),
        decimalSumArr(expr("zip_with(v, carr, (x, c) -> x * c)"), 12).as("dot"),
        decimalSumArr(expr("transform(v, x -> x * x)"), 12).as("nx"),
        col("nc"))
    // zero-norm guard: Spark's 0/0 is NULL while DuckDB's NaN aborts the
    // decimal cast — exclude degenerate vectors identically on both sides
    per.filter(col("nx") > 0 && col("nc") > 0)
      .select(col("label"),
        (col("dot") / sqrt(col("nx") * col("nc"))).as("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(decimalSum(col("cos"), 12) / count(lit(1)), 6).as("mean_cos_r6"))
  }

  /** Spherical k-means clustering over an embedding column — the semantic
    * domain-discovery primitive a mixture designer runs before weighting
    * sources: cluster the corpus, inspect/balance per-cluster volumes
    * (cluster-then-balance, the prelude step of SemDeDup, Abbas et al.
    * 2023, and of cluster-based data selection generally). Vectors are
    * unit-normalized; each is assigned to its highest-cosine centroid;
    * `lloydIters` assign+average rounds refine the seed centroids
    * (md5-ranked corpus sample — the q28 determinism technique).
    *
    * Every stage replays in a SQL oracle: seeds are hash-ranked,
    * assignment ties break toward the larger cluster id (greatest-struct
    * semantics = ORDER BY sim DESC, cluster_id DESC), refinement averages
    * are decimal-exact element sums divided in double — no partition-order
    * dependence anywhere, including across Lloyd rounds (unlike
    * [[ivfTopK]]'s float-cast refine, centroids here stay double).
    *
    * Scale shape: assignment is a narrow map over broadcast centroid
    * literals (k·dim doubles); each refinement round is ONE linear corpus
    * pass whose map-side partial aggregation collapses to k rows before
    * the shuffle; the driver only ever holds k centroids. Output:
    * (id, cluster_id, sim) — one row per corpus vector. */
  def kmeansClusters(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, lloydIters: Int = 2): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val cn = pqNormalized(corpus, idCol, vecCol, "id", "v").localCheckpoint()
    var centroids: Array[(Long, Seq[Double])] = cn
      .withColumn("__r", md5(concat(lit("kmseed|"), col("id").cast("string"))))
      .orderBy(col("__r")).limit(k)
      .select(col("__r"), col("v")).collect()
      .sortBy(_.getString(0)).zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }

    // argmax over broadcast centroid literals, unrolled at plan build; the
    // struct max picks (sim, id)-lexicographic max, so ties go to the
    // LARGER cluster id — the convention every oracle replays
    def nearest(v: Column): Column = kmNearest(centroids)(v)

    val dim = centroids.head._2.length
    var iter = 0
    while (iter < lloydIters) {
      // decimal-exact element sums: double accumulation is partition-order
      // dependent, which would make refined centroids vary run to run
      val sums = cn
        .withColumn("cluster_id", nearest(col("v")).getField("id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col("v"), i + 1).cast("decimal(27,10)"))
              .cast("double")): _*).as("vsum"))
        .collect()
      // clusters that attracted no vectors keep their previous centroid
      val next = centroids.toMap ++ sums.map { r =>
        val n = r.getLong(1).toDouble
        r.getLong(0) -> r.getSeq[Double](2).map(_ / n)
      }
      centroids = next.toArray.sortBy(_._1)
      iter += 1
    }
    cn.withColumn("__nc", nearest(col("v")))
      .select(col("id"), col("__nc").getField("id").as("cluster_id"),
        col("__nc").getField("s").as("sim"))
  }

  /** Cluster-balanced diversity sample: assign every vector to its
    * [[kmeansClusters]] cluster, then keep the `perCluster` first rows of
    * each cluster under a deterministic md5 order — the corpus-subset
    * selector that flattens semantic domain frequency (head domains are
    * capped at the quota, tail domains are kept whole), the cheap exact
    * form of cluster-balanced selection. One window per cluster on top of
    * the assignment — no extra corpus pass. Output: (id, cluster_id,
    * pick) with pick in [1, perCluster]. */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
                            k: Int, perCluster: Int,
                            lloydIters: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(md5(concat(lit("cbsample|"), col("id").cast("string"))), col("id"))
    kmeansClusters(corpus, idCol, vecCol, k, lloydIters)
      .withColumn("pick", row_number().over(w).cast("long"))
      .filter(col("pick") <= perCluster)
      .select(col("id"), col("cluster_id"), col("pick"))
  }

  /** Persisted clustering state for [[incrementalKmeansAssign]]: one
    * contribution row per (cluster, batch) — (cluster_id, batch_id, n,
    * vsum: array<decimal(38,10)>). Centroids are DERIVED (exact decimal
    * sums across batches, one final double cast), never stored — so the
    * state is append-only, the fold is associative (batch order cannot
    * change a centroid), and redelivery is detectable by batch_id. */
  final case class KmIndex(contrib: DataFrame, k: Int, dim: Int)

  /** Per-cluster (n, decimal element sums) of an assigned+normalized
    * batch, stamped with `batchId`. */
  private def kmContribRows(assigned: DataFrame, dim: Int,
                            batchId: String): DataFrame =
    assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        array((0 until dim).map(i =>
          sum(element_at(col("v"), i + 1).cast("decimal(27,10)"))
            .cast("decimal(38,10)")): _*).as("vsum"))
      .withColumn("batch_id", lit(batchId))

  /** Argmax-assignment column over driver-held centroids (shared by
    * [[kmeansClusters]] and the incremental path): (sim, id)-struct max,
    * ties to the larger cluster id. */
  private def kmNearest(centroids: Array[(Long, Seq[Double])])
                       (v: Column): Column =
    greatest(centroids.map { case (id, ctr) =>
      struct(cosine(v, typedlit(ctr)).as("s"), lit(id).as("id"))
    }: _*)

  /** Build the initial clustering state: batch [[kmeansClusters]] over the
    * corpus, then fold its final assignment into per-cluster contribution
    * rows. Note the online-k-means semantic this fixes: the DERIVED
    * centroid of the state is the member-mean of the FINAL assignment —
    * i.e. one more averaging step than the assignment itself used (the
    * MacQueen/sequential form: assign against current means, then the
    * means absorb the members). Clusters that attracted no members retire
    * (no contribution row → no centroid). */
  def buildKmIndex(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                   lloydIters: Int = 1, batchId: String = "init"): KmIndex = {
    val cn = pqNormalized(corpus, idCol, vecCol, "id", "v").localCheckpoint()
    val dim = cn.select(size(col("v"))).head().getInt(0)
    val assigned = kmeansClusters(corpus, idCol, vecCol, k, lloydIters)
      .select(col("id"), col("cluster_id"))
      .join(cn, Seq("id"))
    KmIndex(kmContribRows(assigned, dim, batchId).localCheckpoint(), k, dim)
  }

  /** Derived centroids of a clustering state: exact decimal sums across
    * all contribution rows per cluster, ONE double cast, then the
    * element-wise divide by n in double — so the centroid is independent
    * of both partition order and batch arrival order, and replays exactly
    * in a SQL oracle. O(k·batches) rows aggregated, O(k) collected. */
  def kmCentroids(index: KmIndex): Array[(Long, Seq[Double])] =
    index.contrib.groupBy(col("cluster_id"))
      .agg(sum(col("n")).as("n"),
        array((0 until index.dim).map(i =>
          sum(element_at(col("vsum"), i + 1)).cast("double")): _*).as("s"))
      .collect()
      .map { r =>
        val n = r.getLong(1).toDouble
        (r.getLong(0), r.getSeq[Double](2).map(_ / n))
      }
      .sortBy(_._1)

  /** Assign a NEW batch against the persisted clustering state and fold
    * the batch's members into it — the incremental twin of
    * [[kmeansClusters]] (the q62/q77 pattern applied to clustering): the
    * corpus is never rescanned, per-batch cost is one narrow assignment
    * pass plus a k-row contribution aggregate, and centroids drift as
    * batches accumulate. A batch whose `batchId` is already present
    * assigns but does NOT fold again, so redelivery leaves the state
    * byte-identical; the redelivered assignment is recomputed against the
    * CURRENT (post-first-fold) centroids — an id-keyed sink overwrites to
    * the newer rows, exactly the segment/HLL-fold redelivery contract.
    * Returns (assignments (id, cluster_id, sim), new state). */
  def incrementalKmeansAssign(batch: DataFrame, idCol: String, vecCol: String,
                              index: KmIndex,
                              batchId: String): (DataFrame, KmIndex) = {
    val cents = kmCentroids(index)
    val cn = pqNormalized(batch, idCol, vecCol, "id", "v").localCheckpoint()
    val assigned = cn.withColumn("__nc", kmNearest(cents)(col("v")))
      .select(col("id"), col("__nc").getField("id").as("cluster_id"),
        col("__nc").getField("s").as("sim"), col("v"))
    val out = assigned.select(col("id"), col("cluster_id"), col("sim"))
    val alreadyFolded =
      !index.contrib.filter(col("batch_id") === batchId).isEmpty
    val contrib =
      if (alreadyFolded) index.contrib
      else index.contrib
        .unionByName(kmContribRows(assigned, index.dim, batchId))
        .localCheckpoint()
    (out, KmIndex(contrib, index.k, index.dim))
  }

  /** Embedding-space outlier gate: flag the bottom `frac` of every
    * [[kmeansClusters]] cluster by cosine-to-centroid — the curation
    * filter that drops off-manifold documents (OCR noise, wrong-language
    * fragments, encoding garbage) whose embeddings sit far from every
    * semantic domain. The cut is RANK-based (row_number over (sim ASC, id
    * ASC), flag rn <= floor(n·frac)) rather than a value threshold: a
    * value cut needs an interpolated percentile whose float ulps differ
    * across engines, while the rank cut is integer-exact and replayable,
    * and it is the same set when sims are distinct. One window + one
    * count over the assignment — no extra corpus pass. Output: (id,
    * cluster_id, sim, is_outlier). */
  def embeddingOutliers(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, frac: Double,
                        lloydIters: Int = 2): DataFrame = {
    require(frac >= 0 && frac < 1, s"frac=$frac must sit in [0, 1)")
    val byWorst = Window.partitionBy(col("cluster_id"))
      .orderBy(col("sim").asc, col("id").asc)
    val all = Window.partitionBy(col("cluster_id"))
    kmeansClusters(corpus, idCol, vecCol, k, lloydIters)
      .withColumn("__rn", row_number().over(byWorst))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("is_outlier",
        col("__rn") <= floor(col("__n") * lit(frac)))
      .drop("__rn", "__n")
  }

  /** Per-query recall@k of an ANN result against the exact top-k — the
    * checked property behind q18/q28's oracle rows. The ANN neighbor set
    * itself is hash-derived (not reproducible in another engine), but its
    * quality floor is: the driver asserts `recall >= floor` per query. */
  def recallAtK(exact: DataFrame, ann: DataFrame, k: Int): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = ann.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hits"))
    e.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("__n_hits"), lit(0L)) / k.toDouble).as("recall_at_k"))
  }

  /** Bucketed ANN: exact cosine, but only within matching LSH buckets.
    * Recall < 1 by construction; multiply probes by also checking buckets at
    * hamming distance 1 (`probeNeighbors = true`). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 6, dim: Int = 64,
              probeNeighbors: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      lshBucket(col(vecCol), nPlanes, dim).as("bucket"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      lshBucket(col(vecCol), nPlanes, dim).as("bucket0"))
    val probes =
      if (!probeNeighbors) qBase.select(col("query_id"), col("q_vec"), col("bucket0").as("bucket"))
      else qBase.select(col("query_id"), col("q_vec"),
        explode(array_union(array(col("bucket0")),
          array((0 until nPlanes).map(p =>
            col("bucket0").bitwiseXOR(lit(1L << p))): _*))).as("bucket"))
    val sims = c.join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("sim"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("sim")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k evaluation harness — the "measure, don't guess" step of an
    * ANN deployment: run the exact brute-force top-k and the [[ivfPqTopK]]
    * approximate top-k over the same corpus/queries, and report per-query
    * `n_hits` (|approx ∩ exact|) and `recall_r6` (n_hits/k). An operator
    * tuning (nCells, nProbe, m, nCodes) reads this table, not intuition.
    * The end-to-end, oracle-verified form of [[recallAtK]] (which joins two
    * ALREADY-COMPUTED result sets): both arms here are deterministic, so
    * unlike the hash-derived inputs recallAtK usually sees, the whole
    * composition replays in DuckDB down to the integer hit counts.
    *
    * Every query row comes back out (a query whose approximate list shares
    * nothing with the exact list reports recall 0.0, not a missing row).
    *
    * Scale shape: the exact arm is the documented O(corpus × queries)
    * baseline — recall evaluation runs on a SAMPLE of queries (the `queries`
    * DataFrame the caller passes), never the full corpus, so the cross term
    * stays bounded while the approximate arm exercises the real production
    * path. The intersection join is narrow (query_id, neighbor_id) pairs,
    * at most 2·k·|queries| rows. Determinism: both arms are deterministic
    * (proven hash-equal to DuckDB individually — q13's exact ranking and
    * q68's IVF-PQ pipeline), so the composed recall table replays exactly
    * in the q70 oracle. */
  def annRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      m: Int = 4, nCodes: Int = 16, dim: Int = 64,
      lloydIters: Int = 0): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfPqTopK(corpus, queries, idCol, vecCol, k,
        nCells, nProbe, m, nCodes, dim, lloydIters)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col(idCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6)
          .as("recall_r6"))
  }
}
