package graft

/** Physical-plan quality guards (SURVEY §4): catches regressions where a
  * filter stops reaching the scan, a dim stops broadcasting, or top-k
  * degrades to a full sort — the properties that decide 100 TB viability.
  */
class PlanQualitySpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf())
      .queryExecution.executedPlan.toString

  test("q01: shipdate filter is pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q02: OR-predicate pushed; top-k plans TakeOrderedAndProject (no full sort)") {
    val p = plan("q02_incremental_scan")
    assert(p.contains("PushedFilters: [Or(GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q03: both dimension joins are broadcast hash joins") {
    val p = plan("q03_customer_geo")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q15: watermark predicate reaches the scan on the raw ts column") {
    // encoding-agnostic: the corpus has shipped ts as TIMESTAMP(NANOS)
    // (pushed literal = raw nanos long) and as TIMESTAMP_NTZ micros (pushed
    // literal = wall-clock). The property under guard is that SOME
    // GreaterThanOrEqual on ts reaches the scan — not its literal's encoding.
    val p = plan("q15_watermark_scan")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,".r.findFirstIn(p).isDefined, p)
  }

  test("q01 runs inside whole-stage codegen (no interpreted hot path)") {
    // AQE only shows codegen spans in the FINAL plan — execute first
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the simple plan string
    assert(p.contains("*(1)") && p.contains("*(2)"), p)
  }

  test("q17: simhash aggregate stays inside whole-stage codegen") {
    // 64 separate bit-sums blow past spark.sql.codegen.maxFields and drop
    // the hot aggregate to interpreted mode (~10× slower, the round-1 20s
    // outlier); the packed-lane form must keep every HashAggregate codegen'd.
    val df = SparkEntry.queries("q17_simhash")(spark, sf())
    df.collect()
    // AQE plan strings repeat the tree as "== Initial Plan ==" without
    // codegen markers — audit only the executed (final) section.
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).toList
    assert(aggLines.nonEmpty, p)
    val interpreted = aggLines.filterNot(_.matches(""".*\*\(\d+\) HashAggregate.*"""))
    assert(interpreted.isEmpty, s"interpreted HashAggregate:\n${interpreted.mkString("\n")}\n$p")
  }

  test("q01 scan reads only referenced columns (pruning)") {
    val p = SparkEntry.queries("q01_pricing_summary")(spark, sf())
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).get.group(1)
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"), read)
  }

  test("q05: no forced broadcast of the fact-sized sides (AQE decides)") {
    // a hard broadcast() hint on customer/supplier overrides AQE's size
    // checks and OOMs the driver at 100× — only the nation dims may carry
    // hints (they project to sn_key/cn_key before the hint)
    val lp = SparkEntry.queries("q05_nation_pairs")(spark, sf())
      .queryExecution.analyzed.toString
    val hinted = lp.linesIterator.filter(_.contains("ResolvedHint")).toList
    assert(hinted.size == 2, s"expected 2 dim hints, got:\n${hinted.mkString("\n")}")
    val hintTargets = lp.split("ResolvedHint").drop(1)
    assert(!lp.contains("c_mktsegment#") || {
      // neither hint subtree may contain customer/supplier base columns
      val subtrees = hintTargets.map(_.take(400))
      subtrees.forall(t => !t.contains("c_custkey") && !t.contains("s_suppkey"))
    }, lp)
  }

  test("q43: quantization profile is a zero-shuffle narrow chain (no explode)") {
    val p = plan("q43_quantize_int8")
    assert(!p.contains("Exchange"), p)   // no shuffle at all
    assert(!p.contains("Generate"), p)   // no dim-times row inflation
  }

  test("q56: per-vector cosine joins an O(labels) broadcast, never a dim-exploded side") {
    val p = plan("q56_label_centroids")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one Generate: the centroid mean's posexplode (collapses
    // immediately into its aggregate) — a second one would mean the
    // per-vector side regressed to the exploded join
    assert("Generate".r.findAllIn(p).size == 1, p)
  }

  test("q40: tf-idf tokenizes the corpus once (df branch reuses the tf shuffle)") {
    // dfreq's count deliberately reads the tf column so column pruning can't
    // de-canonicalize its copy of the (doc,term) aggregate; AQE then reuses
    // the shuffle stage instead of scanning+exploding the corpus twice.
    val df = SparkEntry.queries("q40_tfidf")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"), p)
  }

  test("q21: shingle arrays are computed once per side, below the join") {
    // the CollapseProject house rule: the four set expressions must read
    // join-output attributes, not re-inline the array construction 4×
    val p = SparkEntry.queries("q21_ngram_jaccard")(spark, sf())
      .queryExecution.executedPlan.toString
    val n = "array_distinct\\(split\\(".r.findAllIn(p).size
    assert(n <= 2, s"shingle construction appears $n times (expected <=2):\n$p")
  }

  test("q44: range join plans as an equi-join, never a nested loop") {
    // the bin-bucketing must keep the point-in-interval join out of
    // BroadcastNestedLoopJoin/CartesianProduct territory — the O(|L|·|R|)
    // cliff the operator exists to avoid
    val p = plan("q44_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("Join"), p)
  }

  test("q45: heavy-hitters sketch aggregates map-side before one exchange") {
    val df = SparkEntry.queries("q45_heavy_hitters")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // TypedImperativeAggregate runs as ObjectHashAggregate: a partial pass
    // per partition, then one single-partition final — shuffle carries only
    // capacity-bounded buffers, not raw rows
    assert(p.contains("ObjectHashAggregate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q46/q49: sampling and chunking stay narrow (no shuffle at all)") {
    for (q <- Seq("q46_det_sample", "q49_chunk_tokens")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("q50: bloom might_contain filters the probe side pre-shuffle") {
    val p = plan("q50_bloom_prune")
    assert(p.contains("might_contain"), p)
    // the pruning filter must sit in the probe scan stage: in the plan tree
    // it appears strictly below the join operator
    val lines = p.linesIterator.toList
    val joinIdx = lines.indexWhere(l => l.contains("HashJoin"))
    val filterIdx = lines.indexWhere(_.contains("might_contain"))
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter not below the join (join@$joinIdx, filter@$filterIdx):\n$p")
  }

  test("q60-q62: banded/incremental dedup candidates are equi-joins, never a cross product") {
    // the whole point of the bucketed/indexed paths is replacing q59's
    // crossJoin with per-bucket (or per-band-slice) pairs — a planner
    // regression to a nested loop or cartesian product would silently
    // reintroduce the O(n²) sweep
    for (q <- Seq("q60_semantic_dedup_bucketed", "q61_semantic_dedup_incremental",
        "q62_minhash_incremental")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q67: PQ scan joins narrow codes against broadcast queries, one window shuffle") {
    val df = SparkEntry.queries("q67_pq_ann")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the ADC pass is the documented broadcast pattern (tiny query set ×
    // full codes scan) — but never a non-broadcast cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exchanges: the corpus spread (round-robin) + the per-query top-k
    // window — nothing else may shuffle
    val n = "Exchange".r.findAllIn(p.split("== Initial Plan ==")(0)).size
    assert(n <= 3, s"$n exchanges:\n$p")
  }

  test("q68: IVF-PQ candidates come through a broadcast equi-join on cell_id") {
    val df = SparkEntry.queries("q68_ivfpq_ann")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the whole point vs q67: the probe join is an EQUI join on cell_id
    // (candidates bounded by probed cells), never a full cross product
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q74/q75: span profile and removal stay equi-joins with no forced broadcast") {
    for (q <- Seq("q74_dup_spans", "q75_remove_dup_spans")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      // no broadcast() hint anywhere in the chain: the planner must stay
      // free to switch the rollup/anti joins to shuffle joins when the
      // covered-position set outgrows broadcast at corpus scale
      val lp = SparkEntry.queries(q)(spark, sf()).queryExecution.analyzed.toString
      assert(!lp.contains("ResolvedHint"), s"$q carries a forced hint:\n$lp")
    }
  }

  test("q79: epoch mixture is a zero-shuffle narrow chain (when-chain + in-place explode)") {
    val p = plan("q79_epoch_mixture")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    // the expansion is one Generate over the computed copy count
    assert(p.contains("Generate"), p)
  }

  test("q77/q78/q80/q83: index probes, split assignment, overlap matrix, and folds stay equi-joins") {
    // q82 is excluded on purpose: its vocabulary side is the documented
    // 1-row broadcast crossJoin (PLANS.md's BNLJ-over-broadcast pattern,
    // same as q76/q67) — a no-BNLJ assertion would flag the intended plan.
    for (q <- Seq("q77_segment_dedup_incremental", "q78_leakage_safe_split",
        "q80_source_overlap", "q83_distinct_fold")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // q80's pair expansion must sit ABOVE the per-segment aggregate (a
    // Generate over collected source sets), never a segs×segs self-join:
    // the quadratic work is bounded by sources-per-segment, not corpus size
    val p80 = plan("q80_source_overlap")
    assert(p80.contains("Generate"), p80)
  }

  test("q84/q85: k-means assignment is an exchange-free narrow map over broadcast centroid literals") {
    // centroids ride the plan as k·dim literals — the assignment that runs
    // against a 100 TB corpus must be a single narrow pass: no Exchange,
    // no join of any kind in the RETURNED plan (Lloyd rounds aggregate
    // separately and collapse to k rows before their collect)
    val p = plan("q84_kmeans_clusters")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    // the balanced sample adds exactly one shuffle: the per-cluster window
    val ps = plan("q85_cluster_balanced_sample")
    assert("Exchange".r.findAllIn(ps).size == 1, ps)
  }

  test("q94/q95: star joins broadcast their dimensions, no cartesian, semi join stays semi") {
    val p = plan("q94_local_supplier_volume")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val p2 = plan("q95_large_orders")
    assert(p2.contains("LeftSemi"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("q87: z-value derivation is an exchange-free narrow map (min/max ride as literals)") {
    val p = plan("q87_zorder_layout")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q86: fuzzy dedup candidates come through an equi-join on (prefix, band), never a cross product") {
    val p = plan("q86_fuzzy_blocked_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q65: incremental cluster edges stay equi-joins; relabel pass is broadcast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ext.Dedup
    val docs = graft.model.Tables.load(spark, sf(), "documents")
    val idx = Dedup.portableClusterIndex(
      docs.filter(col("doc_id") < 25), "doc_id", "text")
    // the two plans q65 composes BEFORE checkpoints hide them: the
    // batch-vs-index edge derivation and the pairs-over-index derivation
    for (df <- Seq(
        Dedup.portableIncrementalEdges(
          docs.filter(col("doc_id") >= 25 && col("doc_id") < 50),
          "doc_id", "text", idx),
        Dedup.portableNearDupsOverIndex(idx))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
    // the corpus-wide relabel is ONE broadcast join pass, no shuffle of
    // the labels table against the remap
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val edges = Seq((2L, 3L)).toDF("doc_a", "doc_b")
    val p = Dedup.incrementalClusters(edges, labels)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scoped merge reads only the touched partitions of the target") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("scoped-plan")
    val scheme = graft.merge.MergeSink.PartitionScheme.keyHash(Seq("k"), 8)
    val init = (1 to 100).map(i => (s"k$i", "open")).toDF("k", "status")
    graft.merge.MergeSink.upsertPartialScoped(spark, dir, init, Seq("k"),
      Seq("status"), scheme)
    // reproduce the scoped read the merge performs for a one-key batch
    val touched = Seq(("k7", "closed")).toDF("k", "status")
      .select(scheme.expr.as(scheme.colName)).distinct()
      .collect().map(_.get(0)).toSeq
    val scan = spark.read.parquet(dir)
      .filter(col(scheme.colName).isInCollection(touched))
    val p = scan.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*part_bucket#".r.findFirstIn(p).isDefined, p)
    // partition pruning is visible in the scan's selected partition count
    val parts = scan.queryExecution.executedPlan.collectLeaves()
      .head.asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(parts == 1, s"expected 1 selected partition, got $parts")
  }

  test("q105: the weighted top-(k+1) cut plans TakeOrdered, never a global sort") {
    val p = plan("q105_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only Sort allowed is inside the bounded post-limit window
    assert(!p.split("Window").head.contains("Sort "), p)
  }

  test("q109/q112/q113: overlap join, shingle pairs, and funnel stages stay equi-joins") {
    for (q <- Seq("q109_interval_overlap", "q112_sparse_cosine", "q113_funnel")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q112: pair fanout is an in-row Generate over fenced lists, never a posting self-join") {
    val p = plan("q112_sparse_cosine")
    // the C(df,2) expansion happens inside TWO chained codegen Generates
    // over the bounded posting list (collect_list behind the df fence):
    // posexplode of the list, then explode(slice(...)) per element
    assert(p.contains("Generate posexplode(__ps"), p)
    assert(p.contains("Generate explode(slice(__ps"), p)
    assert(p.contains("collect_list"), p)
    assert("df#\\d+L? <= 64".r.findFirstIn(p).isDefined, p)
    // ...so no join in the plan carries the pair fanout: every join key
    // set is tok (the fence attach) or a doc id (the norm attaches) —
    // a tok-keyed join of the posting table against ITSELF would show as
    // a join producing doc_a/doc_b from two posting inputs, i.e. a join
    // line mentioning __tf
    assert(!p.contains("__tf"), p)
  }

  test("q111: top-k per group is a partial-then-final aggregate — no Window, no group-wide Sort") {
    val p = plan("q111_topk_per_group")
    assert(!p.contains("Window"), p)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a partial
    // stage before the exchange — the property that caps shuffle bytes at
    // k rows per (group, partition)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q114: cohort retention is aggregates + one equi-join — no Window") {
    val p = plan("q114_cohort_retention")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q116/q117: the heap-aggregate compositions keep the partial-aggregate shape, no Window") {
    for (q <- Seq("q116_trending", "q117_priority_sample_grouped")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q:\n$p")
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q121: date filter pushed to the orders scan; the spine side of the grid broadcasts") {
    val p = plan("q121_gap_fill")
    // the year filter must prune at the scan (row groups) — at 100 TB the
    // grid is bounded by groups × days only if the fact filter pushes
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate".r
      .findFirstIn(p).isDefined, p)
    // the 366-row spine is the broadcast side; the group set stays
    // distributed — no SortMergeJoin anywhere in the grid build
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q122/q123: resampling keeps map-side combine — partial aggregates before the exchange") {
    // q122's min_by carries a string order key in its buffer, which is not
    // a fixed-width mutable type, so Spark plans SortAggregate — fine: the
    // scale property is the PARTIAL stage before the shuffle (the exchange
    // carries one row per (group, partition), not raw events), which holds
    // for both aggregate strategies.
    val p22 = plan("q122_ohlc_resample")
    assert(p22.contains("partial_min_by"), p22)
    assert(!p22.contains("Window,") && !p22.contains("CartesianProduct"), p22)
    // q123's sum/count are fixed-width: full whole-stage HashAggregate,
    // partial then final, despite the 2× hopping row expansion
    val p23 = plan("q123_hopping_window")
    assert("HashAggregate".r.findAllIn(p23).size >= 2, p23)
    assert(p23.contains("partial_"), p23)
    assert(!p23.contains("SortAggregate"), p23)
    assert(!p23.contains("CartesianProduct"), p23)
  }

  test("q126/q127/q128: subqueries decorrelate and set ops plan as joins — no nested-loop, no per-row subquery") {
    val p126 = plan("q126_exists_decorrelated")
    // EXISTS → semi, NOT EXISTS → anti, both hash joins on o_custkey
    assert(p126.contains("LeftSemi") && p126.contains("LeftAnti"), p126)
    assert(!p126.contains("BroadcastNestedLoopJoin") &&
      !p126.contains("CartesianProduct"), p126)
    val p127 = plan("q127_scalar_subquery")
    // the correlated scalar aggregate becomes one aggregate + one join
    assert(p127.contains("HashAggregate"), p127)
    assert(!p127.contains("BroadcastNestedLoopJoin") &&
      !p127.contains("CartesianProduct"), p127)
    val p128 = plan("q128_set_ops")
    assert(p128.contains("LeftSemi") && p128.contains("LeftAnti"), p128)
    assert(!p128.contains("CartesianProduct"), p128)
  }

  test("q124: session_window plans the native session-merge, one exchange on user_id") {
    val p = plan("q124_session_window")
    // the built-in operator shows up as updating/merging session windows in
    // the aggregate expressions; the point is ONE shuffle keyed by user —
    // no second window sort pass like the q26 formulation
    assert(p.contains("session_window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q135: the global shard rank plans WITHOUT a single-partition exchange") {
    // the scale property of the shard manifest: rank comes from
    // range-partition + per-partition offsets, so a 10B-doc corpus ranks
    // across all shuffle partitions — a Window with no PARTITION BY would
    // show up here as Exchange SinglePartition and serialize the table
    // (the range shuffle itself lives inside globalRank's eagerly-executed
    // localCheckpoint, so the visible plan starts at Scan ExistingRDD —
    // what must hold HERE is that the rank window is partitioned by the
    // range-partition id, never a global Window/Sort)
    val p = plan("q135_shard_manifest")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
  }

  test("q136: the mode window is partitioned by the group key, never global") {
    val p = plan("q136_grouped_mode")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q137/q139: RANGE-frame and weighted-median windows stay per-group — no global sort, no single partition") {
    for (n <- Seq("q137_range_frame", "q139_weighted_median")) {
      val p = plan(n)
      assert(!p.contains("Exchange SinglePartition"), s"$n:\n$p")
      assert(p.contains("windowspecdefinition"), s"$n:\n$p")
    }
  }

  test("q140: both correlated subqueries decorrelate to hash joins on l_orderkey — semi + anti, no per-row subquery") {
    val p = plan("q140_sole_late_supplier")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q141: scalar threshold broadcasts one row, dormancy decorrelates to an anti hash join") {
    val p = plan("q141_dormant_high_balance")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q138: keep-best composes the banded pair plan — no cartesian product anywhere") {
    val p = plan("q138_dedup_keep_best")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q142: the share-of-total window stays partitioned by region — no single-partition exchange") {
    val p = plan("q142_revenue_share")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("windowspecdefinition(region"), p)
  }

  test("q143: the rank-with-ties window is partitioned per priority, never a global sort") {
    val p = plan("q143_ranked_ties")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("windowspecdefinition(o_orderpriority"), p)
  }

  test("q144: the SQL front door plans stock vectorized parquet scans with pushed aggregates' filters intact") {
    val p = plan("q144_sql_lakehouse")
    // the catalog path must NOT degrade to a row connector: both branches
    // (head and VERSION AS OF 1) are FileScans of the TxTable's parquet
    assert("FileScan parquet".r.findAllIn(p).size == 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BatchScan"), p)
    // and log-level stats skipping still works through that scan: the odd
    // half's envelope starts at key 1 (even at 0), so a <0 probe prunes
    // the odd half's file(s) and keeps the even ones
    val lake = "/tmp/graft_sql_lake_v1/_root_testdata_sf0.001/lake/orders"
    val idx = new graft.sql.GraftFileIndex(spark, lake, None)
    val keyAttr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "o_orderkey", org.apache.spark.sql.types.LongType)()
    val (kept, total) = idx.skippingStats(Seq(
      org.apache.spark.sql.catalyst.expressions.LessThan(keyAttr,
        org.apache.spark.sql.catalyst.expressions.Literal(0L))))
    assert(total >= 2 && kept < total,
      s"stats skipping through the SQL index: kept $kept of $total")
  }

  test("q145: corpus joins the vocab segmentation via broadcast — corpus scanned once, filter pushed") {
    val p = plan("q145_bpe_apply")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LessThan(doc_id,100)"), p)
  }

  test("q146/q147: the post-DML aggregates stay vectorized GraftFileIndex parquet scans") {
    for (q <- Seq("q146_sql_dml", "q147_sql_merge")) {
      val p = plan(q)
      assert(p.contains("GraftFileIndex"), s"$q:\n$p")
      assert(!p.contains("BatchScan") && !p.contains("CartesianProduct"),
        s"$q:\n$p")
    }
  }

  test("string predicates prune files through the SQL scan (truncated envelopes)") {
    import spark.implicits._
    val dir = tmpDir("pq-str-skip")
    // three UUID-shaped clustered batches (the reference's string join
    // keys, setup_target.py:38): one file each, disjoint first hex digit
    for (h <- Seq("0", "8", "f"))
      graft.merge.TxTable.append(spark, dir,
        (0 until 50).map(i => (f"$h$i%07d-0000-4000-8000-${i}%012d", i.toLong))
          .toDF("uid", "v").repartition(1))
    val idx = new graft.sql.GraftFileIndex(spark, dir, None)
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal, StartsWith}
    import org.apache.spark.sql.types.StringType
    val uid = AttributeReference("uid", StringType)()
    // point lookup on a UUID: exactly one file survives the listing
    val (kept1, total) = idx.skippingStats(Seq(
      EqualTo(uid, Literal.create("80000003-0000-4000-8000-000000000003",
        StringType))))
    assert(total == 3 && kept1 == 1, s"kept $kept1 of $total")
    // LIKE 'f%' prefix shape prunes to the f-file
    val (keptP, _) = idx.skippingStats(Seq(
      StartsWith(uid, Literal.create("f", StringType))))
    assert(keptP == 1, s"kept $keptP")
    // impossible key prunes everything; the data filter still re-applies
    // per row in the plan, so this is pure I/O savings, never wrongness
    val (kept0, _) = idx.skippingStats(Seq(
      EqualTo(uid, Literal.create("zzzzzzzz", StringType))))
    assert(kept0 == 0, s"kept $kept0")
    // IN-list lookups prune by the list envelope: two f-keys keep only
    // the f-file (superset semantics — values between them still pass
    // here and die at the row filter)
    val (keptIn, _) = idx.skippingStats(Seq(
      org.apache.spark.sql.catalyst.expressions.In(uid, Seq(
        Literal.create("f0000001-0000-4000-8000-000000000001", StringType),
        Literal.create("f0000004-0000-4000-8000-000000000004", StringType)))))
    assert(keptIn == 1, s"kept $keptIn")
    // the optimizer's InSet form (long IN lists) prunes the same way
    val (keptInSet, _) = idx.skippingStats(Seq(
      org.apache.spark.sql.catalyst.expressions.InSet(uid,
        (0 until 12).map(i => org.apache.spark.unsafe.types.UTF8String
          .fromString(f"f$i%07d-x"): Any).toSet)))
    assert(keptInSet == 1, s"kept $keptInSet")
    // and the end-to-end scan agrees: the same predicate through a real
    // FileSourceScanExec lists exactly the surviving file's partitions
    val rel = graft.sql.GraftSql.relation(spark, dir, None)
    val df = org.apache.spark.sql.graftbridge.GraftBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
      .filter($"uid" === "80000003-0000-4000-8000-000000000003")
    assert(df.count() == 1)
  }

  test("q150: the post-ALTER aggregate stays a vectorized GraftFileIndex parquet scan") {
    val p = plan("q150_sql_evolution")
    assert(p.contains("GraftFileIndex"), p)
    assert(!p.contains("BatchScan") && !p.contains("CartesianProduct"), p)
    // the declared-then-written column reads from parquet where present —
    // no per-row UDF or generator materializes it in the final scan
    assert(!p.contains("Generate"), p)
  }

  test("the cycle's M1 sink: one wm_ts dedupe, one full-outer join, no Filter above") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, Join,
      LogicalPlan, Window}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val boot = new graft.catalog.Bootstrap(spark, tmpDir("m1-plan"))
    boot.setup()
    val stream = graft.ops.ScenarioPipeline.streams(spark,
      graft.demo.ReferenceFixtures.build(spark), boot).find(_.name == "fc_scenario").get
    // the runner hands the sink a pinned batch; the first one seeds the target
    def batch(limit: Int) = stream.extract(spark, graft.runtime.WatermarkStore.defaultSince)
      .orderBy("wm_ts", "scenario_id").limit(limit).localCheckpoint()
    stream.sink(batch(10))
    val next = batch(20)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(st => stages.add(st.name))
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(jobs)
    try {
      stream.sink(next)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(jobs)
    }
    val merges = plans.asScala.toSeq.filter(_.exists(_.isInstanceOf[Join]))
    assert(merges.size == 1, merges.mkString("\n"))
    val p = merges.head
    assert(p.collect { case j: Join => j.joinType } == Seq(FullOuter), p)
    // one dedupe: the wm_ts window, and no aggregate or dropDuplicates
    assert(p.collect { case w: Window => w }.size == 1, p)
    assert(!p.exists(n => n.isInstanceOf[Aggregate] || n.isInstanceOf[Deduplicate]), p)
    def above(n: LogicalPlan): Seq[LogicalPlan] =
      if (n.isInstanceOf[Join]) Nil else n +: n.children.flatMap(above)
    assert(!above(p).exists(_.isInstanceOf[Filter]), p)
    // the sink pins nothing of its own
    assert(!stages.asScala.exists(_.startsWith("localCheckpoint")), stages)
  }
}
