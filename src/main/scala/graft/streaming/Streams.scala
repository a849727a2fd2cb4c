package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.merge.MergeSink

/** Structured Streaming bindings (SURVEY §2.11, §1.4): the reference's 30 s
  * poll loop as a real `Trigger.ProcessingTime` micro-batch query, with the
  * merge sinks attached through `foreachBatch`.
  *
  * The batch engine stays primary — exactly as the reference's pipeline.py
  * is a loop over batch functions — and this layer only binds those batch
  * pieces to Spark's streaming runtime: checkpointed offsets replace the
  * watermark table, `withWatermark` replaces the 90 s overlap for stateful
  * ops, and `Trigger.AvailableNow` gives catch-up-then-stop semantics.
  */
object Streams {

  /** File-based micro-batch source over a directory of parquet (the
    * streaming analog of our batch scans; schema must be supplied —
    * streaming reads don't infer). */
  def parquetStream(spark: SparkSession, dir: String, schema: StructType,
                    maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Bind a transformed stream to a merge sink: each micro-batch is applied
    * through `merge` (one of MergeSink's four modes, already idempotent —
    * so at-least-once delivery from the engine becomes effectively-once in
    * the sink, the same contract as the batch runtime). */
  def toMergeSink(stream: DataFrame, checkpointDir: String,
                  trigger: Trigger = Trigger.ProcessingTime("30 seconds"))(
      merge: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        merge(batch.sparkSession, batch, batchId)
      }
      .start()

  /** Ready-made [[toMergeSink]] callbacks. The M1-M4 sinks and the folds
    * commit through the rename-swap modes, the one protocol
    * `ScenarioPipeline.streams` binds too; each is idempotent per batch,
    * so the engine's at-least-once redelivery stays effectively-once.
    * [[txAppendOnce]] and [[mergeCdcDV]] are TxTable-only: they ride the
    * batchId into the commit log. The merge sinks move to the TxTable log
    * together, once deletion vectors and automatic upkeep bound its
    * storage (ROADMAP.md); until then a rename-mode sink refuses a TxTable
    * directory ([[MergeSink.readTarget]]). Read targets back with
    * [[MergeSink.readAny]], which handles both layouts. */
  object Sinks {
    def appendDedup(dir: String, key: String,
                    partitionCols: Seq[String] = Nil)
        : (SparkSession, DataFrame, Long) => Unit =
      (s, b, _) => MergeSink.appendDedup(s, dir, b, key, partitionCols)

    def insertIfAbsent(dir: String, keys: Seq[String],
                       partitionCols: Seq[String] = Nil)
        : (SparkSession, DataFrame, Long) => Unit =
      (s, b, _) => MergeSink.insertIfAbsent(s, dir, b, keys, partitionCols)

    def upsertPartial(dir: String, keys: Seq[String], mutableCols: Seq[String],
                      orderCols: Seq[String] = Nil)
        : (SparkSession, DataFrame, Long) => Unit =
      (s, b, _) => MergeSink.upsertPartial(s, dir, b, keys, mutableCols, orderCols)

    def scd2(dir: String, key: String, mutableCols: Seq[String],
             orderCols: Seq[String] = Nil)
        : (SparkSession, DataFrame, Long) => Unit =
      (s, b, _) => MergeSink.scd2(s, dir, b, key, mutableCols, orderCols)

    /** The partition-scoped upsert: each micro-batch merges against only
      * the partitions its keys live in, so it saves work only when a
      * batch's keys cluster (the ETL cycle, whose batches touch every
      * bucket, binds the unpartitioned [[MergeSink.mergeInto]]). */
    def upsertScoped(dir: String, keys: Seq[String], mutableCols: Seq[String],
                     scheme: MergeSink.PartitionScheme,
                     orderCols: Seq[String] = Nil)
        : (SparkSession, DataFrame, Long) => Unit =
      (s, b, _) =>
        MergeSink.upsertPartialScoped(s, dir, b, keys, mutableCols, scheme, orderCols)

    /** Exactly-once RAW append into a [[graft.merge.TxTable]] — the sink
      * for streams with no natural key to dedup on (raw event capture,
      * log shipping). Every keyed sink above is replay-safe by MERGE
      * algebra; a plain append is not, so this one rides the Structured
      * Streaming batchId into the commit as a txn mark
      * ([[graft.merge.TxTable.appendOnce]]): a redelivered micro-batch is
      * a no-op, a crash between "data visible" and "epoch recorded" is
      * impossible because they are the same log rename. The composition
      * (at-least-once delivery from the checkpointed source + idempotent
      * epoch-keyed commit) is end-to-end exactly-once — the same argument
      * Delta's streaming sink makes with its txn action. */
    def txAppendOnce(dir: String, appId: String,
                     partitionCols: Seq[String] = Nil)
        : (SparkSession, DataFrame, Long) => Unit =
      (s, b, id) => {
        graft.merge.TxTable.appendOnce(s, dir, b, appId, id, partitionCols)
        ()
      }

    /** Streaming CDC-apply at scale: each micro-batch MERGEs into the
      * TxTable target merge-on-read ([[MergeSink.mergeIntoDV]] — retired
      * positions + appended copies in one atomic deletion-vector commit),
      * so a trigger costs O(changed rows) written where the replace-based
      * merge sinks rewrite their whole scope. The tri-clause algebra
      * (tombstone delete / update / guarded insert / not-matched-by-source
      * retirement) matches the SQL MERGE surface; conditions speak the
      * `t.`/`s.` aliases. The batchId rides as a txn mark in the commit,
      * so a redelivered micro-batch (or a full fresh-checkpoint replay)
      * is a structural no-op — end-to-end exactly-once by the same
      * argument as [[txAppendOnce]]. Pair with `CALL graft.system.
      * purge_dvs` in the maintenance loop to bound the deleted fraction. */
    def mergeCdcDV(dir: String, appId: String, keys: Seq[String],
                   updateCols: Seq[String],
                   matchedDeleteCond: Option[Column] = None,
                   insertCond: Option[Column] = None,
                   notMatchedBySourceDeleteCond: Option[Column] = None,
                   orderCols: Seq[String] = Nil)
        : (SparkSession, DataFrame, Long) => Unit =
      (s, b, id) => {
        if (!graft.merge.TxTable.lastTxn(s, dir, appId).exists(_ >= id))
          MergeSink.mergeIntoDV(s, dir, b, keys, updateCols,
            matchedDeleteCond = matchedDeleteCond,
            insertCond = insertCond,
            notMatchedBySourceDeleteCond = notMatchedBySourceDeleteCond,
            orderCols = orderCols, txn = Some(appId -> id))
      }

    /** Cluster-grade incremental dedup accounting as a streaming sink:
      * each micro-batch derives its near-dup edges against the persisted
      * ALL-docs signature index ([[graft.ext.Dedup.incrementalEdges]]),
      * folds them into the persisted (doc_id, cluster_id) label table as a
      * partition-scoped DELTA upsert
      * ([[graft.ext.Dedup.incrementalClustersDelta]] — O(changed rows)
      * written per batch, never a full label rewrite), then appends the
      * batch's own signatures/bands so later batches see it. Unlike the
      * KEEPER-only index of the dedup sinks, clustering indexes every doc
      * — components need every edge.
      *
      * Replay-safe under at-least-once redelivery in any crash
      * interleaving: re-folding a batch re-derives the same edges,
      * already-merged labels produce an empty remap (no-op writes), and
      * the index appends are key-deduplicated — StreamsSpec proves N
      * micro-batch folds ≡ one-shot [[graft.ext.Dedup.nearDupClusters]]
      * over the union corpus. Read labels back with [[MergeSink.readAny]]. */
    def clusterFold(sigDir: String, bandDir: String, labelsDir: String,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 1, k: Int = 32, bands: Int = 4,
                    threshold: Double = 0.6, labelBuckets: Int = 32)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, _) => {
      import graft.ext.Dedup
      def loadOr(dir: String, like: DataFrame): DataFrame =
        MergeSink.readAny(s, dir).getOrElse(like)
      val empty = Dedup.emptyIndex(s)
      val idx = Dedup.DedupIndex(loadOr(sigDir, empty.signatures),
        loadOr(bandDir, empty.bands))
      val labels = loadOr(labelsDir, Dedup.emptyLabels(s))
        .select("doc_id", "cluster_id")
      val edges = Dedup.incrementalEdges(batch, idCol, textCol, idx,
        n = n, k = k, bands = bands, threshold = threshold)
      // materialize the delta BEFORE the upsert mutates the labels it reads
      val delta = Dedup.incrementalClustersDelta(edges, labels).localCheckpoint()
      val scheme = MergeSink.PartitionScheme.keyHash(Seq("doc_id"), labelBuckets)
      MergeSink.upsertPartialScoped(
        s, labelsDir, delta, Seq("doc_id"), Seq("cluster_id"), scheme)
      val sigs = Dedup.signatures(batch, idCol, textCol, n, k).localCheckpoint()
      val bandRows = Dedup.lshBands(sigs, k, bands).withColumn("bk",
        concat_ws("#", col("doc_id"), col("band_id")))
      MergeSink.appendDedup(s, sigDir, sigs, "doc_id")
      MergeSink.appendDedup(s, bandDir, bandRows, "bk")
    }

    /** Incremental segment dedup ([[graft.ext.Dedup
      * .incrementalSegmentDedup]]) as a streaming sink: each micro-batch
      * probes the persisted segment-frequency state, cuts segments whose
      * cumulative distinct-doc count reaches `minDocs`, appends the
      * cleaned batch (keyed on doc id), and records its count
      * contribution.
      *
      * Replay safety shapes the state layout: a sum-merged (seg_hash,
      * n_docs) row is NOT idempotent under at-least-once redelivery
      * (re-folding doubles the count), so the persisted state keeps one
      * row per (seg_hash, batch_id) contribution, insert-if-absent keyed
      * — a redelivered batch's insert is dropped, and the probe EXCLUDES
      * the batch's own prior contribution so the re-run sees the exact
      * index the first attempt saw. The probe aggregates the contribution
      * table by seg_hash per batch; the table is two longs + a batch id
      * per distinct (segment, batch) — compact it with the M-family
      * rewrite when history grows. */
    def segmentFold(countsDir: String, cleanDir: String,
                    idCol: String = "doc_id", textCol: String = "text",
                    window: Int = 8, minDocs: Long = 2)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, batchId) => {
      import graft.ext.Dedup
      val prior = MergeSink.readAny(s, countsDir)
        .map(_.filter(col("batch_id") =!= batchId)
          .groupBy(col("seg_hash")).agg(sum(col("n_docs")).as("n_docs")))
        .getOrElse(Dedup.emptySegmentIndex(s))
      val (clean, delta) = Dedup.incrementalSegmentDedup(
        batch, idCol, textCol, prior, window, minDocs)
      // materialize both BEFORE the writes mutate the state they read
      val cleanMat = clean.localCheckpoint()
      val contrib = delta
        .withColumn("batch_id", lit(batchId))
        .withColumn("ck", concat_ws("#", col("seg_hash"), col("batch_id")))
        .localCheckpoint()
      MergeSink.appendDedup(s, cleanDir, cleanMat, "doc_id")
      MergeSink.appendDedup(s, countsDir, contrib, "ck")
    }

    /** Incremental cardinality tracking as a streaming sink: each
      * micro-batch's per-key HLL sketch ([[graft.functions.SketchAggs
      * .distinctState]]) unions into the persisted state table (key,
      * sketch). Redelivery safety comes FREE from the sketch algebra —
      * union is idempotent at the register level, so re-folding a
      * redelivered batch cannot inflate any estimate (contrast
      * [[segmentFold]]'s contribution-keying, which count-based state
      * needs). State bytes: O(keys × 2^lgK), independent of stream
      * length; the whole table is rewritten per batch, fine for the
      * key-cardinality regimes a per-key distinct tracker targets. */
    def distinctFold(stateDir: String, key: String, value: String, lgK: Int = 12)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, _) => {
      import graft.functions.SketchAggs
      val delta = SketchAggs.distinctState(batch, col(key), col(value), lgK)
      val folded = (MergeSink.readTarget(s, stateDir) match {
        case Some(prev) => SketchAggs.foldDistinctState(
          prev.select(col("key"), col("sketch")), delta)
        case None => delta
      }).localCheckpoint() // materialize BEFORE replacing the state it read
      MergeSink.writeReplace(s, stateDir, folded)
    }

    /** Streaming drift monitor: score every micro-batch's value
      * distribution against a FROZEN reference histogram
      * ([[graft.ops.Stats.driftReference]] at `refDir`) and append one
      * (batch_id, n_rows, tv) row — the alarm wire a corpus intake
      * pipeline watches (a new crawl whose length/score distribution
      * jumps shows up as a TV spike before any model does). Values
      * outside the reference edges clamp into the boundary cells, so
      * out-of-range mass still registers as drift. O(bins) state read +
      * one narrow batch pass; rows append-dedup by batch_id. */
    def driftMonitor(refDir: String, outDir: String, valueCol: String)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, batchId) => {
      val ref = MergeSink.readAny(s, refDir).getOrElse(
        throw new IllegalStateException(s"driftMonitor: no reference at $refDir"))
      val meta = ref.select(col("lo"), col("hi"), col("bins")).head()
      val (lo, hi, bins) = (meta.getDouble(0), meta.getDouble(1), meta.getInt(2))
      val refFrac = ref.select(col("bin"), col("frac")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val nn = batch.filter(col(valueCol).isNotNull)
        .select(col(valueCol).cast("double").as("x"))
      val counts = nn
        .select(graft.ops.Layout.linearBucketN(col("x"), lo, hi, bins.toLong)
          .as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = counts.values.sum
      val tv =
        if (n == 0L) Double.NaN
        else (refFrac.keySet ++ counts.keySet).toSeq.sorted.map { b =>
          math.abs(refFrac.getOrElse(b, 0.0) -
            counts.getOrElse(b, 0L).toDouble / n)
        }.sum / 2.0
      val sp = s
      import sp.implicits._
      val row = Seq((batchId, n, tv)).toDF("batch_id", "n_rows", "tv")
      MergeSink.appendDedup(s, outDir, row, "batch_id")
    }

    /** Streaming quantile fold: per-batch KLL sketches land as
      * (key, batch_id, sketch) contribution rows, appendDedup-keyed on
      * (key, batch) — KLL merge is NOT idempotent (re-merging a batch
      * re-weights its ranks), so redelivery safety comes from the q77
      * contribution-keying discipline, not sketch algebra. Read the
      * current estimate with [[graft.functions.SketchAggs
      * .foldQuantileState]] over the state table. O(keys) rows appended
      * per batch; compact with the M-family rewrite when history grows. */
    def quantileFold(stateDir: String, key: String, value: String, k: Int = 200)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, batchId) => {
      import graft.functions.SketchAggs
      val contrib = SketchAggs.quantileState(batch, col(key), col(value), k)
        .withColumn("batch_id", lit(batchId))
        .withColumn("ck", concat_ws("#", col("key"), col("batch_id")))
        .localCheckpoint()
      MergeSink.appendDedup(s, stateDir, contrib, "ck")
    }

    /** Streaming Count-Min fold: each micro-batch's counter matrix lands
      * as one (batch_id, cm) contribution row, append-dedup by batch_id —
      * counter addition is NOT idempotent (a re-added batch double-
      * counts), so redelivery safety is contribution-keyed, the q77/KLL
      * discipline, not sketch algebra. Read the current sketch with
      * [[graft.functions.SketchAggs.foldCmState]] over the state table
      * and point-query it with `cmEstimates`. One depth·width row
      * appended per batch, however large the batch. */
    def cmFold(stateDir: String, item: String, depth: Int, width: Int)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, batchId) => {
      import graft.functions.SketchAggs
      val contrib = SketchAggs.cmState(batch, col(item), depth, width)
        .withColumn("batch_id", lit(batchId))
        .localCheckpoint()
      MergeSink.appendDedup(s, stateDir, contrib, "batch_id")
    }

    /** Streaming manifest fold: each micro-batch appends its ADDITIVE
      * integrity fingerprint ([[graft.ops.Stats.manifestContribution]])
      * as (group_key, batch_id, n_rows, n_null_content, content_sig)
      * rows, append-dedup on (group, batch) — the live "same rows, same
      * bytes" audit of an incremental corpus, maintained without ever
      * rescanning earlier batches. Read the current manifest with
      * [[graft.ops.Stats.manifestFromContributions]]. O(groups) rows per
      * batch. */
    def manifestFold(stateDir: String, group: String, id: String, content: String)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, batchId) => {
      val contrib = graft.ops.Stats.manifestContribution(batch,
          col(group), col(id), col(content))
        .withColumn("batch_id", lit(batchId))
        .withColumn("ck", concat_ws("#", col("group_key"), col("batch_id")))
        .localCheckpoint()
      MergeSink.appendDedup(s, stateDir, contrib, "ck")
    }

    /** Streaming funnel fold — the micro-batch form of [[graft.ops.Funnel
      * .conversionFunnel]]: state is one row per user (user_id,
      * t_<step>...), and each batch advances it with per-step
      * min-aggregates computed IN FUNNEL ORDER, so a step-2 candidate is
      * admitted against the user's t_1 AS ADVANCED BY THIS BATCH (intra-
      * batch chains resolve exactly — the funnel orders by EVENT time, not
      * arrival). Every update is `least(old, new)` — idempotent — so
      * redelivery is harmless by algebra (the HLL free ride, no
      * contribution keying needed).
      *
      * Contract: equals the batch funnel whenever batches arrive in event-
      * time order per user (the replay/backfill shape, asserted in
      * StreamsSpec). A step-1 event arriving AFTER later batches were
      * consumed cannot resurrect step-2 candidates those batches carried —
      * the inherent bounded-state streaming-funnel limitation, stated
      * rather than hidden (exact repair = rerun the batch operator). */
    def funnelFold(stateDir: String, user: String, ts: String,
        steps: Seq[(String, Column)])
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, _) => {
      require(steps.nonEmpty, "steps must not be empty")
      val stepCols = steps.map { case (n, _) => s"t_$n" }
      val prevOpt = MergeSink.readTarget(s, stateDir)
      val allUsers = batch.select(col(user).as("user_id")).distinct()
        .unionByName(prevOpt.map(_.select(col("user_id")))
          .getOrElse(batch.sparkSession.emptyDataFrame
            .select(lit(null).cast(batch.schema(user).dataType).as("user_id"))
            .limit(0)))
        .distinct()
      var st = prevOpt match {
        case Some(p) => allUsers.join(p, Seq("user_id"), "left")
        case None => stepCols.foldLeft(allUsers)((d, c) =>
          d.withColumn(c, lit(null).cast("timestamp")))
      }
      steps.zipWithIndex.foreach { case ((name, cond), i) =>
        val tcol = s"t_$name"
        val rows = batch.filter(cond)
          .select(col(user).as("user_id"), col(ts).as("__ts"))
        val cand =
          if (i == 0) rows.groupBy(col("user_id")).agg(min(col("__ts")).as("__new"))
          else {
            val prevT = s"t_${steps(i - 1)._1}"
            rows.join(st.select(col("user_id"), col(prevT)), Seq("user_id"))
              .filter(col("__ts") > col(prevT))
              .groupBy(col("user_id")).agg(min(col("__ts")).as("__new"))
          }
        st = st.join(cand, Seq("user_id"), "left")
          .withColumn(tcol, least(col(tcol), col("__new")))
          .drop("__new")
      }
      val out = st.localCheckpoint() // materialize BEFORE replacing what it read
      MergeSink.writeReplace(s, stateDir, out)
    }

    /** Streaming top-k-rows fold: the per-group leaderboard as persisted
      * state. Each batch cuts its own per-group top-k with the bounded-
      * heap aggregate ([[graft.functions.SketchAggs.topkRows]]), unions
      * the prior state, DEDUPLICATES, and re-cuts — correct because a
      * union of per-subset top-k's contains the global top-k, and
      * idempotent under redelivery because a redelivered row meeting its
      * own carried copy in the state collapses in the explicit
      * `.distinct()` (the heap itself is a MULTISET — exact duplicate
      * rows rank like the window — so the fold must dedupe, not the
      * aggregate). State bytes O(groups·k) forever, however long the
      * stream. */
    def topkRowsFold(stateDir: String, group: String, value: String,
        tie: String, k: Int)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, _) => {
      import graft.functions.SketchAggs
      val bTop = SketchAggs.topkRows(batch, Seq(col(group).as("group_key")),
          col(value), col(tie), k)
        .select(col("group_key"), col("tie"), col("val"))
      val folded = (MergeSink.readTarget(s, stateDir) match {
        case Some(p) => SketchAggs.topkRows(
          p.select(col("group_key"), col("tie"), col("val"))
            .unionByName(bTop).distinct(),
          Seq(col("group_key")), col("val"), col("tie"), k)
          .select(col("group_key"), col("tie"), col("val"))
        case None => bTop
      }).localCheckpoint() // materialize BEFORE replacing what it read
      MergeSink.writeReplace(s, stateDir, folded)
    }

    /** Streaming cohort fold — the micro-batch form of [[graft.ops.Funnel
      * .cohortRetention]], and unlike [[funnelFold]] it is ORDER-FREE:
      * the state is a per-user min(first event ts) (idempotent,
      * commutative) plus the distinct (user, week) activity set
      * (insert-if-absent — set union), so the fold equals the batch
      * operator for ANY batch split in ANY arrival order, and redelivery
      * is safe by algebra on both tables. Read the matrix with
      * [[graft.ops.Funnel.cohortRetentionFromState]]. State bytes:
      * O(users) + O(user-weeks). */
    def cohortFold(firstDir: String, activityDir: String, user: String, ts: String)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, _) => {
      val bFirst = batch.groupBy(col(user).as("user_id"))
        .agg(min(col(ts)).as("first_ts"))
      val merged = (MergeSink.readTarget(s, firstDir) match {
        case Some(p) => p.unionByName(bFirst)
          .groupBy(col("user_id")).agg(min(col("first_ts")).as("first_ts"))
        case None => bFirst
      }).localCheckpoint() // materialize BEFORE replacing what it read
      MergeSink.writeReplace(s, firstDir, merged)
      val act = batch.select(col(user).as("user_id"),
          to_date(date_trunc("week", col(ts))).as("week")).distinct()
        .withColumn("ak", concat_ws("#", col("user_id"), col("week")))
      MergeSink.appendDedup(s, activityDir, act, "ak")
    }

    /** Streaming k-means fold — the micro-batch form of
      * [[graft.ext.SimSearch.incrementalKmeansAssign]]: the first batch
      * bootstraps the state with batch k-means; every later batch assigns
      * against the DERIVED centroids (exact decimal member sums across
      * all prior batches) and appends its own (cluster, batch)
      * contribution rows. Assignments land append-dedup by id (first
      * delivery wins), contributions are batch_id-guarded inside the
      * incremental operator — so a fresh-checkpoint redelivery leaves
      * BOTH tables byte-stable. Per batch: one narrow assignment pass, a
      * k-row contribution aggregate, an O(batch) assignment append, and
      * an O(k·batches) state rewrite. */
    def kmeansFold(stateDir: String, assignDir: String, idCol: String,
                   vecCol: String, k: Int, lloydIters: Int = 1)
        : (SparkSession, DataFrame, Long) => Unit = (s, batch, epoch) => {
      import graft.ext.SimSearch
      val bid = s"b$epoch"
      val (out, newContrib) = MergeSink.readTarget(s, stateDir) match {
        case Some(c) =>
          val dim = c.select(size(col("vsum"))).head().getInt(0)
          val idx = SimSearch.KmIndex(c, k, dim)
          val (o, idx2) =
            SimSearch.incrementalKmeansAssign(batch, idCol, vecCol, idx, bid)
          // reference equality IS the redelivery signal: the operator
          // hands back the same contrib when the batch_id was present
          (o, if (idx2.contrib eq idx.contrib) None else Some(idx2.contrib))
        case None =>
          val idx = SimSearch.buildKmIndex(batch, idCol, vecCol, k,
            lloydIters, bid)
          val o = SimSearch.kmeansClusters(batch, idCol, vecCol, k, lloydIters)
          (o.localCheckpoint(), Some(idx.contrib))
      }
      val assignRows = out.select(col("id"), col("cluster_id"), col("sim"))
        .localCheckpoint()
      MergeSink.appendDedup(s, assignDir, assignRows, "id")
      newContrib.foreach(MergeSink.writeReplace(s, stateDir, _))
    }
  }

  /** Watermarked stream-stream interval join (Spark's stateful two-stream
    * join, the last streaming join shape the engine lacked): every left
    * event matches right events under `keyCond` whose timestamp falls in
    * `[lTs, lTs + withinSec)`. BOTH sides carry watermarks and the join
    * carries the time-bound condition — that is what lets Spark bound the
    * buffered state and evict rows older than the watermark; without
    * either, state grows with the stream. Inner join, so matches emit as
    * soon as both sides arrive (the watermark only governs eviction).
    * State per key is O(events inside the watermark horizon). */
  def intervalJoinStreams(left: DataFrame, lTs: String,
      right: DataFrame, rTs: String, keyCond: Column,
      withinSec: Long, watermark: String = "10 minutes"): DataFrame = {
    require(withinSec > 0, s"withinSec must be positive: $withinSec")
    left.withWatermark(lTs, watermark)
      .join(right.withWatermark(rTs, watermark),
        keyCond && col(rTs) >= col(lTs) &&
          col(rTs) < col(lTs) + expr(s"INTERVAL $withinSec SECOND"))
  }

  /** Streaming exact dedup with BOUNDED state — Spark's
    * dropDuplicatesWithinWatermark. A duplicate arriving within `delay` of
    * the watermark is dropped; a key's state is evicted once the watermark
    * passes it, so state is O(events inside the horizon), never O(stream).
    * The two alternatives both lose at scale: plain dropDuplicates on a
    * stream keeps every key forever (the classic state leak), and the
    * sink-side M4 merge ([[Sinks.appendDedup]]) is exact across any gap
    * but pays a table merge per micro-batch. This is the in-flight middle:
    * exact within the horizon, at-least-once beyond it — compose with an
    * idempotent sink when end-to-end exactness must survive horizon-older
    * redelivery. First occurrences emit immediately (append mode does not
    * wait for the watermark). Accepts either timestamp encoding via
    * [[normalizeEventTime]]. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      keyCols: Seq[String], delay: String = "10 minutes"): DataFrame = {
    require(keyCols.nonEmpty, "dedupWithinWatermark needs >= 1 key column")
    normalizeEventTime(events, tsCol).withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)
  }

  /** Cast an NTZ event-time column to session-zoned TimestampType — the
    * streaming twin of `Tables.load`'s normalization, because
    * `withWatermark` rejects TIMESTAMP_NTZ outright
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and parquet corpora ship both
    * encodings. No-op for TimestampType; the cast is the identity on stored
    * wall-clocks under the engine's fixed UTC session. */
  def normalizeEventTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      case _ => df
    }

  /** Windowed aggregation with late-data bound — the standard watermarked
    * tumbling-window shape (T4 is absent in the reference; provided as a
    * first-class extension). Accepts either timestamp encoding via
    * [[normalizeEventTime]]. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     window: String, lateness: String): DataFrame =
    normalizeEventTime(events, tsCol).withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  // -------------------------------------------------------------------
  // Custom cross-batch state: flatMapGroupsWithState sessionization.
  // The batch engine's gap-session query (q26) re-expressed as streaming
  // state — sessions close on a processing-time gap and are emitted once,
  // so unbounded streams carry O(active users) state, not history.
  // -------------------------------------------------------------------

  final case class SessionEvent(user_id: Long, ts: Timestamp)
  final case class SessionState(start: Timestamp, last: Timestamp, n: Long)
  final case class ClosedSession(user_id: Long, session_start: Timestamp,
                                 session_end: Timestamp, n_events: Long)

  /** Gap-based streaming sessionization over a typed event stream. Emits a
    * session when a new event arrives more than `gapSec` after the previous
    * one (the final open session flushes on state timeout). The
    * processing-time timeout makes Spark keep scheduling no-data batches,
    * so under `Trigger.AvailableNow` the query terminates only with
    * `spark.sql.streaming.noDataMicroBatches.enabled=false`. */
  def sessionize(events: Dataset[SessionEvent], gapSec: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              ClosedSession(user, s.start, s.last, s.n)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.last.getTime > gapSec * 1000 =>
                  closed += ClosedSession(user, s.start, s.last, s.n)
                  cur = Some(SessionState(e.ts, e.ts, 1))
                case Some(s) =>
                  cur = Some(SessionState(s.start, e.ts, s.n + 1))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1))
              }
            }
            cur.foreach(state.update)
            state.setTimeoutDuration(s"${gapSec * 2} seconds")
            closed.result().iterator
          }
      }
  }

  // -------------------------------------------------------------------
  // Streaming heavy hitters: the SpaceSaving sketch as cross-batch state.
  // Each group (e.g. an event type) keeps one bounded counter map; every
  // micro-batch folds its items in and emits the group's current top-k.
  // State is O(groups × capacity) forever — the streaming analog of q45.
  // -------------------------------------------------------------------

  final case class KeyedItem(group: String, item: String)
  /** `group_total` = items folded into the group so far — strictly grows
    * with every emitting batch, so consumers can order snapshots. */
  final case class TopKSnapshot(group: String, item: String, cnt: Long,
                                err: Long, batch_rank: Int, group_total: Long)

  /** Per-group streaming top-k via SpaceSaving (update-mode: each batch
    * re-emits the group's refreshed top `k`). The update step is
    * [[graft.functions.SketchAggs.add]] — literally the batch aggregate's
    * code, folded over an encoder-friendly Map state — so the two surfaces
    * share one set of guarantees: no undercounts, overestimates bounded by
    * `err`, exact while a group's distinct items fit `capacity`. */
  def topkFreq(items: Dataset[KeyedItem], capacity: Int, k: Int)
      : Dataset[TopKSnapshot] = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(k > 0, s"k must be positive: $k")
    import items.sparkSession.implicits._
    items.groupByKey(_.group)
      .flatMapGroupsWithState[(Map[String, (Long, Long)], Long), TopKSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (group: String, rows: Iterator[KeyedItem],
         state: GroupState[(Map[String, (Long, Long)], Long)]) =>
          val (m0, total0) = state.getOption.getOrElse((Map.empty[String, (Long, Long)], 0L))
          // state Map <-> the aggregate's mutable buffer (bounded by capacity)
          val buf = new graft.functions.SketchAggs.SSMap()
          m0.foreach { case (i, (c, e)) => buf.put(i, Array(c, e)) }
          var total = total0
          rows.foreach { r =>
            total += 1
            graft.functions.SketchAggs.add(buf, capacity, r.item, 1L, 0L)
          }
          var m = Map.empty[String, (Long, Long)]
          buf.forEach { (i, ce) => m = m.updated(i, (ce(0), ce(1))) }
          state.update((m, total))
          m.toSeq.sortBy { case (i, (c, _)) => (-c, i) }.take(k).zipWithIndex
            .map { case ((i, (c, e)), rank) =>
              TopKSnapshot(group, i, c, e, rank + 1, total) }
            .iterator
      }
  }
}
