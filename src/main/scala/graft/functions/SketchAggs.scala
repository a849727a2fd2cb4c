package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.{HashMap => JHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable sketch aggregates beyond what Spark ships (SURVEY §7.6 "novel
  * sketch"): SpaceSaving heavy-hitters (Metwally et al., "Efficient
  * computation of frequent and top-k elements in data streams", ICDT 2005).
  *
  * SpaceSaving keeps at most `capacity` counters. A seen item increments its
  * counter; an unseen item evicts the minimum counter and inherits its count
  * as overestimation error. Guarantees: every item with true frequency
  * > N/capacity is retained, counts overestimate by at most the recorded
  * `err`, and — the property the oracle checks — when the number of
  * distinct items never exceeds `capacity`, nothing is evicted and every
  * count is EXACT with err = 0.
  *
  * Scale shape: each partition builds one bounded map (the hot path — an
  * existing key — is a single java.util.HashMap probe plus an in-place
  * `Array[Long]` increment: no boxing, no Option, no tuple churn), partial
  * buffers merge pairwise on the reduce side (counts and errors add;
  * overflow trims back to capacity keeping the largest counts). Memory is
  * O(capacity) per partition regardless of input size — the reason to use
  * it over an exact GROUP BY at 100 TB is exactly that the shuffle carries
  * `capacity` rows per partition, not one row per distinct key.
  */
object SketchAggs {

  // item -> [count, err]; java.util.HashMap keeps the per-row path
  // allocation-free (no Option/tuple wrappers)
  type SSMap = JHashMap[String, Array[Long]]

  /** The SpaceSaving update step, shared by the batch aggregate and the
    * streaming state fold ([[graft.streaming.Streams.topkFreq]]) so the
    * two surfaces cannot drift. */
  def add(buf: SSMap, capacity: Int, item: String, cnt: Long, err: Long): Unit = {
    val cell = buf.get(item)
    if (cell != null) { cell(0) += cnt; cell(1) += err }
    else if (buf.size < capacity) buf.put(item, Array(cnt, err))
    else {
      // evict the min counter; the newcomer inherits its count as error
      var mItem: String = null
      var mCnt = Long.MaxValue
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c < mCnt || (c == mCnt && (mItem == null || e.getKey < mItem))) {
          mCnt = c; mItem = e.getKey
        }
      }
      buf.remove(mItem)
      buf.put(item, Array(mCnt + cnt, mCnt + err))
    }
  }

  /** Minimum counter a summary could have silently absorbed: 0 while it
    * never evicted (size < capacity), else its smallest count. An item
    * ABSENT from such a summary may still have occurred up to this many
    * times in that summary's stream — merging must credit it. */
  private def absentCredit(buf: SSMap, capacity: Int): Long =
    if (buf.size < capacity) 0L
    else {
      var m = Long.MaxValue
      buf.forEach { (_, ce) => if (ce(0) < m) m = ce(0) }
      if (m == Long.MaxValue) 0L else m
    }

  /** SpaceSaving top-k sketch over any atomic column (keyed by its string
    * form). Returns the retained (item, cnt, err) entries sorted by
    * (cnt desc, item asc); callers explode and LIMIT for the final top-k. */
  case class SpaceSavingTopK(
      child: Expression,
      capacity: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[SSMap] {
    require(capacity > 0, s"capacity must be positive: $capacity")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("item", StringType),
      StructField("cnt", LongType),
      StructField("err", LongType))))

    override def createAggregationBuffer(): SSMap = new JHashMap()

    override def update(buf: SSMap, input: InternalRow): SSMap = {
      val v = child.eval(input)
      if (v != null) SketchAggs.add(buf, capacity, v.toString, 1L, 0L)
      buf
    }

    /** Mergeable-summaries merge (Agarwal et al., TODS 2013): an item
      * absent from one summary may still have occurred up to that
      * summary's minimum counter many times there (it could have been
      * evicted), so absence credits the min as both count and error —
      * simply copying (the naive merge) would UNDERCOUNT items split
      * across partials and falsely report them exact. In the exact regime
      * (no summary ever evicted) both credits are 0 and counts stay exact. */
    override def merge(buf: SSMap, other: SSMap): SSMap = {
      val creditBuf = absentCredit(buf, capacity)   // for items only in other
      val creditOth = absentCredit(other, capacity) // for items only in buf
      if (creditOth > 0)
        buf.forEach { (item, ce) =>
          if (other.get(item) == null) { ce(0) += creditOth; ce(1) += creditOth }
        }
      other.forEach { (item, ce) =>
        val cell = buf.get(item)
        if (cell != null) { cell(0) += ce(0); cell(1) += ce(1) }
        else buf.put(item, Array(ce(0) + creditBuf, ce(1) + creditBuf))
      }
      if (buf.size > capacity) {
        // keep the `capacity` largest counts (deterministic tie-break on item)
        val keep = buf.entrySet().asScala.toSeq
          .sortBy(e => (-e.getValue()(0), e.getKey)).take(capacity)
          .map(e => (e.getKey, e.getValue))
        buf.clear()
        keep.foreach { case (i, ce) => buf.put(i, ce) }
      }
      buf
    }

    override def eval(buf: SSMap): Any = {
      val sorted = buf.entrySet().asScala.toSeq
        .sortBy(e => (-e.getValue()(0), e.getKey))
      new GenericArrayData(sorted.map { e =>
        InternalRow(UTF8String.fromString(e.getKey), e.getValue()(0), e.getValue()(1))
      }.toArray[Any])
    }

    override def serialize(buf: SSMap): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.forEach { (i, ce) =>
        // length-prefixed raw UTF-8, not writeUTF: items beyond 64 KiB
        // (e.g. whole document texts) must survive the shuffle
        val b = i.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
        out.writeLong(ce(0)); out.writeLong(ce(1))
      }
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): SSMap = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val m: SSMap = new JHashMap()
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        m.put(new String(b, java.nio.charset.StandardCharsets.UTF_8),
          Array(in.readLong(), in.readLong()))
        i += 1
      }
      m
    }

    override def withNewMutableAggBufferOffset(o: Int): SpaceSavingTopK =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): SpaceSavingTopK =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): SpaceSavingTopK = copy(child = c.head)
    override def prettyName: String = "topk_freq"
  }

  /** Column API: `topkFreq($"item", 1024)` → array<struct<item,cnt,err>>.
    * Pass the column UNCAST — keys use the value's string form directly,
    * which skips an interpreted per-row Cast. */
  def topkFreq(col: Column, capacity: Int): Column =
    GraftBridge.column(
      SpaceSavingTopK(GraftBridge.expression(col), capacity)
        .toAggregateExpression())

  // ---------------------------------------------------------------------
  // Incremental distinct-count state: one DataSketches HLL sketch per key
  // (Spark's hll_sketch_agg/hll_union_agg/hll_sketch_estimate surface —
  // the Datasketches jars ship with the engine). The sketch IS the
  // persisted state of a batch-by-batch cardinality fold: per-batch
  // sketches union into the running state, and union is idempotent at the
  // register level (re-folding an already-merged batch state is a no-op),
  // so at-least-once redelivery is harmless BY CONSTRUCTION — no
  // contribution-keying needed, unlike the count-based q77 fold. Note the
  // fold is idempotent but not bit-equal to a one-shot sketch: the union
  // operator's coupon/dense promotion history can differ slightly from a
  // directly-built sketch's (the spec pins a 2% band). Bytes per key are bounded by
  // lgK (2^lgK registers), independent of stream length.
  // ---------------------------------------------------------------------
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, expr}

  /** Per-key HLL sketch of the values seen in `df` — one batch's distinct
    * state: (key, sketch binary). lgK=12 ⇒ ~2.5 KB/key, rel. err ~1.6%. */
  def distinctState(df: DataFrame, key: Column, value: Column,
      lgK: Int = 12): DataFrame =
    df.select(key.as("key"), value.as("__v"))
      .groupBy(col("key"))
      .agg(expr(s"hll_sketch_agg(__v, $lgK)").as("sketch"))

  /** Union per-key sketch states (the fold step; also the compaction of
    * many persisted batch states into one). Mixed-lgK states are rejected
    * loudly rather than silently degraded. */
  def foldDistinctState(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "foldDistinctState needs at least one state")
    states.reduce(_ unionByName _)
      .groupBy(col("key"))
      .agg(expr("hll_union_agg(sketch, false)").as("sketch"))
  }

  /** Read the current cardinality estimates out of a state. */
  def distinctEstimate(state: DataFrame): DataFrame =
    state.select(col("key"),
      expr("hll_sketch_estimate(sketch)").as("estimate"))

  // ---------------------------------------------------------------------
  // Incremental QUANTILE state: one DataSketches KLL doubles sketch per
  // key (Karnin/Lang/Liberty, FOCS 2016 — the mergeable quantile summary;
  // Spark ships the jar but no SQL surface, so the aggregates are custom
  // TypedImperativeAggregates like SpaceSavingTopK). The sketch IS the
  // persisted state of a batch-by-batch percentile fold. Guarantees:
  //  - n <= k ⇒ NO compaction: every value retained, quantiles EXACT and
  //    deterministic (the regime the oracle value-checks).
  //  - n > k ⇒ rank error ~1.65%/sqrt-ish at k=200 (≤1% at the default);
  //    compaction draws a random offset, so the state BYTES are not
  //    partition-deterministic — only rank-banded properties are stable,
  //    the q32 treatment (exact value + band boolean) applies.
  //  - merge is NOT idempotent (re-merging a batch re-weights its ranks),
  //    so the streaming fold keys contributions by batch_id — the q77
  //    discipline, NOT the HLL free ride.
  // ---------------------------------------------------------------------
  import org.apache.datasketches.kll.KllDoublesSketch
  import org.apache.datasketches.memory.Memory

  /** KLL doubles sketch aggregate → serialized sketch bytes (the STATE
    * form; query with [[kllQuantile]]). Nulls skipped; empty input ⇒ an
    * empty sketch (not null), so folds never see null state. */
  case class KllSketchAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[KllDoublesSketch] {
    require(k >= 8 && k <= 65535, s"KLL k out of range: $k")
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): KllDoublesSketch =
      KllDoublesSketch.newHeapInstance(k)
    override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
      val v = child.eval(input)
      if (v != null) buf.update(v.asInstanceOf[Double])
      buf
    }
    override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
      buf.merge(other); buf
    }
    override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
    override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
    override def deserialize(bytes: Array[Byte]): KllDoublesSketch = {
      val s = KllDoublesSketch.newHeapInstance(k)
      s.merge(KllDoublesSketch.heapify(Memory.wrap(bytes)))
      s
    }
    override def withNewMutableAggBufferOffset(o: Int): KllSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KllSketchAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): KllSketchAgg = copy(child = c.head)
    override def prettyName: String = "kll_sketch"
  }

  /** Union aggregate over serialized KLL sketches (the fold step). */
  case class KllMergeAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[KllDoublesSketch] {
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): KllDoublesSketch =
      KllDoublesSketch.newHeapInstance(k)
    override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
      val v = child.eval(input)
      if (v != null)
        buf.merge(KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
      buf
    }
    override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
      buf.merge(other); buf
    }
    override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
    override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
    override def deserialize(bytes: Array[Byte]): KllDoublesSketch = {
      val s = KllDoublesSketch.newHeapInstance(k)
      s.merge(KllDoublesSketch.heapify(Memory.wrap(bytes)))
      s
    }
    override def withNewMutableAggBufferOffset(o: Int): KllMergeAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KllMergeAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): KllMergeAgg = copy(child = c.head)
    override def prettyName: String = "kll_merge"
  }

  /** Scalar quantile query over a serialized KLL sketch column. Runs on
    * O(keys) state rows, never the corpus — interpreted eval is fine. */
  case class KllQuantileExpr(sketch: Expression, prob: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def left: Expression = sketch
    override def right: Expression = prob
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(s: Any, p: Any): Any = {
      val sk = KllDoublesSketch.heapify(Memory.wrap(s.asInstanceOf[Array[Byte]]))
      if (sk.isEmpty) null else sk.getQuantile(p.asInstanceOf[Double])
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): KllQuantileExpr = copy(sketch = l, prob = r)
    override def prettyName: String = "kll_quantile"
  }

  // ---------------------------------------------------------------------
  // Theta sketches: distinct-count state that also supports SET ALGEBRA
  // (intersection/difference) — what HLL cannot do. The use: audience /
  // membership overlap across segments ("how many users does every pair
  // of event types share?") without a quadratic exact join per pair.
  // Theta is a KMV-style min-hash set with a fixed seed: deterministic
  // and order/partition-independent, and EXACT below 2^lgK retained
  // hashes (the regime the oracle value-checks).
  // ---------------------------------------------------------------------
  import org.apache.datasketches.theta.{SetOperation, Sketches, Union => ThetaUnion}

  /** Theta sketch aggregate → compact sketch bytes (keyed by the value's
    * string form, like [[SpaceSavingTopK]]). */
  case class ThetaSketchAgg(
      child: Expression,
      lgK: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ThetaUnion] {
    require(lgK >= 4 && lgK <= 26, s"theta lgK out of range: $lgK")
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    private def newUnion(): ThetaUnion =
      SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
    override def createAggregationBuffer(): ThetaUnion = newUnion()
    override def update(buf: ThetaUnion, input: InternalRow): ThetaUnion = {
      val v = child.eval(input)
      if (v != null) buf.update(v.toString)
      buf
    }
    override def merge(buf: ThetaUnion, other: ThetaUnion): ThetaUnion = {
      buf.union(other.getResult); buf
    }
    override def eval(buf: ThetaUnion): Any = buf.getResult.toByteArray
    override def serialize(buf: ThetaUnion): Array[Byte] =
      buf.getResult.toByteArray
    override def deserialize(bytes: Array[Byte]): ThetaUnion = {
      val u = newUnion()
      u.union(Sketches.wrapSketch(
        org.apache.datasketches.memory.Memory.wrap(bytes)))
      u
    }
    override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = c.head)
    override def prettyName: String = "theta_sketch"
  }

  /** Per-key theta sketch of the values in `df`: (key, tsketch). */
  def thetaState(df: DataFrame, key: Column, value: Column,
                 lgK: Int = 12): DataFrame =
    df.select(key.as("key"), value.as("__v"))
      .groupBy(col("key"))
      .agg(GraftBridge.column(
        ThetaSketchAgg(GraftBridge.expression(col("__v")), lgK)
          .toAggregateExpression()).as("tsketch"))

  /** Pairwise distinct-overlap matrix from a theta state: every key pair
    * (key_a < key_b by string order) with per-key and intersection
    * estimates. The collect is O(keys) sketches — the whole point is
    * that the corpus-sized work happened once in [[thetaState]] and k²
    * set intersections run on compact summaries; bound `maxKeys` fails
    * loudly rather than collecting an unbounded key space. */
  def thetaOverlap(state: DataFrame, maxKeys: Int = 1000): DataFrame = {
    val rows = state.select(col("key").cast("string"), col("tsketch"))
      .limit(maxKeys + 1).collect()
    require(rows.length <= maxKeys,
      s"thetaOverlap: more than $maxKeys keys — aggregate coarser first")
    val sk = rows.map(r => (r.getString(0),
      Sketches.wrapSketch(org.apache.datasketches.memory.Memory.wrap(
        r.getAs[Array[Byte]](1))))).sortBy(_._1)
    val pairs = for {
      i <- sk.indices; j <- (i + 1) until sk.length
    } yield {
      val inter = SetOperation.builder().buildIntersection()
      inter.intersect(sk(i)._2); inter.intersect(sk(j)._2)
      (sk(i)._1, sk(j)._1, sk(i)._2.getEstimate, sk(j)._2.getEstimate,
        inter.getResult.getEstimate)
    }
    val sp = state.sparkSession
    import sp.implicits._
    pairs.toSeq.toDF("key_a", "key_b", "est_a", "est_b", "est_shared")
  }

  /** Per-key KLL quantile sketch of `value` — one batch's quantile state:
    * (key, qsketch binary). k=200 ⇒ ~5 KB/key ceiling, ~1% rank error. */
  def quantileState(df: DataFrame, key: Column, value: Column,
                    k: Int = 200): DataFrame =
    df.select(key.as("key"), value.cast("double").as("__v"))
      .groupBy(col("key"))
      .agg(GraftBridge.column(
        KllSketchAgg(GraftBridge.expression(col("__v")), k)
          .toAggregateExpression()).as("qsketch"))

  /** Union per-key quantile states (the fold / compaction step). NOT
    * redelivery-idempotent — key contributions by batch_id upstream (see
    * [[graft.streaming.Streams.Sinks.quantileFold]]). */
  def foldQuantileState(k: Int, states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "foldQuantileState needs at least one state")
    states.reduce(_ unionByName _)
      .groupBy(col("key"))
      .agg(GraftBridge.column(
        KllMergeAgg(GraftBridge.expression(col("qsketch")), k)
          .toAggregateExpression()).as("qsketch"))
  }

  /** Read quantile estimates out of a state: one `p<prob>` column per
    * requested rank. */
  def quantileEstimate(state: DataFrame, probs: Seq[Double]): DataFrame =
    state.select(col("key") +: probs.map { p =>
      GraftBridge.column(KllQuantileExpr(
        GraftBridge.expression(col("qsketch")),
        GraftBridge.expression(org.apache.spark.sql.functions.lit(p))))
        .as(s"p${(p * 100).round}")
    }: _*)

  // ---------------------------------------------------------------------
  // Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005): the
  // point-FREQUENCY summary completing the sketch family — HLL answers
  // "how many distinct", KLL "what value at rank p", theta "how much
  // overlap", SpaceSaving "which items are hot"; Count-Min answers "how
  // often did THIS item occur" for arbitrary (including cold) items in
  // O(depth·width) memory. Estimates NEVER undercount (each counter only
  // ever adds), and overcount by at most 2N/width with probability
  // ≥ 1 − 2^−depth. Counters add elementwise, so partials merge
  // associatively — the same mergeable-summaries shape as the rest of the
  // family, and the state of an incremental frequency fold.
  // Hashing is scala.util.hashing.MurmurHash3.stringHash with the row
  // index as seed — a pure-Scala, JVM-stable function, so sketches are
  // bit-deterministic across partitionings and runs (no query-side oracle
  // can recompute md5-free hashes, so correctness rows use the q32
  // treatment: exact counts value-checked, sketch properties as booleans).
  // ---------------------------------------------------------------------

  /** Counter index of `item` in hash row `row`: stable across JVMs. */
  def cmIndex(item: String, row: Int, width: Int): Int =
    java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(item, row), width)

  /** Count-Min aggregate → flat counter array (row-major depth×width).
    * Nulls are skipped; items are keyed by their string form, matching
    * [[SpaceSavingTopK]]. */
  case class CountMinAgg(
      child: Expression,
      depth: Int,
      width: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    require(depth > 0 && depth <= 16, s"depth out of (0,16]: $depth")
    require(width > 0, s"width must be positive: $width")
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType)
    override def createAggregationBuffer(): Array[Long] =
      new Array[Long](depth * width)
    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val s = v.toString
        var r = 0
        while (r < depth) {
          buf(r * width + cmIndex(s, r, width)) += 1L
          r += 1
        }
      }
      buf
    }
    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
      var i = 0
      while (i < buf.length) { buf(i) += other(i); i += 1 }
      buf
    }
    override def eval(buf: Array[Long]): Any =
      new GenericArrayData(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
      bb.asLongBuffer().put(buf)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val out = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      out
    }
    override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): CountMinAgg = copy(child = c.head)
    override def prettyName: String = "count_min"
  }

  /** One-row Count-Min state of `item`'s frequencies: (cm array<long>).
    * Groupable upstream (`df.groupBy(...).agg(cmAgg(...))`) for per-key
    * states; this is the whole-table form. */
  def cmState(df: DataFrame, item: Column, depth: Int, width: Int): DataFrame =
    df.agg(GraftBridge.column(
      CountMinAgg(GraftBridge.expression(item), depth, width)
        .toAggregateExpression()).as("cm"))

  /** Fold Count-Min states built with the SAME (depth, width): counters
    * add elementwise via `zip_with` — redelivery is NOT idempotent (counts
    * re-add), so an incremental fold keys contributions by batch_id, the
    * q77/KLL discipline. */
  def foldCmState(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "foldCmState needs at least one state")
    states.reduce(_ unionByName _)
      .agg(org.apache.spark.sql.functions.aggregate(
        org.apache.spark.sql.functions.collect_list(col("cm")),
        org.apache.spark.sql.functions.lit(null).cast("array<bigint>"),
        (acc, x) => org.apache.spark.sql.functions.when(acc.isNull, x)
          .otherwise(org.apache.spark.sql.functions.zip_with(
            acc, x, (a, b) => a + b))).as("cm"))
  }

  // ---------------------------------------------------------------------
  // Bloom-filter aggregate (org.apache.spark.util.sketch.BloomFilter —
  // ships with Spark; the engine adds the missing GROUPED aggregate form:
  // Spark's stat.bloomFilter covers one whole DataFrame only). Items key
  // by their string form; merge is bitwise OR, so partials combine
  // associatively like the rest of the sketch family. Primary consumer:
  // the per-FILE sidecar index of [[graft.ops.Layout.buildBloomIndex]].
  // ---------------------------------------------------------------------
  import org.apache.spark.util.sketch.BloomFilter

  /** Bloom aggregate → serialized filter bytes. `expectedItems`/`fpp`
    * size the filter (bits ≈ −n·ln(fpp)/ln²2). */
  case class BloomAgg(
      child: Expression,
      expectedItems: Long,
      fpp: Double,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[BloomFilter] {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp out of (0,1): $fpp")
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): BloomFilter =
      BloomFilter.create(expectedItems, fpp)
    override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
      val v = child.eval(input)
      if (v != null) buf.putString(v.toString)
      buf
    }
    override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = {
      buf.mergeInPlace(other); buf
    }
    override def eval(buf: BloomFilter): Any = serialize(buf)
    override def serialize(buf: BloomFilter): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      buf.writeTo(bos)
      bos.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): BloomFilter =
      BloomFilter.readFrom(new ByteArrayInputStream(bytes))
    override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BloomAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): BloomAgg = copy(child = c.head)
    override def prettyName: String = "bloom_agg"
  }

  /** Column API: `bloomAgg($"uid", 10000, 0.01)` → binary filter bytes.
    * Query driver-side with [[bloomMightContain]]. */
  def bloomAgg(col: Column, expectedItems: Long, fpp: Double): Column =
    GraftBridge.column(
      BloomAgg(GraftBridge.expression(col), expectedItems, fpp)
        .toAggregateExpression())

  /** Membership probe against serialized [[BloomAgg]] bytes. */
  def bloomMightContain(bytes: Array[Byte], item: String): Boolean =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes)).mightContainString(item)

  // ---------------------------------------------------------------------
  // Bounded-heap top-k rows per group: the aggregate form of
  // `row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k`. The window
  // form shuffles EVERY row of a group to one task and sorts it; the
  // aggregate form keeps a k-element heap per group per partition, so the
  // shuffle carries at most k rows per (group, partition) and no sort ever
  // sees more than k+1 elements — the difference between "top 3 orders per
  // customer" costing O(orders) shuffle bytes and O(3·customers). Exact
  // (not a sketch): a group's true top-k survives any partitioning because
  // per-partition top-k's union contains the global top-k. Determinism:
  // total order is (value DESC, tie ASC) with a caller-supplied unique tie.
  // ---------------------------------------------------------------------

  private def topkOrdering: Ordering[(Double, String)] =
    Ordering.by[(Double, String), (Double, String)] {
      case (v, t) => (-v, t)
    }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))

  /** (value, tie) MULTISET kept to the k largest under (val DESC, tie
    * ASC): counts ride with each distinct pair so exact duplicate rows
    * rank like the `row_number` window this aggregate replaces (a plain
    * set would silently dedupe them, returning fewer rows / shifted
    * ranks on a corpus with duplicate (group, tie) rows). */
  final class TopKBuf {
    val map = new java.util.TreeMap[(Double, String), Int](
      topkOrdering)
    var total: Int = 0
  }

  /** Top-k (value, tie) aggregate → array<struct<tie,val>> sorted by
    * (val DESC, tie ASC). Null values or ties are skipped. */
  case class TopKRowsAgg(
      value: Expression,
      tie: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKBuf] {
    require(k > 0, s"k must be positive: $k")
    override def children: Seq[Expression] = Seq(value, tie)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("tie", StringType),
      StructField("val", DoubleType))))
    override def createAggregationBuffer(): TopKBuf = new TopKBuf
    private def push(buf: TopKBuf, v: Double, t: String, n: Int = 1): Unit = {
      val key = (v, t)
      val kept = // never keep more than k copies of one key
        math.min(n.toLong, k.toLong).toInt
      buf.map.merge(key, kept, (a, b) => a + b)
      buf.total += kept
      while (buf.total > k) {
        val worst = buf.map.lastEntry()
        val drop = math.min(worst.getValue, buf.total - k)
        if (worst.getValue == drop) buf.map.remove(worst.getKey)
        else buf.map.put(worst.getKey, worst.getValue - drop)
        buf.total -= drop
      }
    }
    override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
      val v = value.eval(input)
      val t = tie.eval(input)
      if (v != null && t != null)
        push(buf, v.asInstanceOf[Double], t.toString)
      buf
    }
    override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
      val it = other.map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        push(buf, e.getKey._1, e.getKey._2, e.getValue)
      }
      buf
    }
    override def eval(buf: TopKBuf): Any = {
      val rows = new Array[Any](buf.total)
      val it = buf.map.entrySet().iterator()
      var i = 0
      while (it.hasNext) {
        val e = it.next()
        val (v, t) = e.getKey
        var c = 0
        while (c < e.getValue) {
          rows(i) = InternalRow(UTF8String.fromString(t), v)
          i += 1; c += 1
        }
      }
      new GenericArrayData(rows)
    }
    override def serialize(buf: TopKBuf): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.map.size)
      val it = buf.map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out.writeDouble(e.getKey._1); out.writeUTF(e.getKey._2)
        out.writeInt(e.getValue)
      }
      out.flush(); bos.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): TopKBuf = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val buf = createAggregationBuffer()
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val v = in.readDouble(); val t = in.readUTF(); val c = in.readInt()
        buf.map.put((v, t), c); buf.total += c
        i += 1
      }
      buf
    }
    override def withNewMutableAggBufferOffset(o: Int): TopKRowsAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKRowsAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): TopKRowsAgg =
      copy(value = c(0), tie = c(1))
    override def prettyName: String = "topk_rows"
  }

  /** Top-k rows per group: (groupCols..., rnk, tie, val), rnk 1-based in
    * (val DESC, tie ASC) order. A unique `tie` within a group (the row's
    * id) gives a fully deterministic ranking; exact duplicate (val, tie)
    * rows are kept as a multiset and rank consecutively, exactly like
    * the `row_number` window form. */
  def topkRows(df: DataFrame, groupCols: Seq[Column], value: Column,
      tie: Column, k: Int): DataFrame = {
    val agg = GraftBridge.column(TopKRowsAgg(
      GraftBridge.expression(value.cast("double")),
      GraftBridge.expression(tie.cast("string")), k)
      .toAggregateExpression())
    df.groupBy(groupCols: _*)
      .agg(agg.as("__top"))
      .select(col("*"), org.apache.spark.sql.functions.posexplode(col("__top"))
        .as(Seq("__p", "__r")))
      .withColumn("rnk", (col("__p") + 1).cast("long"))
      .withColumn("tie", col("__r.tie"))
      .withColumn("val", col("__r.val"))
      .drop("__top", "__p", "__r")
  }

  /** Join-size estimate from two Count-Min states over the SAME
    * (depth, width, hash family): |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k), and
    * the per-row inner product Σ_j cmA[r][j]·cmB[r][j] never undercounts
    * it (every true pair lands in matching counters; collisions only
    * add), so the min over rows is an upper bound that tightens with
    * width — the classic AMS/CM inner-product result, and the number a
    * join planner wants BEFORE committing to a shuffle strategy. Both
    * sketches are depth·width longs: a bounded driver computation. */
  def cmJoinSizeEstimate(stateA: DataFrame, stateB: DataFrame,
      depth: Int, width: Int): Long = {
    val a = stateA.select(col("cm")).head().getSeq[Long](0)
    val b = stateB.select(col("cm")).head().getSeq[Long](0)
    require(a.length == depth * width && b.length == depth * width,
      s"state sizes ${a.length}/${b.length} != depth*width ${depth * width}")
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      var dot = 0L
      var j = 0
      while (j < width) { dot += a(r * width + j) * b(r * width + j); j += 1 }
      if (dot < best) best = dot
      r += 1
    }
    best
  }

  /** Point-query `items` against a Count-Min state: (item, est). The
    * sketch is depth·width longs — a bounded driver collect (the whole
    * point of the sketch: the 100 TB pass built it, the query is O(1)). */
  def cmEstimates(state: DataFrame, items: Seq[String],
      depth: Int, width: Int): DataFrame = {
    require(items.nonEmpty, "cmEstimates needs at least one item")
    val sketch = state.select(col("cm")).head().getSeq[Long](0)
    require(sketch.length == depth * width,
      s"state size ${sketch.length} != depth*width ${depth * width}")
    val ests = items.map { it =>
      var m = Long.MaxValue
      var r = 0
      while (r < depth) {
        val c = sketch(r * width + cmIndex(it, r, width))
        if (c < m) m = c
        r += 1
      }
      (it, m)
    }
    val sp = state.sparkSession
    import sp.implicits._
    ests.toDF("item", "est")
  }
}
