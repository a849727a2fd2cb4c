package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the vector hot paths (SURVEY §2.13,
  * §7.3c): pairwise similarity evaluates O(n²) times, and the built-in
  * higher-order-function formulation (`aggregate(zip_with(...))`) is
  * CodegenFallback WITH per-element lambda dispatch and boxing — measured
  * ~30× slower than a primitive loop on the 2M-pair near-dup sweep. These
  * expressions keep the per-row work in one tight JVM loop over the
  * columnar array data (no per-element allocation); per-row overhead is a
  * single virtual call.
  */
object VectorExprs {

  /** Σ aᵢ·bᵢ in double; accepts float or double arrays on either side.
    * Implements doGenCode, so pairwise sweeps stay inside whole-stage
    * codegen (interpreted eval remains as the fallback path). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(dt: DataType) = dt match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product needs array<float|double>, got ${left.dataType}, ${right.dataType}")
    }
    @inline private def isFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      (isFloat(left), isFloat(right)) match {
        case (true, true) =>
          while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
        case (false, false) =>
          while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
        case (true, false) =>
          while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
        case (false, true) =>
          while (i < n) { s += a.getDouble(i) * b.getFloat(i).toDouble; i += 1 }
      }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (n, i, acc) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("acc"))
        def get(arr: String, e: Expression) =
          if (isFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ${get(a, left)} * ${get(b, right)};
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(newLeft, newRight)
  }

  /** Count of positions where two long arrays agree (MinHash signature
    * agreement; estimated Jaccard = agree / k). Codegen'd like DotProduct. */
  case class LongArrayAgree(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var c = 0
      var i = 0
      while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
      c
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (n, i, acc) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("acc"))
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |int $acc = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.getLong($i) == $b.getLong($i)) $acc++;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(newLeft, newRight)
  }

  /** PQ encoder: per subspace j, argmin_c of the EXACT same expansion the
    * relational form (and the DuckDB oracle) computes — d = dot(vⱼ,vⱼ) −
    * 2·dot(vⱼ,cb) + dot(cb,cb), every accumulation left-to-right ascending,
    * ties to the LOWEST code — as one tight primitive loop instead of an
    * `array_sort` over nCodes freshly-allocated structs per subspace per
    * row (the measured hot path of the PQ encode at 8×: 3.2M struct sorts
    * where this does zero allocation beyond the m-int result). `books` is
    * bound at plan time (codebooks are driver-known literals); ||cb||²
    * precomputes once per plan. Codegen embeds the instance and makes one
    * virtual call per row, so the surrounding stage stays whole-stage
    * codegen'd (the DotProduct pattern). */
  case class PqEncode(child: Expression,
                      books: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    private val m = books.length
    private val nCodes = books(0).length
    private val sub = books(0)(0).length
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"pq_encode needs array<double>, got $other")
      }
    @transient private lazy val dcc: Array[Array[Double]] =
      books.map(_.map { cb =>
        var s = 0.0; var i = 0
        while (i < cb.length) { s += cb(i) * cb(i); i += 1 }
        s
      })
    override def nullSafeEval(input: Any): Any =
      encode(input.asInstanceOf[ArrayData])

    /** public for the generated code's call site (nullSafeEval is
      * protected, and codegen classes live outside this package). */
    def encode(v: ArrayData): ArrayData = {
      val codes = new Array[Int](m)
      var j = 0
      while (j < m) {
        var dvv = 0.0
        var i = 0
        while (i < sub) { val x = v.getDouble(j * sub + i); dvv += x * x; i += 1 }
        var best = Double.PositiveInfinity
        var bestC = 0
        var cc = 0
        while (cc < nCodes) {
          val cb = books(j)(cc)
          var dvc = 0.0
          i = 0
          while (i < sub) { dvc += v.getDouble(j * sub + i) * cb(i); i += 1 }
          val d = dvv - 2.0 * dvc + dcc(j)(cc)
          if (d < best) { best = d; bestC = cc } // strict <: ties keep low c
          cc += 1
        }
        codes(j) = bestC
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("pqEncode", this,
        classOf[PqEncode].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.encode($v);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** IVF coarse assignment: argmax over broadcast centroid literals of the
    * EXACT cosine the relational form computes — dot(v,c) / (||v||·||c||),
    * left-to-right accumulation, float inputs widened exactly — with the
    * `greatest`-of-structs tie rule (equal cosine → HIGHER cell id) and
    * Spark's double total order (NaN greatest, −0.0 < 0.0) via
    * Double.compare. Replaces nCells struct allocations + a greatest chain
    * per row with one primitive loop; ||c|| precomputes once per plan.
    * Codegen embeds the instance (the PqEncode pattern), keeping the
    * surrounding stage whole-stage codegen'd. */
  case class NearestCentroid(child: Expression, ids: Array[Long],
                             centroids: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(ids.length == centroids.length && ids.nonEmpty)
    override def dataType: DataType = LongType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"nearest_centroid needs array<float|double>, got $other")
      }
    @transient private lazy val cNorms: Array[Double] = centroids.map { cb =>
      var s = 0.0; var i = 0
      while (i < cb.length) { s += cb(i) * cb(i); i += 1 }
      math.sqrt(s)
    }
    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(input: Any): Any =
      nearest(input.asInstanceOf[ArrayData])

    /** public for the generated call site (see [[PqEncode.encode]]). */
    def nearest(v: ArrayData): Long = {
      val len = v.numElements()
      val fl = isFloat
      var nv = 0.0
      var i = 0
      while (i < len) {
        val x = if (fl) v.getFloat(i).toDouble else v.getDouble(i)
        nv += x * x
        i += 1
      }
      val nrm = math.sqrt(nv)
      var bestId = 0L
      var bestS = 0.0
      var first = true
      var ci = 0
      while (ci < centroids.length) {
        val cb = centroids(ci)
        val n = math.min(len, cb.length)
        var d = 0.0
        i = 0
        while (i < n) {
          d += (if (fl) v.getFloat(i).toDouble else v.getDouble(i)) * cb(i)
          i += 1
        }
        val s = d / (nrm * cNorms(ci))
        val cmp = java.lang.Double.compare(s, bestS)
        if (first || cmp > 0 || (cmp == 0 && ids(ci) > bestId)) {
          bestS = s; bestId = ids(ci); first = false
        }
        ci += 1
      }
      bestId
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("nearestCentroid", this,
        classOf[NearestCentroid].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.nearest($v);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private def c(e: Expression): Column = GraftBridge.column(e)
  private def x(col: Column): Expression = GraftBridge.expression(col)

  def dotProduct(a: Column, b: Column): Column = c(DotProduct(x(a), x(b)))
  def longArrayAgree(a: Column, b: Column): Column = c(LongArrayAgree(x(a), x(b)))
  def pqEncode(v: Column, books: Array[Array[Array[Double]]]): Column =
    c(PqEncode(x(v), books))
  def nearestCentroid(v: Column, ids: Array[Long],
                      centroids: Array[Array[Double]]): Column =
    c(NearestCentroid(x(v), ids, centroids))
}
