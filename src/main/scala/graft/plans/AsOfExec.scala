package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}

/** Whole-operator custom plan (SURVEY §2's option-c extension point): a
  * merge-based left as-of join, `SparkSessionExtensions`-registered as
  * logical node + planner strategy + physical operator.
  *
  * Semantics (matches DuckDB `ASOF LEFT JOIN ... ON l.k = r.k AND
  * l.ts >= r.ts`): every left row picks the right row with the greatest
  * `ts` at or before its own, within its key; unmatched lefts keep nulls.
  *
  * Why a physical operator when [[graft.ops.AsOfJoin]] already composes it:
  * the composed form unions both sides to a COMMON width (every left row
  * carries null-padded right columns through the shuffle and the window
  * sort), while this operator asks EnsureRequirements for co-clustering on
  * the key and (key, ts) in-partition order — the same machinery
  * SortMergeJoin uses — then makes ONE forward pass per partition holding
  * exactly one buffered right row: each side shuffles at its own width and
  * merge state is O(1) instead of a window buffer. Measured tradeoff at
  * local sf0.1 (100k rows): the merge pass is interpreted (~0.8 s warm)
  * while the composed form is whole-stage-codegen'd (~0.33 s warm) — the
  * exec form's shuffle-volume and state advantages pay off at
  * memory/spill-bound scale, not on CPU-bound small inputs. Both are
  * oracle-checked against DuckDB's native ASOF (q30/q55).
  *
  * Null semantics: SQL equality — a null key or null ts matches nothing
  * (left row survives with nulls); right rows with null key/ts are
  * skipped. Ties in right ts within a key keep the last row in sort order.
  */
final case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

final case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning

  // the contract that makes the merge correct: co-clustered on key,
  // sorted inside each partition by (key, ts) — EnsureRequirements
  // inserts the exchanges/sorts exactly as it does for SortMergeJoin
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTsB = BindReferences.bindReference(leftTs, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTsB = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val nRight = right.output.size
    val outputAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)

      // buffered right cursor: `held` is the latest right row whose
      // (key, ts) precedes-or-equals the current left position. The
      // lookahead's key/ts are cached at advance time — they would
      // otherwise be re-evaluated once per left row.
      var nextR: InternalRow = null // lookahead (copied; iterators reuse rows)
      var nextRKey: Any = null
      var nextRTs: Long = 0L
      var held: InternalRow = null
      var heldKey: Any = null
      var heldTs: Long = 0L
      def advanceRight(): Unit = {
        nextR = null
        while (nextR == null && rIter.hasNext) {
          val r = rIter.next()
          // skip unmatchable rows ONCE here instead of per left row
          val k = rKeyB.eval(r)
          val t = rTsB.eval(r)
          if (k != null && t != null) {
            nextR = r.copy()
            nextRKey = k
            nextRTs = t.asInstanceOf[Long]
          }
        }
      }
      advanceRight()

      lIter.map { l =>
        val lKey = lKeyB.eval(l)
        val lTsV = lTsB.eval(l)
        if (lKey == null || lTsV == null) proj(joined(l, nullRight))
        else {
          val lTs = lTsV.asInstanceOf[Long]
          // pull right rows up to (lKey, lTs]; remember the last in-key one
          var continue = nextR != null
          while (continue) {
            val c = keyOrd.compare(nextRKey.asInstanceOf[AnyRef], lKey.asInstanceOf[AnyRef])
            if (c < 0 || (c == 0 && nextRTs <= lTs)) {
              if (c == 0) { held = nextR; heldKey = nextRKey; heldTs = nextRTs }
              advanceRight()
              continue = nextR != null
            } else continue = false
          }
          val matched = held != null && heldTs <= lTs &&
            keyOrd.compare(heldKey.asInstanceOf[AnyRef], lKey.asInstanceOf[AnyRef]) == 0
          proj(joined(l, if (matched) held else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts) :: Nil
    case _ => Nil
  }
}

object AsOfExec {
  /** DataFrame API over the custom operator. Key may be any atomic type;
    * ts columns must be TimestampType. Column names must be disjoint. */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    // self-install for sessions not built with GraftExtensions: the
    // experimental-strategies hook is the public runtime equivalent
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = GraftBridge.analyzed(left)
    val rPlan = GraftBridge.analyzed(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        sys.error(s"column $name not in ${p.output.map(_.name)}"))
    val (lts, rts) = (attr(lPlan, leftTs), attr(rPlan, rightTs))
    // both flavors carry epoch micros as Long; mixing them assumes the
    // session timezone is UTC (set engine-wide in this project)
    def isTs(dt: DataType) = dt == TimestampType || dt == TimestampNTZType
    require(isTs(lts.dataType) && isTs(rts.dataType),
      s"as-of ts columns must be timestamps: ${lts.dataType}, ${rts.dataType}")
    GraftBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey), lts, rts))
  }
}
