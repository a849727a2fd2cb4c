package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the most recent right row with
  * right.time <= left.time for the same key — the canonical time-series
  * operator Spark lacks natively (SURVEY §7.3 preference (a): COMPOSE from
  * built-ins before reaching for a custom SparkPlan).
  *
  * Composition: tag and union both sides into one keyed stream, then one
  * window pass per key ordered by (time, rightness-first) carries the right
  * row forward with `last(_, ignoreNulls = true)`; keep only left rows.
  * The right columns travel as ONE struct so the matched row is carried
  * atomically — carrying columns independently would back-fill a NULL in
  * the matched row from an older right row, silently mixing rows.
  * Cost: one shuffle on the key — the same exchange a custom sort-merge
  * as-of physical operator would need — then a linear per-key scan. Ties
  * (left.time == right.time) match the right row, mirroring ASOF's `>=`.
  * Left-join semantics: lefts with no earlier right keep nulls.
  *
  * `right` must be unique per (key, time); pre-aggregate if not, or the
  * carried row at a duplicated timestamp is unspecified (as in DuckDB ASOF).
  */
object AsOfJoin {

  def asof(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val rStructType = org.apache.spark.sql.types.StructType(
      rightCols.map(c => right.schema(right.schema.fieldIndex(c))))
    val lSide = left.select(
      (leftCols.map(col) ++
        Seq(lit(null).cast(rStructType).as("__r"),
          col(leftKey).as("__k"), col(leftTime).as("__t"),
          lit(1).as("__is_left"))): _*)
    val rSide = right.select(
      (leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(struct(rightCols.map(col): _*).as("__r"),
          col(rightKey).as("__k"), col(rightTime).as("__t"),
          lit(0).as("__is_left"))): _*)
    val unioned = lSide.unionByName(rSide)
    // rights sort BEFORE lefts at equal time, so an exact-tie left sees them
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one last() over the whole struct: the struct is null for left rows and
    // never null for right rows, so ignoreNulls skips lefts but carries the
    // matched right row whole, nulls inside it preserved
    val carried = unioned.withColumn("__c",
      last(col("__r"), ignoreNulls = true).over(w))
    carried.filter(col("__is_left") === 1)
      .select(leftCols.map(col) ++
        rightCols.map(c => col("__c").getField(c).as(s"asof_$c")): _*)
  }
}
