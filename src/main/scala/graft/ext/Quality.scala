package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Declarative data-quality checks for pipeline targets — each check
  * returns the VIOLATION rows (empty = healthy), so checks compose into
  * plans, scale like any query, and failures carry their evidence.
  * (The reference asserts health only via row-count logs; these make the
  * star-schema invariants — PK uniqueness, FK closure, SCD2 currency —
  * first-class and cheap to run per cycle.)
  */
object Quality {

  /** Rows whose key occurs more than once (PK violation). */
  def duplicates(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** Rows with a null in any of the given columns. */
  def nulls(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(c => col(c).isNull).reduce(_ || _))

  /** Child rows whose FK has no parent (anti-join; broadcast-friendly). */
  def orphans(child: DataFrame, parent: DataFrame,
              childKey: String, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")

  /** Values outside [lo, hi] (inclusive). */
  def outOfRange(df: DataFrame, c: String, lo: Double, hi: Double): DataFrame =
    df.filter(col(c).isNotNull && (col(c) < lo || col(c) > hi))

  /** Run a set of named checks; returns (name -> violation count), caching
    * nothing — each check is one lazily-planned aggregate. */
  def report(checks: Map[String, DataFrame]): Map[String, Long] =
    checks.map { case (name, df) => name -> df.count() }
}
