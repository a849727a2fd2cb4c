package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** The GraftExtensions optimizer rule: naive range joins become binned
  * equi-joins (same rows, no nested loop); guarded patterns stay put. */
class RangeJoinRewriteSpec extends SparkTestBase {

  private lazy val ext = GraftBridge.withExtensions(spark,
    new GraftExtensions()(_))

  private def t(s: String) = Timestamp.valueOf(s)

  private def points(s: org.apache.spark.sql.SparkSession) = {
    val sq = s.sqlContext
    import sq.implicits._
    (1 to 500).map(i =>
      (i.toLong, new Timestamp(t("2024-01-01 00:00:00").getTime + i * 60000L)))
      .toDF("pid", "ts")
  }
  private def intervals(s: org.apache.spark.sql.SparkSession) = {
    val sq = s.sqlContext
    import sq.implicits._
    (0 until 20).map { i =>
      val start = t("2024-01-01 00:00:00").getTime + i * 1500000L
      (i.toLong, new Timestamp(start), new Timestamp(start + 1200000L))
    }.toDF("iid", "s", "e")
  }

  test("pure range join is rewritten: no nested loop, identical rows") {
    val joined = points(ext).join(intervals(ext),
      col("ts") >= col("s") && col("ts") < col("e"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("__graft_bin"), plan)

    val got = joined.select("pid", "iid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same query on the plain session plans a BNLJ but gives truth
    val expected = points(spark).join(intervals(spark),
        col("ts") >= col("s") && col("ts") < col("e"))
      .select("pid", "iid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("inclusive upper bound (<=) is rewritten with matching semantics") {
    val joined = points(ext).join(intervals(ext),
      col("ts") >= col("s") && col("ts") <= col("e"))
    assert(!joined.queryExecution.executedPlan.toString.contains("NestedLoop"))
    val got = joined.count()
    val expected = points(spark).join(intervals(spark),
      col("ts") >= col("s") && col("ts") <= col("e")).count()
    assert(got == expected)
  }

  test("joins with an equi-key are left alone (Spark already hashes them)") {
    val l = points(ext).withColumn("k", col("pid") % 5)
    val r = intervals(ext).withColumn("k2", col("iid") % 5)
    val joined = l.join(r,
      col("k") === col("k2") && col("ts") >= col("s") && col("ts") < col("e"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_bin"), plan)
    // correctness unchanged either way
    val expected = points(spark).withColumn("k", col("pid") % 5)
      .join(intervals(spark).withColumn("k2", col("iid") % 5),
        col("k") === col("k2") && col("ts") >= col("s") && col("ts") < col("e"))
    assert(joined.count() == expected.count())
  }

  test("extension also installs the SQL function surface") {
    assert(ext.sql("SELECT safe_bool('yes') AS b").collect()(0).getBoolean(0))
  }
}
