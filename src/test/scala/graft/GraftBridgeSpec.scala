package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{GraftBridge => ColumnBridge}
import org.apache.spark.sql.graftbridge.{GraftBridge => PlanBridge}
import org.apache.spark.sql.graftbridge.{GraftBridge => SessionBridge}
import org.apache.spark.sql.graftbridge.{GraftBridge => StreamingBridge}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Smoke guard for `org.apache.spark.sql.graftbridge` — the four thin
  * shims that reach private[sql] Spark internals (the same trick Delta
  * uses). These are the ONLY places a Spark minor bump can break at
  * runtime instead of compile time, so every bridged entry point is
  * exercised here; a bump that moves an internal fails THIS suite with a
  * clear name instead of a NoSuchMethodError mid-query. The supported
  * Spark range is pinned in README ("Spark version pin"). */
class GraftBridgeSpec extends SparkTestBase {

  test("ColumnBridge round-trips Column <-> Expression") {
    val c = col("x") + lit(1)
    val e = ColumnBridge.expression(c)
    assert(e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression])
    val back = ColumnBridge.column(e)
    val sq = spark.sqlContext; import sq.implicits._
    assert(Seq(41L).toDF("x").select(back.as("y")).head.getLong(0) == 42L)
  }

  test("PlanBridge builds a DataFrame from a LogicalPlan and reads one back") {
    val sq = spark.sqlContext; import sq.implicits._
    val df = Seq(1L, 2L, 3L).toDF("v")
    val plan = PlanBridge.analyzed(df)
    val back = PlanBridge.ofRows(spark, plan)
    assert(back.agg(sum("v")).head.getLong(0) == 6L)
  }

  test("SessionBridge.withExtensions yields a working sibling session") {
    val s = SessionBridge.withExtensions(spark, new GraftExtensions()(_))
    assert(s ne spark)
    assert(s.sql("SELECT 40 + 2").head.getInt(0) == 42)
    // the extension actually registered (house SQL functions resolve)
    assert(s.sql("SELECT safe_bool('yes')").head.getBoolean(0))
  }

  test("StreamingBridge flips isStreaming both ways and builds V1 relations") {
    val sq = spark.sqlContext; import sq.implicits._
    val batch = Seq((1L, "a")).toDF("id", "name")
    val streaming = StreamingBridge.asStreaming(batch)
    assert(streaming.isStreaming)
    // asBatch on a synthetic streaming frame would trip the batch checker
    // (real Sink.addBatch frames execute under IncrementalExecution, which
    // permits streaming leaves — GraftStreamSinkSpec covers that path
    // end-to-end); the bridged internals are the same either way
    val back = StreamingBridge.asBatch(batch)
    assert(!back.isStreaming && back.count() == 1)

    val empty = StreamingBridge.emptyStreaming(spark,
      StructType(Seq(StructField("id", LongType))))
    assert(empty.isStreaming && empty.schema.fieldNames.sameElements(Array("id")))

    val dir = tmpDir("bridge-v1src")
    graft.merge.TxTable.append(spark, dir, Seq((1L, "x")).toDF("id", "name"))
    val rel = StreamingBridge.v1StreamingRelation(spark, "graft",
      Map("path" -> dir))
    assert(rel.output.map(_.name).toSet == Set("id", "name"))
  }
}
