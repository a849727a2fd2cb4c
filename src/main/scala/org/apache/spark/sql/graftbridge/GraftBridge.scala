package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils,
  SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The one shim into Spark internals. Spark 4 gates what custom Catalyst
  * code needs behind `private[sql]` / `private[spark]` (the Column ⇄
  * Expression converters, `Dataset.ofRows`, `internalCreateDataFrame`,
  * `SerializableConfiguration`, the extension-taking session constructor),
  * so this object sits inside the `org.apache.spark.sql` namespace — the
  * same reach-in Delta uses — and everything else stays on public API.
  * A Spark minor bump that moves an internal breaks here, and
  * GraftBridgeSpec exercises every entry point. */
object GraftBridge {

  // --- Column ⇄ Expression: custom expressions and aggregates
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  // --- DataFrame ⇄ LogicalPlan: custom logical operators
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  // --- DataFrame ⇄ RDD[InternalRow]: iterative drivers (label propagation,
  // trainers) that pin each round with `localCheckpoint` pay TWO jobs per
  // round when the convergence check is a second action. Dropping to the
  // internal RDD lets the loop fold a side-channel (accumulator) into the
  // SAME map that the checkpoint materializes — `Dataset.localCheckpoint`
  // is itself `toRdd.map(_.copy()).localCheckpoint()` + an action, so this
  // changes WHERE the convergence bit is read, not what is computed.
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  def fromInternalRdd(spark: SparkSession, rdd: RDD[InternalRow],
                      schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rdd, schema)

  /** Ship a Hadoop `Configuration` into executor closures (the distributed
    * footer scan in `TxTable.convertInPlace` — a 100 TB adoption reads
    * millions of footers and must not serialize them through the driver). */
  def serializable(conf: Configuration): SerializableConfiguration =
    new SerializableConfiguration(conf)

  /** A sibling SparkSession with extra SparkSessionExtensions on an
    * EXISTING SparkContext. The builder's `withExtensions(...)
    * .getOrCreate()` silently ignores extensions when a session already
    * exists, and the classic constructor that takes them is `private[sql]`
    * — so tests exercising `graft.GraftExtensions` against the shared test
    * context need this. */
  def withExtensions(base: SparkSession,
      f: SparkSessionExtensions => Unit): SparkSession = {
    val ext = new SparkSessionExtensions
    f(ext)
    // the (sc, sharedState, sessionState, extensions, options, parameters)
    // constructor is package-private below `sql`; it is public in bytecode,
    // so reflection reaches it without shading anything
    val ctor = classOf[ClassicSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6)
      .getOrElse(sys.error("classic.SparkSession 6-arg constructor not found"))
    ctor.setAccessible(true)
    ctor.newInstance(base.sparkContext, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }

  /** Mark a batch DataFrame as streaming output for a V1 `Source.getBatch`.
    * MicroBatchExecution asserts every plan a source returns has
    * `isStreaming = true`, but that flag lives on logical-plan LEAVES and
    * the API to set it is `private[sql]` — the same reach-in
    * FileStreamSource and the Delta source use, here for
    * `graft.sql.GraftStreamSource`. The wrap keeps the inner plan's
    * compiled RDD (pushdown and codegen already applied), re-rooted as a
    * streaming LogicalRDD leaf. */
  def asStreaming(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[ClassicSession].internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** The inverse wrap for a V1 `Sink.addBatch`: the micro-batch DataFrame
    * the engine hands a sink still carries `isStreaming = true` leaves, so
    * batch writer APIs refuse it (CALL_ON_STREAMING_DATASET_UNSUPPORTED).
    * Re-root its compiled RDD as a plain batch LogicalRDD — one execution,
    * the same move DeltaSink makes by dropping to FileFormatWriter below
    * the analyzer. */
  def asBatch(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[ClassicSession].internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)

  def emptyStreaming(spark: SparkSession, schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSession]
    cs.internalCreateDataFrame(cs.sparkContext.emptyRDD[InternalRow], schema,
      isStreaming = true)
  }

  /** A V1 `StreamingRelation` leaf for `provider` — what
    * `spark.readStream.format(provider).options(...).load()` plants, built
    * directly so an analyzer rule can swap a catalog-resolved
    * `StreamingRelationV2` onto the V1 source path
    * (`DataSource`/`StreamingRelation` are `private[sql]`). */
  def v1StreamingRelation(spark: SparkSession, provider: String,
                          options: Map[String, String]): LogicalPlan =
    org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
      org.apache.spark.sql.execution.datasources.DataSource(
        spark.asInstanceOf[ClassicSession],
        className = provider, options = options))
}
