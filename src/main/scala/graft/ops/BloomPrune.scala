package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** Explicit semi-join reduction with a bloom filter — the pattern behind
  * Spark's `InjectRuntimeFilter`, surfaced as an operator so pipelines can
  * apply it where the optimizer can't see the opportunity (e.g. the build
  * side is only known to be selective from domain knowledge, or the probe
  * side is consumed by several joins against the same build).
  *
  * Why it matters at 100 TB: a shuffled join moves the ENTIRE probe side
  * through the exchange before a single build row discards anything. A
  * bloom filter over the build keys is a few MB regardless of probe size,
  * broadcasts for free, and drops non-matching probe rows at the scan —
  * before the shuffle — turning a 100 TB exchange into one proportional to
  * the match rate. Bloom filters have no false negatives, and the join
  * itself removes false positives, so the result is bit-identical to the
  * plain join (which is exactly what the oracle checks).
  */
object BloomPrune {

  private def xxh(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    new XxHash64(Seq(GraftBridge.expression(c)))

  /** One-row DataFrame holding a bloom filter (binary) over `key`. */
  def buildFilter(build: DataFrame, key: String,
      expectedItems: Long): DataFrame =
    build.select(GraftBridge.column(
      new BloomFilterAggregate(xxh(col(key)), expectedItems)
        .toAggregateExpression()).as("__bloom"))

  /** Probe rows that MIGHT match a build key (no false negatives). The
    * filter aggregate runs as a scalar subquery — `might_contain` requires
    * a constant/subquery bloom (the same shape Spark's InjectRuntimeFilter
    * emits), so it evaluates once and ships to every probe task; the probe
    * scan stays narrow and this runs before any shuffle. */
  def semiReduce(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, expectedItems: Long = 1000000L): DataFrame = {
    val bloomPlan = buildFilter(build, buildKey, expectedItems)
      .queryExecution.analyzed
    probe.filter(GraftBridge.column(BloomFilterMightContain(
      ScalarSubquery(bloomPlan), xxh(col(probeKey)))))
  }

  /** Equi-join with the probe side bloom-pruned first. Inner joins only:
    * pruning would drop the probe-preserved rows of an outer join. */
  def prunedJoin(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, expectedItems: Long = 1000000L): DataFrame = {
    val pruned = semiReduce(probe, build, probeKey, buildKey, expectedItems)
    pruned.join(build, pruned(probeKey) === build(buildKey))
  }
}
