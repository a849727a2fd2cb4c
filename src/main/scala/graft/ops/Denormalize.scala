package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.SafeCasts._

/** Join/aggregate builders covering the reference's denormalization shapes
  * (SURVEY §2.4 J1-J8, §2.5 A1-A5), re-targeted at the testdata star schema.
  *
  * Scale posture: dimension sides (`region`, `nation`, small lookups) are
  * explicitly `broadcast()` so the fact side never shuffles for them; the
  * fact⟕fact rollup aggregates with map-side partial aggregation (Catalyst
  * splits partial/final automatically) and shuffles once on the group key.
  */
object Denormalize {

  /** J2: 3-level hierarchy denorm (reference extract.py:144-147) —
    * customer ⋈ nation ⋈ region, dims broadcast. */
  def customerGeo(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select(
        customer("c_custkey"), customer("c_name"),
        nation("n_name").as("nation"), region("r_name").as("region"),
        customer("c_acctbal"), customer("c_mktsegment"))

  /** J3 + A1-A4: the runs rollup (reference extract.py:158-193) — parent ⟕
    * children, grouped per parent PK with plain/distinct/conditional counts,
    * null-coalesced like transform.py:221-224, plus a rounded duration-style
    * metric (C5/C6). Left join preserves childless parents (§2.12.b). */
  def ordersRollup(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"), "left")
      .groupBy(orders("o_orderkey"), orders("o_orderstatus"),
        orders("o_totalprice"), orders("o_orderdate"))
      .agg(
        count(lineitem("l_linenumber")).as("n_items"),
        countDistinct(lineitem("l_suppkey")).as("n_suppliers"),
        zeroIfNull(sum(when(lineitem("l_returnflag") === "R", 1).otherwise(0)))
          .cast("long").as("n_returned"),
        decimalSum(lineitem("l_extendedprice")).as("gross_value"),
        (sum(datediff(lineitem("l_shipdate"), orders("o_orderdate"))).cast("double") /
          count(datediff(lineitem("l_shipdate"), orders("o_orderdate"))))
          .as("avg_ship_days"))

  /** J6: aliased self-join — the same dimension joined twice under different
    * roles (reference extract.py:259-260 joins fc_model_node as `pn` and
    * `ppn`). Here: nation as supplier-nation and customer-nation (TPC-H Q7
    * shape). Only the genuine dims (the two nation roles) carry broadcast
    * hints: customer and supplier scale linearly with SF, so a forced
    * broadcast would OOM the driver at 100× — AQE picks the strategy for
    * them from observed sizes (broadcast while small, shuffle join beyond). */
  def supplierCustomerNations(lineitem: DataFrame, orders: DataFrame,
                              customer: DataFrame, supplier: DataFrame,
                              nation: DataFrame): DataFrame = {
    val sn = nation.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val cn = nation.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    lineitem
      .join(supplier, lineitem("l_suppkey") === supplier("s_suppkey"))
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(sn), supplier("s_nationkey") === col("sn_key"))
      .join(broadcast(cn), customer("c_nationkey") === col("cn_key"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(
        count(lit(1)).as("n_shipments"),
        decimalSum(lineitem("l_extendedprice")).as("volume"))
  }

  /** A4-style pricing summary (TPC-H Q1 shape): scan-filter-aggregate with
    * conditional arithmetic; the filter reaches the parquet scan as a pushed
    * predicate and only the referenced columns are read. */
  def pricingSummary(lineitem: DataFrame, shipBefore: String): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit(shipBefore)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decimalSum(col("l_quantity")).as("sum_qty"),
        decimalSum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        decimalAvg(col("l_quantity")).as("avg_qty"),
        decimalAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
}
