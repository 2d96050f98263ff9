package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator suite over the driver-provided TPC-H-ish testdata.
  *
  * Mirrors the reference's hand-rolled dataflow stages as declarative Spark
  * plans (see SURVEY.md §2): filters (F1-F10), semi/anti joins (F4/F5, J5/J6),
  * hash aggregations (A1-A8), window top-K (K1-K5). Every query here is
  * paired with ANSI SQL in [[graft.SparkEntry.oracleSql]] for the DuckDB
  * correctness gate.
  *
  * Scale notes (100 TB design):
  *  - dimension tables (region/nation/part/supplier) are broadcast — no
  *    shuffle on the probe side; fact-fact joins shuffle on their keys once.
  *  - aggregations are partial (map-side combine) by construction.
  *  - all filters/projections are Catalyst expressions → pushed to parquet.
  */
object Relational {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** TPC-H Q1-style pricing summary: single scan, partial agg, no shuffle of
    * raw rows (only of partial aggregates). Ref analog: per-key counters
    * (notebooks/Get_Wikidata_Stats.py:100-371). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** Revenue by nation: fact⋈fact shuffle join + broadcast dims.
    * Ref analog: stage-3 driving join J4 (docker/3_Add_Wikidata_to_AstraDB/run.py:61). */
  def q2RevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val customer = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    val lineitem = table(spark, dir, "lineitem")
    val nation = table(spark, dir, "nation")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Top-10 orders by revenue — global top-K with deterministic tiebreak.
    * Ref analog: vector top-K K1 (src/wikidataRetriever.py:106-187). */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = table(spark, dir, "lineitem")
    val orders = table(spark, dir, "orders")
    lineitem
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("orderkey"), col("o_orderstatus").as("orderstatus"), col("revenue"))
      .orderBy(desc("revenue"), asc("orderkey"))
      .limit(10)
  }

  /** Semi-join: customers having at least one order, counted per segment.
    * Ref analog: stage-2 membership gate J6 (docker/2_Data_Processing_save_entities/run.py:18). */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Anti-join: customers with no orders. Ref analog: missing-entity
    * reconciliation J5 (notebooks/1-Data_Preparation.ipynb cell 9). */
  def q5AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("total_acctbal"))
  }

  /** Filter-heavy scan agg (TPC-H Q6 shape) — exercises parquet predicate
    * pushdown; `.explain` must show PushedFilters on l_quantity/l_discount. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_quantity") < 24 && col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Window top-K per group: 3 priciest lineitems per supplier.
    * Ref analog: rerank sort K3 (docker/5_Run_Rerank/run.py:25-32). */
  def q7WindowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
    table(spark, dir, "lineitem")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(
        col("l_suppkey").as("suppkey"), col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        round(col("l_extendedprice"), 2).as("price"), col("rnk"))
  }

  /** Running total per customer ordered by date — cumulative window.
    * Ref analog: progress/rate accumulation A9. */
  def q8RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "orders")
      .withColumn("running_total", round(sum("o_totalprice").over(w), 2))
      .select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        col("running_total"))
  }

  /** Hourly event rollup per event type; date_trunc keeps it
    * oracle-comparable. */
  def q9EventsHourly(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))

  /** Multi-distinct agg: daily active users. */
  def q10DailyUsers(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** Dimension stats with min/max — exact (no fp reordering risk). */
  def q11PartStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_parts"),
        min("p_retailprice").as("min_price"),
        max("p_retailprice").as("max_price"),
        min("p_size").as("min_size"),
        max("p_size").as("max_size"))

  /** ROLLUP hierarchy totals (grouping-sets family). */
  def q13Rollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))

  /** lag(): per-customer consecutive order deltas. */
  def q14Lag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(asc("o_orderdate"), asc("o_orderkey"))
    table(spark, dir, "orders")
      .withColumn("prev_total", lag("o_totalprice", 1).over(w))
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        round(col("o_totalprice") - coalesce(col("prev_total"), lit(0.0)), 2).as("delta"))
  }

  /** ntile(): account-balance quartiles within market segment. */
  def q15Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(asc("c_acctbal"), asc("c_custkey"))
    table(spark, dir, "customer")
      .withColumn("quartile", ntile(4).over(w))
      .groupBy("c_mktsegment", "quartile")
      .agg(count(lit(1)).as("n"),
        min("c_acctbal").as("min_bal"), max("c_acctbal").as("max_bal"))
  }

  /** Conditional aggregation (sum(case when ...)). */
  def q16ConditionalAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_totalprice") > 100000, 1).otherwise(0)).as("n_big"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
        count(lit(1)).as("n"))

  /** String-function pipeline on the scan (upper/substring/concat/length). */
  def q17StringFuncs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .groupBy(upper(substring(col("p_type"), 1, 5)).as("type_prefix"))
      .agg(
        count(lit(1)).as("n"),
        max(length(col("p_name"))).as("max_name_len"),
        min(concat(col("p_brand"), lit("#"), col("p_type"))).as("min_brand_type"))

  /** Set operations: INTERSECT / EXCEPT over customer key sets. */
  def q18SetOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val f = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
    val o = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
    val both = f.intersect(o).count()
    val onlyF = f.except(o).count()
    import spark.implicits._
    Seq((both, onlyF)).toDF("n_both", "n_only_f")
  }

  /** Per-group argmax (correlated "max per brand" as a window). */
  def q19ArgmaxPerBrand(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(desc("p_retailprice"), asc("p_partkey"))
    table(spark, dir, "part")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_brand"), col("p_partkey").as("top_partkey"),
        col("p_retailprice").as("top_price"))
  }

  /** Two-level aggregation: avg lineitems per order by status. */
  def q12ItemsPerOrder(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = table(spark, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("n_items"))
    table(spark, dir, "orders")
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        sum("n_items").as("total_items"),
        count(lit(1)).as("n_orders"))
  }
}
