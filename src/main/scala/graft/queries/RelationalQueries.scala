package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{AsOf, RangeJoin, Scd}
import QueryUtil.halfUp4
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational family: SQL operator semantics and their Spark plans — joins
  * (as-of, range, interval, lateral, null-aware anti), windows, grouping
  * sets, set and bag operations, recursive CTEs, incremental view
  * maintenance, SCD2/CDC merges, and exact-arithmetic parity pins.
  *
  * Relational operator coverage over the TPC-H-ish star schema: scans with
  * pushed filters, broadcast + shuffle joins, semi/anti joins, hash
  * aggregates, distinct aggregates, rollup/cube, window functions, global
  * top-k, set ops, scalar function families, JSON extraction, pivot.
  *
  * Determinism rules (driver hash-compares vs DuckDB): every double that went
  * through a reassociable aggregate is `round(...)`-ed; every result has a
  * total ORDER BY; column names match the oracle SQL exactly.
  */
object RelationalQueries {

  /** TPC-H Q1-style pricing summary: hash aggregate with partial (map-side)
    * combine — the canonical "does aggregation scale" plan. 100 TB: one
    * shuffle on the 6-value grouping key; AQE coalesces post-shuffle
    * partitions. */
  def q01(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("2001-09-02").cast("timestamp_ntz"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 2).as("sum_charge"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_extendedprice"), 4).as("avg_price"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val q01Oracle =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_extendedprice), 4) AS avg_price,
      |       round(avg(l_discount), 6) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6-style: tight filter + projection — both must reach the parquet
    * scan (PushedFilters / 4-column ReadSchema). */
  def q02(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(
        $"l_shipdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp_ntz") &&
          $"l_discount".between(0.02, 0.06) && $"l_quantity" < 24)
      .agg(
        round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  private val q02Oracle =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin

  /** 3-way join: small customer side broadcasts (AQE), lineitem⋈orders is the
    * shuffle join on l_orderkey. 100 TB: co-partition/bucket lineitem and
    * orders on orderkey to make the big join shuffle-free. */
  def q03(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_mktsegment")
      .agg(
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"c_mktsegment")
  }

  private val q03Oracle =
    """SELECT c_mktsegment,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Dimension snowflake with explicit broadcast hints (nation: 25 rows,
    * region: 5 rows — never shuffle these). */
  def q04(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"), round(sum($"c_acctbal"), 2).as("sum_acctbal"))
      .orderBy($"r_name", $"n_name")
  }

  private val q04Oracle =
    """SELECT r_name, n_name, count(*) AS n_customers,
      |       round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join (EXISTS): orders with any line shipped in 2001. */
  def q05(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("2001-01-01").cast("timestamp_ntz"))
    ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_semi")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  private val q05Oracle =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate >= TIMESTAMP '2001-01-01')
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  def q06(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  private val q06Oracle =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Window ranking: top-3 orders per customer. Single shuffle on o_custkey
    * shared by the window; deterministic tie-break on o_orderkey. */
  def q07(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"rk", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rk")
  }

  private val q07Oracle =
    """SELECT o_custkey, rk, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_custkey
      |                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** Window frames: per-customer running total + lag delta over order dates. */
  def q08(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .select(
        $"o_custkey", $"o_orderkey", $"o_orderdate",
        round(sum($"o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_total"),
        round($"o_totalprice" - coalesce(lag($"o_totalprice", 1).over(w), lit(0.0)), 2).as("delta_prev"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q08Oracle =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
      |       round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0), 2) AS delta_prev
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Global top-k: plans as TakeOrderedAndProject (no full sort, no single
    * giant partition — the right shape at 100 TB). */
  def q09(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .limit(25)
  }

  private val q09Oracle =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 25""".stripMargin

  /** Set operations: EXCEPT + INTERSECT (both distinct-semantics) tagged and
    * unioned. */
  def q10(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val custKeys = Tables.customer(spark, dir).select($"c_custkey".as("key"))
    val ordKeys = Tables.orders(spark, dir).select($"o_custkey".as("key"))
    val onlyCust = custKeys.except(ordKeys).select(lit("only_customer").as("tag"), $"key")
    val both = custKeys.intersect(ordKeys).select(lit("both").as("tag"), $"key")
    onlyCust.unionByName(both).orderBy($"tag", $"key")
  }

  private val q10Oracle =
    """SELECT 'only_customer' AS tag, key
      |FROM (SELECT c_custkey AS key FROM customer EXCEPT SELECT o_custkey AS key FROM orders)
      |UNION ALL
      |SELECT 'both' AS tag, key
      |FROM (SELECT c_custkey AS key FROM customer INTERSECT SELECT o_custkey AS key FROM orders)
      |ORDER BY tag, key""".stripMargin

  /** ROLLUP hierarchy totals; null grouping markers coalesced to 'ALL' so the
    * ordering is engine-stable. */
  def q11(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n", $"sum_qty")
      .orderBy($"returnflag", $"linestatus")
  }

  private val q11Oracle =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** CUBE over two dims of the orders table. */
  def q12(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("sum_price"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"sum_price")
      .orderBy($"status", $"priority")
  }

  private val q12Oracle =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Distinct aggregates (expand + two-phase agg in Spark). */
  def q13(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  private val q13Oracle =
    """SELECT l_returnflag,
      |       count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps,
      |       count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** String function family (all codegen'd, all with exact DuckDB parity):
    * upper/lower, length, substr, split_part, lpad, reverse, concat_ws,
    * replace, trim, starts/contains as booleans. */
  def q14(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.part(spark, dir).select(
      $"p_partkey",
      upper($"p_name").as("uname"),
      lower($"p_brand").as("lbrand"),
      length($"p_name").as("name_len"),
      substring($"p_name", 1, 8).as("name_pre"),
      split_part($"p_type", lit(" "), lit(1)).as("type_head"),
      lpad($"p_brand", 12, "#").as("brand_pad"),
      reverse($"p_name").as("name_rev"),
      concat_ws("-", $"p_brand", $"p_type").as("brand_type"),
      regexp_replace($"p_name", lit("[aeiou]"), lit("_")).as("name_novowel"),
      $"p_name".contains("re").cast("int").as("has_re"),
      $"p_name".startsWith("a").cast("int").as("starts_a"))
      .orderBy($"p_partkey")
  }

  private val q14Oracle =
    """SELECT p_partkey,
      |       upper(p_name) AS uname,
      |       lower(p_brand) AS lbrand,
      |       length(p_name) AS name_len,
      |       substr(p_name, 1, 8) AS name_pre,
      |       split_part(p_type, ' ', 1) AS type_head,
      |       lpad(p_brand, 12, '#') AS brand_pad,
      |       reverse(p_name) AS name_rev,
      |       concat_ws('-', p_brand, p_type) AS brand_type,
      |       regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowel,
      |       CAST(contains(p_name, 're') AS INTEGER) AS has_re,
      |       CAST(starts_with(p_name, 'a') AS INTEGER) AS starts_a
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Date/time function family over a monthly aggregate. */
  def q15(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(
        year($"o_orderdate").as("yr"),
        month($"o_orderdate").as("mon"))
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("sum_price"),
        min(date_format($"o_orderdate", "yyyy-MM-dd")).as("first_day"),
        max(dayofmonth($"o_orderdate")).as("max_dom"))
      .orderBy($"yr", $"mon")
  }

  private val q15Oracle =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |       CAST(month(o_orderdate) AS INTEGER) AS mon,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS sum_price,
      |       min(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
      |       CAST(max(day(o_orderdate)) AS INTEGER) AS max_dom
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY yr, mon""".stripMargin

  /** Math function family; every double rounded for cross-engine stability. */
  def q16(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_orderkey" <= 100)
      .select(
        $"l_orderkey", $"l_linenumber",
        round(abs(-$"l_extendedprice"), 2).as("abs_price"),
        ceil($"l_quantity").cast("long").as("ceil_qty"),
        floor($"l_quantity").cast("long").as("floor_qty"),
        round(sqrt($"l_extendedprice"), 6).as("sqrt_price"),
        round(log($"l_extendedprice" + 1.0), 6).as("ln_price"),
        round(pow($"l_discount", 2), 6).as("disc_sq"),
        ($"l_orderkey" % 7).as("mod7"),
        greatest($"l_quantity", $"l_discount" * 100).as("gr"),
        least($"l_tax", $"l_discount").as("ls"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val q16Oracle =
    """SELECT l_orderkey, l_linenumber,
      |       round(abs(-l_extendedprice), 2) AS abs_price,
      |       CAST(ceil(l_quantity) AS BIGINT) AS ceil_qty,
      |       CAST(floor(l_quantity) AS BIGINT) AS floor_qty,
      |       round(sqrt(l_extendedprice), 6) AS sqrt_price,
      |       round(ln(l_extendedprice + 1.0), 6) AS ln_price,
      |       round(pow(l_discount, 2), 6) AS disc_sq,
      |       l_orderkey % 7 AS mod7,
      |       greatest(l_quantity, l_discount * 100) AS gr,
      |       least(l_tax, l_discount) AS ls
      |FROM lineitem
      |WHERE l_orderkey <= 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** JSON extraction (X5): scalar prop pulled out of the JSON string column,
    * aggregated per event type. */
  def q17(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type", get_json_object($"props", "$.k").cast("int").as("k"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  private val q17Oracle =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
      |       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** CASE WHEN bucketing + conditional aggregation (manual pivot — the
    * oracle-stable way to express `groupBy().pivot()`). */
  def q18(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(
        $"o_orderpriority",
        when($"o_totalprice" < 50000, "small")
          .when($"o_totalprice" < 200000, "medium")
          .otherwise("large").as("tier"),
        $"o_totalprice")
      .groupBy($"o_orderpriority")
      .agg(
        count(when($"tier" === "small", 1)).as("n_small"),
        count(when($"tier" === "medium", 1)).as("n_medium"),
        count(when($"tier" === "large", 1)).as("n_large"),
        round(sum(when($"tier" === "large", $"o_totalprice")), 2).as("large_price"))
      .orderBy($"o_orderpriority")
  }

  private val q18Oracle =
    """WITH t AS (
      |  SELECT o_orderpriority,
      |         CASE WHEN o_totalprice < 50000 THEN 'small'
      |              WHEN o_totalprice < 200000 THEN 'medium'
      |              ELSE 'large' END AS tier,
      |         o_totalprice
      |  FROM orders)
      |SELECT o_orderpriority,
      |       count(CASE WHEN tier = 'small' THEN 1 END) AS n_small,
      |       count(CASE WHEN tier = 'medium' THEN 1 END) AS n_medium,
      |       count(CASE WHEN tier = 'large' THEN 1 END) AS n_large,
      |       round(sum(CASE WHEN tier = 'large' THEN o_totalprice END), 2) AS large_price
      |FROM t
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Scalar subquery: orders above the (rounded, hence engine-stable) global
    * average price. */
  def q19(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
    val avgPrice = ord.agg(round(avg($"o_totalprice"), 2).as("a"))
    ord.join(broadcast(avgPrice))
      .filter($"o_totalprice" > $"a" * 1.5)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), round(min($"o_totalprice"), 2).as("min_price"))
      .orderBy($"o_orderstatus")
  }

  private val q19Oracle =
    """SELECT o_orderstatus, count(*) AS n, round(min(o_totalprice), 2) AS min_price
      |FROM orders
      |WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2) FROM orders) * 1.5
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Correlated-aggregate pattern (HAVING): customers with >= 15 orders. */
  def q20(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), round(sum($"o_totalprice"), 2).as("sum_price"))
      .filter($"n_orders" >= 15)
      .orderBy($"o_custkey")
  }

  private val q20Oracle =
    """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY o_custkey
      |HAVING count(*) >= 15
      |ORDER BY o_custkey""".stripMargin

  /** Grouping sets via GROUPING SETS-equivalent union of aggregates: region
    * totals and nation totals for suppliers in one result. */
  def q21(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val base = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
    val byNation = base.groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n"), round(sum($"s_acctbal"), 2).as("sum_bal"))
    val byRegion = base.groupBy($"r_name")
      .agg(count(lit(1)).as("n"), round(sum($"s_acctbal"), 2).as("sum_bal"))
      .select($"r_name", lit("ALL").as("n_name"), $"n", $"sum_bal")
    byNation.select($"r_name", $"n_name", $"n", $"sum_bal")
      .unionByName(byRegion)
      .orderBy($"r_name", $"n_name")
  }

  private val q21Oracle =
    """WITH base AS (
      |  SELECT r_name, n_name, s_acctbal
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey)
      |SELECT r_name, n_name, count(*) AS n, round(sum(s_acctbal), 2) AS sum_bal
      |FROM base GROUP BY r_name, n_name
      |UNION ALL
      |SELECT r_name, 'ALL' AS n_name, count(*) AS n, round(sum(s_acctbal), 2) AS sum_bal
      |FROM base GROUP BY r_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Sessionization (X6): 30-minute-gap sessions from the raw event stream —
    * lag-gap flagging + running session index, then per-user session stats.
    * 100 TB: one shuffle on user_id shared by both windows and the final
    * aggregate; skewed users would get salted pre-aggregation. */
  def q22(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val flagged = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id",
        when(unix_timestamp($"ts".cast("timestamp")) - unix_timestamp(lag($"ts", 1).over(w).cast("timestamp")) > 1800, 1)
          .otherwise(0).as("brk"))
    val sessions = flagged
      .withColumn("sess", sum($"brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.groupBy($"user_id")
      .agg(
        (max($"sess") + 1).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  private val q22Oracle =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
      |                   - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sessions AS (
      |  SELECT user_id,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM flagged)
      |SELECT user_id, CAST(max(sess) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM sessions
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /* Second relational coverage batch: full window-function family,
   * statistical aggregates, exact percentiles, argmin/argmax, BPE-ish regex
   * tokenization, date arithmetic, null-handling scalar functions. */

  /** Window family: rank/dense_rank/ntile/percent_rank/cume_dist and
    * first/last over an explicit full frame — one shuffle on o_custkey
    * shared by every window (same partition+order spec). */
  def q23(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(
        $"o_custkey", $"o_orderkey",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        halfUp4(percent_rank().over(w)).as("prank"),
        halfUp4(cume_dist().over(w)).as("cdist"),
        first($"o_orderkey").over(full).as("best_order"),
        last($"o_orderkey").over(full).as("worst_order"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q23Oracle =
    """SELECT o_custkey, o_orderkey,
      |       rank() OVER w AS rnk,
      |       dense_rank() OVER w AS drnk,
      |       ntile(4) OVER w AS quartile,
      |       floor(percent_rank() OVER w * 10000 + 0.5) / 10000.0 AS prank,
      |       floor(cume_dist() OVER w * 10000 + 0.5) / 10000.0 AS cdist,
      |       first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS best_order,
      |       last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS worst_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Statistical aggregates (sample stddev/variance, correlation,
    * covariance) — computed from explicit raw moments (sum x, sum x²,
    * sum xy, n) with the SAME derived formula in both engines, so the only
    * cross-engine difference is ulp-level summation order, far below the
    * half-up rounding grid. Native `stddev/corr/covar` accumulate via
    * different single-pass algorithms per engine and diverge exactly at
    * rounding boundaries (round-1 q24 hash FAIL). */
  def q24(spark: SparkSession, dir: String) = {
    import spark.implicits._
    import QueryUtil.halfUp
    val p = $"l_extendedprice"
    val q = $"l_quantity".cast("double")
    val d = $"l_discount"
    val t = $"l_tax"
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("nn"),
        sum(p).as("sp"), sum(p * p).as("spp"),
        sum(q).as("sq"), sum(q * q).as("sqq"),
        sum(p * q).as("spq"),
        sum(d).as("sd"), sum(t).as("st"), sum(d * t).as("sdt"))
      .select(
        $"l_returnflag",
        halfUp(sqrt(($"spp" - $"sp" * $"sp" / $"nn") / ($"nn" - 1)), 2).as("sd_price"),
        halfUp(($"sqq" - $"sq" * $"sq" / $"nn") / ($"nn" - 1), 4).as("var_qty"),
        halfUp(($"spq" - $"sp" * $"sq" / $"nn") /
          sqrt(($"spp" - $"sp" * $"sp" / $"nn") * ($"sqq" - $"sq" * $"sq" / $"nn")), 4).as("corr_pq"),
        halfUp(($"sdt" - $"sd" * $"st" / $"nn") / ($"nn" - 1), 6).as("cov_dt"),
        $"nn".cast("long").as("n"))
      .orderBy($"l_returnflag")
  }

  private val q24Oracle =
    """WITH sums AS (
      |  SELECT l_returnflag,
      |         CAST(count(*) AS DOUBLE) AS nn,
      |         sum(l_extendedprice) AS sp,
      |         sum(l_extendedprice * l_extendedprice) AS spp,
      |         sum(CAST(l_quantity AS DOUBLE)) AS sq,
      |         sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS sqq,
      |         sum(l_extendedprice * CAST(l_quantity AS DOUBLE)) AS spq,
      |         sum(l_discount) AS sd, sum(l_tax) AS st,
      |         sum(l_discount * l_tax) AS sdt
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |       floor(sqrt((spp - sp * sp / nn) / (nn - 1)) * 100 + 0.5) / 100.0 AS sd_price,
      |       floor(((sqq - sq * sq / nn) / (nn - 1)) * 10000 + 0.5) / 10000.0 AS var_qty,
      |       floor(((spq - sp * sq / nn) /
      |              sqrt((spp - sp * sp / nn) * (sqq - sq * sq / nn))) * 10000 + 0.5) / 10000.0 AS corr_pq,
      |       floor(((sdt - sd * st / nn) / (nn - 1)) * 1000000 + 0.5) / 1000000.0 AS cov_dt,
      |       CAST(nn AS BIGINT) AS n
      |FROM sums
      |ORDER BY l_returnflag""".stripMargin

  /** Exact interpolated percentiles (≡ DuckDB `quantile_cont`), computed
    * scale-safely: Spark's `percentile()` aggregate buffers EVERY value of a
    * group in one in-memory aggregation buffer — a hot group at 100× scale
    * is an executor OOM. Instead: rank within group (`row_number` after a
    * shuffle-sort; WindowExec spills its per-group buffer to disk), join the
    * tiny per-group counts (broadcast), and keep only the two interpolation
    * neighbors per quantile. Same interpolation formula as Spark's
    * `Percentile.getPercentile` (`lo*(hi-pos) + hi*(pos-lo)` at 0-based
    * `pos = (n-1)*q`), so results are bit-compatible with the old plan. */
  def q25(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderpriority", $"o_totalprice")
    val counts = o.groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val ranked = o
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")))
      .join(broadcast(counts), "o_orderpriority")
    val quantiles = Seq(0.5 -> "median_price", 0.25 -> "p25", 0.95 -> "p95")
    val aggs = quantiles.flatMap { case (q, nm) =>
      val pos = ($"n" - 1).cast("double") * q
      Seq(
        max(when($"rn" === floor(pos) + 1, $"o_totalprice")).as(s"__lo_$nm"),
        max(when($"rn" === ceil(pos) + 1, $"o_totalprice")).as(s"__hi_$nm"),
        max(pos).as(s"__pos_$nm"))
    } :+ max($"n").as("n")
    val outCols = quantiles.map { case (_, nm) =>
      val pos = col(s"__pos_$nm")
      val lo = floor(pos)
      val hi = ceil(pos)
      round(when(lo === hi, col(s"__lo_$nm"))
        .otherwise(col(s"__lo_$nm") * (hi - pos) + col(s"__hi_$nm") * (pos - lo)), 2)
        .as(nm)
    }
    ranked.groupBy($"o_orderpriority")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("o_orderpriority") +: outCols :+ col("n"): _*)
      .orderBy($"o_orderpriority")
  }

  private val q25Oracle =
    """SELECT o_orderpriority,
      |       round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
      |       round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
      |       round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
      |       count(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** argmin/argmax aggregates: per customer, the orderkey of the priciest
    * and cheapest order (totalprice is a random double — ties have measure
    * ~zero; row_number q07 is the tie-safe variant). */
  def q26(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(
        max_by($"o_orderkey", $"o_totalprice").as("best_order"),
        min_by($"o_orderkey", $"o_totalprice").as("worst_order"),
        round(max($"o_totalprice"), 2).as("best_price"))
      .orderBy($"o_custkey")
  }

  private val q26Oracle =
    """SELECT o_custkey,
      |       arg_max(o_orderkey, o_totalprice) AS best_order,
      |       arg_min(o_orderkey, o_totalprice) AS worst_order,
      |       round(max(o_totalprice), 2) AS best_price
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** X4 token counting, BPE-ish: regex alternation of letter runs, digit
    * runs, and single punctuation — branches are disjoint by first
    * character, so Java-regex (leftmost-first) and RE2 (leftmost-longest)
    * agree. */
  def q27(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source",
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_bpe"),
        size(split($"text", " ")).as("n_ws"))
      .groupBy($"source")
      .agg(
        sum($"n_bpe".cast("long")).as("bpe_tokens"),
        sum($"n_ws".cast("long")).as("ws_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy($"source")
  }

  private val q27Oracle =
    """SELECT source,
      |       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |       count(*) AS n_docs
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Date arithmetic: day offsets, month adds (with month-end clamping),
    * day diffs — rendered as strings so both engines emit identical types. */
  def q28(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_orderkey" <= 200)
      .select(
        $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("d0"),
        date_format(date_add($"o_orderdate", 30), "yyyy-MM-dd").as("plus30d"),
        date_format(add_months($"o_orderdate", 1), "yyyy-MM-dd").as("plus1m"),
        datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date")).as("days_to_2002"),
        quarter($"o_orderdate").as("qtr"),
        weekofyear($"o_orderdate").as("wk"))
      .orderBy($"o_orderkey")
  }

  private val q28Oracle =
    """SELECT o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS d0,
      |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30d,
      |       strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus1m,
      |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
      |       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |       CAST(weekofyear(o_orderdate) AS INTEGER) AS wk
      |FROM orders
      |WHERE o_orderkey <= 200
      |ORDER BY o_orderkey""".stripMargin

  /** Null-handling scalars: nullif/coalesce/ifnull-style defaulting and
    * null-aware comparisons over a column with injected nulls. */
  def q29(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_orderkey" <= 300)
      .select(
        $"o_orderkey",
        nullif($"o_orderstatus", lit("O")).as("status_nulled"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("OPEN")).as("status_defaulted"),
        ($"o_orderstatus" <=> lit("O")).cast("int").as("is_open_nullsafe"),
        when($"o_totalprice" > 100000, $"o_totalprice").otherwise(lit(null)).as("big_price_or_null"),
        isnull(when($"o_totalprice" > 100000, $"o_totalprice")).cast("int").as("is_small"))
      .orderBy($"o_orderkey")
  }

  private val q29Oracle =
    """SELECT o_orderkey,
      |       nullif(o_orderstatus, 'O') AS status_nulled,
      |       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_defaulted,
      |       CAST(o_orderstatus IS NOT DISTINCT FROM 'O' AS INTEGER) AS is_open_nullsafe,
      |       CASE WHEN o_totalprice > 100000 THEN o_totalprice END AS big_price_or_null,
      |       CAST(CASE WHEN o_totalprice > 100000 THEN o_totalprice END IS NULL AS INTEGER) AS is_small
      |FROM orders
      |WHERE o_orderkey <= 300
      |ORDER BY o_orderkey""".stripMargin

  /** Map + struct construction and field access (complex-type surface):
    * build per-row structs/maps, extract back out. */
  def q30(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.nation(spark, dir)
      .select(
        $"n_nationkey",
        struct($"n_name".as("name"), $"n_regionkey".as("rk")).as("s"),
        map(lit("name"), $"n_name", lit("key"), $"n_nationkey".cast("string")).as("m"))
      .select(
        $"n_nationkey",
        $"s.name".as("s_name"),
        $"s.rk".as("s_rk"),
        element_at($"m", "name").as("m_name"),
        element_at($"m", "key").as("m_key"))
      .orderBy($"n_nationkey")
  }

  private val q30Oracle =
    """SELECT n_nationkey,
      |       s['name'] AS s_name, CAST(s['rk'] AS INTEGER) AS s_rk,
      |       m['name'][1] AS m_name, m['key'][1] AS m_key
      |FROM (SELECT n_nationkey,
      |             {'name': n_name, 'rk': n_regionkey} AS s,
      |             map(['name', 'key'], [n_name, CAST(n_nationkey AS VARCHAR)]) AS m
      |      FROM nation)
      |ORDER BY n_nationkey""".stripMargin

  /* Third coverage batch: sketch aggregates (rows-only check — HLL/KLL
   * sketches are engine-specific so no DuckDB hash parity is possible),
   * SQL-text entry with GROUPING SETS, and text normalization (X4). */

  /** Approximate aggregates: HyperLogLog++ distinct counts and quantile
    * sketches. Sketch internals can't hash-match across engines, so the
    * query emits ERROR-BOUND booleans instead: approx-vs-exact relative
    * error within the sketch's guarantee (5% for default-rsd HLL, 5% for
    * rsd=0.01 HLL, 2% value error for the 1/10000-rank-accuracy quantile
    * sketch). The oracle asserts the bounds hold (all 1), which makes the
    * row hash-matchable AND makes the driver loop an accuracy assertion —
    * a wrong sketch now fails CORRECTNESS instead of passing rows>0. */
  def q31(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    // The sketch/percentile aggregates and the exact distinct counts run as
    // SEPARATE aggregations joined on the 3-row group key: mixing them in
    // one agg triggers the Expand-based multi-distinct rewrite, whose first
    // aggregate groups by (returnflag, partkey, suppkey) — carrying an HLL +
    // quantile buffer for every one of ~200k distinct keys (22 s at sf0.1
    // vs ~2 s split). The split keeps sketch state at one buffer per group
    // per partition and the distinct-count expand carries no sketch state.
    val sketches = li.groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("ap"),
        approx_count_distinct($"l_suppkey", 0.01).as("asup"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("amed"),
        count(lit(1)).as("n"))
    val exact = li.groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("ep"),
        countDistinct($"l_suppkey").as("esup"))
    // Exact median via the q25 rank-join plan (sort window + two-row pick),
    // NOT the percentile() aggregate: percentile() buffers every group
    // value in one in-memory aggregation buffer, while the window sort
    // spills — the only formulation that survives a 100 TB group.
    val vals = li.select($"l_returnflag", $"l_extendedprice")
    val cnt = vals.groupBy($"l_returnflag").agg(count(lit(1)).as("cn"))
    val pos = ($"cn" - 1).cast("double") * 0.5
    val med = vals
      .withColumn("rn", row_number().over(
        Window.partitionBy($"l_returnflag").orderBy($"l_extendedprice")))
      .join(broadcast(cnt), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(
        max(when($"rn" === floor(pos) + 1, $"l_extendedprice")).as("__lo"),
        max(when($"rn" === ceil(pos) + 1, $"l_extendedprice")).as("__hi"),
        max(pos).as("__pos"))
      .select($"l_returnflag",
        when(floor($"__pos") === ceil($"__pos"), $"__lo")
          .otherwise($"__lo" * (ceil($"__pos") - $"__pos")
            + $"__hi" * ($"__pos" - floor($"__pos"))).as("emed"))
    sketches.join(exact, "l_returnflag").join(med, "l_returnflag")
      .select(
        $"l_returnflag",
        (abs($"ap" - $"ep") <= $"ep" * 0.05).cast("int").as("parts_ok"),
        (abs($"asup" - $"esup") <= $"esup" * 0.05).cast("int").as("supps_ok"),
        (abs($"amed" - $"emed") <= $"emed" * 0.02).cast("int").as("median_ok"),
        $"n")
      .orderBy($"l_returnflag")
  }

  private val q31Oracle =
    """SELECT l_returnflag,
      |       1 AS parts_ok, 1 AS supps_ok, 1 AS median_ok,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** SQL-text entry point: the library's plans are reachable through
    * `spark.sql` over registered views — exercised with GROUPING SETS
    * (SQL-only surface, no DataFrame API equivalent). */
  def q32(spark: SparkSession, dir: String) = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin)
  }

  private val q32Oracle =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       count(*) AS n,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
      |ORDER BY returnflag, linestatus""".stripMargin

  /** X4 text normalization: lowercase, strip non-alphanumerics, drop
    * stopwords, re-join — the canonical cleaning stage before dedup.
    * Native one-pass `stop_strip` (the declarative form paid two
    * interpreted HOF lambdas each re-splitting the text); the fence keeps
    * CollapseProject from inlining the struct into both field extracts. */
  def x45(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val stop = graft.operators.TextAnalysis.StopwordsEn
    Tables.documents(spark, dir)
      .select($"doc_id", QueryUtil.fence(
        call_function("stop_strip", $"text", array(stop.map(lit): _*))).as("s"))
      .select($"doc_id",
        $"s.clean_text".as("clean_text"),
        $"s.n_stop".as("n_stop_removed"))
      .orderBy("doc_id")
  }

  private val x45Oracle = {
    val stopList = graft.operators.TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |             string_split(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), ' ') AS toks
       |           FROM documents)
       |SELECT doc_id,
       |       array_to_string(list_filter(toks, t -> t NOT IN ($stopList) AND t <> ''), ' ') AS clean_text,
       |       CAST(len(list_filter(toks, t -> t IN ($stopList))) AS INTEGER) AS n_stop_removed
       |FROM t
       |ORDER BY doc_id""".stripMargin
  }

  /* Fourth coverage batch: RANGE window frames, bag-semantics set ops,
   * null-handling (na.fill/na.drop surface), reproducible hash sampling,
   * and edit distance. */

  /** RANGE frame over a numeric order (30-day trailing revenue per
    * customer) plus lead/nth_value — the frame kinds q08 didn't cover.
    * Epoch seconds as the range key so the frame bound is engine-stable. */
  def q33(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val sec = unix_timestamp($"o_orderdate".cast("timestamp"))
    val wRange = Window.partitionBy($"o_custkey").orderBy($"osec")
      .rangeBetween(-30L * 86400, 0)
    val wRow = Window.partitionBy($"o_custkey").orderBy($"osec", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("osec", sec)
      .select(
        $"o_custkey", $"o_orderkey",
        round(sum($"o_totalprice").over(wRange), 2).as("trailing30d"),
        lead($"o_orderkey", 1).over(wRow).as("next_order"),
        nth_value($"o_orderkey", 2).over(
          wRow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("second_order"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q33Oracle =
    """SELECT o_custkey, o_orderkey,
      |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY osec
      |                                     RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS trailing30d,
      |       lead(o_orderkey, 1) OVER w AS next_order,
      |       nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY osec, o_orderkey
      |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order
      |FROM (SELECT *, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS osec FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY osec, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Bag-semantics set ops: EXCEPT ALL / INTERSECT ALL keep multiplicity
    * (q10 covered the distinct variants). Built over l_suppkey multisets. */
  def q34(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val a = Tables.lineitem(spark, dir).filter($"l_orderkey" % 2 === 0).select($"l_suppkey".as("k"))
    val b = Tables.lineitem(spark, dir).filter($"l_orderkey" % 3 === 0).select($"l_suppkey".as("k"))
    val exceptAll = a.exceptAll(b).groupBy($"k").agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), $"k", $"n")
    val intersectAll = a.intersectAll(b).groupBy($"k").agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), $"k", $"n")
    exceptAll.unionByName(intersectAll).orderBy($"op", $"k")
  }

  private val q34Oracle =
    """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_orderkey % 2 = 0),
      |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_orderkey % 3 = 0)
      |SELECT 'except_all' AS op, k, count(*) AS n
      |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
      |UNION ALL
      |SELECT 'intersect_all' AS op, k, count(*) AS n
      |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
      |ORDER BY op, k""".stripMargin

  /** Null handling via the DataFrameNaFunctions surface: inject nulls,
    * then na.fill defaults and na.drop filtering. */
  def q35(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val withNulls = Tables.orders(spark, dir)
      .filter($"o_orderkey" <= 400)
      .select(
        $"o_orderkey",
        nullif($"o_orderstatus", lit("O")).as("status"),
        when($"o_totalprice" > 100000, $"o_totalprice").as("big_price"))
    val filled = withNulls.na.fill(Map("status" -> "OPEN", "big_price" -> 0.0))
      .withColumnRenamed("status", "status_filled")
      .withColumnRenamed("big_price", "big_price_filled")
    val kept = withNulls.na.drop(Seq("big_price"))
      .select($"o_orderkey").withColumn("survived_drop", lit(1))
    filled.join(kept, Seq("o_orderkey"), "left")
      .na.fill(Map("survived_drop" -> 0))
      .orderBy($"o_orderkey")
  }

  private val q35Oracle =
    """WITH w AS (SELECT o_orderkey,
      |             nullif(o_orderstatus, 'O') AS status,
      |             CASE WHEN o_totalprice > 100000 THEN o_totalprice END AS big_price
      |           FROM orders WHERE o_orderkey <= 400)
      |SELECT o_orderkey,
      |       coalesce(status, 'OPEN') AS status_filled,
      |       coalesce(big_price, 0.0) AS big_price_filled,
      |       CAST(big_price IS NOT NULL AS INTEGER) AS survived_drop
      |FROM w
      |ORDER BY o_orderkey""".stripMargin

  /** Reproducible sampling: hash-based Bernoulli (~10%) — unlike
    * df.sample, identical across engines, partitionings, and reruns; the
    * scalable way to carve deterministic subsets at 100 TB. */
  def q36(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(substring(md5(concat_ws("|", $"l_orderkey", $"l_linenumber")), 1, 2) < "1a")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  private val q36Oracle =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |WHERE substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))), 1, 2) < '1a'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Edit distance on the LSH candidate pairs' text prefixes (string
    * similarity family; DuckDB and Spark share the unit-cost Levenshtein
    * definition). */
  def x48(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", substring($"text", 1, 60).as("pre"))
    val pairs = DedupQueries.minhashLsh(spark, dir).select($"a", $"b")
    pairs
      .join(docs.select($"doc_id".as("a"), $"pre".as("pa")), "a")
      .join(docs.select($"doc_id".as("b"), $"pre".as("pb")), "b")
      .select($"a", $"b", levenshtein($"pa", $"pb").as("edit_dist"))
      .orderBy("a", "b")
  }

  private val x48Oracle =
    DedupQueries.minhashCtes("WITH") +
      """, docs AS (SELECT doc_id, substr(text, 1, 60) AS pre FROM documents)
        |SELECT p.a, p.b, CAST(levenshtein(da.pre, db.pre) AS INTEGER) AS edit_dist
        |FROM (SELECT a, b FROM j WHERE jaccard >= 0.5) p
        |JOIN docs da ON da.doc_id = p.a
        |JOIN docs db ON db.doc_id = p.b
        |ORDER BY p.a, p.b""".stripMargin

  /** Native DataFrame pivot API (fixed value list -> stable columns;
    * q18 is the manual CASE equivalent). */
  def q37(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum($"l_quantity"), 2))
      .orderBy($"l_linestatus")
  }

  private val q37Oracle =
    """SELECT l_linestatus,
      |       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
      |       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
      |       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** Native unpivot/melt API (wide -> long). */
  def q38(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select($"p_partkey", $"p_size".cast("double").as("size"),
        $"p_retailprice".as("retailprice"))
      .unpivot(Array($"p_partkey"), Array($"size", $"retailprice"), "metric", "value")
      .select($"p_partkey", $"metric", round($"value", 2).as("value"))
      .orderBy($"p_partkey", $"metric")
  }

  private val q38Oracle =
    """SELECT p_partkey, metric, round(value, 2) AS value
      |FROM (
      |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part)
      |ORDER BY p_partkey, metric""".stripMargin

  /** Correlated EXISTS: customers with any 300k+ order. Catalyst
    * decorrelates to a left-semi join — the subquery never executes
    * per-row (`.explain` shows LeftSemi on o_custkey). */
  def q39(spark: SparkSession, dir: String) = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey, c_name
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
  }

  private val q39Oracle =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** Correlated SCALAR subquery: per-order item count. Decorrelates to an
    * aggregate + left outer join (coalesce for orders absent from
    * lineitem). */
  def q40(spark: SparkSession, dir: String) = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice,
        |       coalesce((SELECT count(*) FROM lineitem_v l
        |                 WHERE l.l_orderkey = o.o_orderkey), 0) AS n_items
        |FROM orders_v o
        |WHERE o_orderkey <= 400
        |ORDER BY o_orderkey""".stripMargin)
  }

  private val q40Oracle =
    """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice,
      |       coalesce((SELECT count(*) FROM lineitem l
      |                 WHERE l.l_orderkey = o.o_orderkey), 0) AS n_items
      |FROM orders o
      |WHERE o_orderkey <= 400
      |ORDER BY o_orderkey""".stripMargin

  /** Higher-order array functions (exists / forall / filter / aggregate /
    * zip_with) over the embedding column. Folds are sequential
    * left-to-right with double casts — the exact arithmetic the oracle's
    * list_sum(list_transform(...)) reproduces (same pattern proven by the
    * cosine queries). Coverage query, not a hot path — interpreted lambdas
    * are fine at one pass per row. */
  def q41(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val e = $"embedding"
    Tables.embeddings(spark, dir).select(
      $"vec_id",
      exists(e, x => x.cast("double") > 0.2).cast("int").as("has_big"),
      forall(e, x => abs(x.cast("double")) <= lit(1.0)).cast("int").as("all_bounded"),
      size(filter(e, x => x.cast("double") < 0)).as("n_neg"),
      round(aggregate(e, lit(0.0), (acc, x) => acc + x.cast("double")), 4).as("sum_elems"),
      round(aggregate(zip_with(e, reverse(e), (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0), (acc, x) => acc + x), 4).as("rev_dot"))
      .orderBy("vec_id")
  }

  private val q41Oracle =
    """SELECT vec_id,
      |       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.2)) > 0 AS INTEGER) AS has_big,
      |       CAST(len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) <= 1.0)) = len(embedding) AS INTEGER) AS all_bounded,
      |       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) < 0)) AS INTEGER) AS n_neg,
      |       round(coalesce(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 0.0), 4) AS sum_elems,
      |       round(coalesce(list_sum(list_transform(range(1, len(embedding) + 1),
      |             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE))), 0.0), 4) AS rev_dot
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** FULL OUTER join with null-completion: per-nation customer and
    * supplier aggregates joined over an asymmetric key space (the fixture
    * has customer-only nations at every SF), counts coalesced to 0, avgs
    * left null where a side is absent. Completes the join-type surface
    * (inner/broadcast q03-q04, semi q05, anti q06, left x58's audit,
    * as-of x60, range x61). */
  def q42(spark: SparkSession, dir: String) = {
    import spark.implicits._
    // Money sums quantize to exact integer cents per row BEFORE the sum
    // (half-up, identical in both engines), so the aggregate is an
    // accumulation-order-free BIGINT — a raw double avg could drift an
    // ulp between Spark's partitioned merge and DuckDB's sequential scan
    // and flip the .xx5 rounding boundary this fixture actually hits.
    def centsAvg(bal: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      QueryUtil.halfUp(sum(floor(bal * 100 + lit(0.5))).cast("double") / 100.0 / n.cast("double"), 2)
    val c = Tables.customer(spark, dir).groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        centsAvg($"c_acctbal", count(lit(1))).as("avg_cust_bal"))
    val s = Tables.supplier(spark, dir).groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_supp"),
        centsAvg($"s_acctbal", count(lit(1))).as("avg_supp_bal"))
    c.join(s, $"c_nationkey" === $"s_nationkey", "full")
      .select(
        coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        coalesce($"n_cust", lit(0L)).as("n_cust"),
        $"avg_cust_bal",
        coalesce($"n_supp", lit(0L)).as("n_supp"),
        $"avg_supp_bal")
      .orderBy("nationkey")
  }

  private val q42Oracle =
    """WITH c AS (SELECT c_nationkey, count(*) AS n_cust,
      |             floor((CAST(sum(floor(c_acctbal * 100 + 0.5)) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE)) * 100 + 0.5) / 100.0 AS avg_cust_bal
      |           FROM customer GROUP BY c_nationkey),
      |s AS (SELECT s_nationkey, count(*) AS n_supp,
      |        floor((CAST(sum(floor(s_acctbal * 100 + 0.5)) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE)) * 100 + 0.5) / 100.0 AS avg_supp_bal
      |      FROM supplier GROUP BY s_nationkey)
      |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
      |       coalesce(n_cust, 0) AS n_cust,
      |       avg_cust_bal,
      |       coalesce(n_supp, 0) AS n_supp,
      |       avg_supp_bal
      |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Time-bucketed resampling (the downsample-to-bars shape): hourly
    * buckets per event type with count, volume, and OHLC-style first/last/
    * min/max values — first/last picked by deterministic (ts, event_id)
    * row_numbers, not by order-dependent first()/last() aggregates. */
  def q43(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = Window.partitionBy($"bucket", $"event_type")
    Tables.events(spark, dir)
      .select(date_trunc("hour", $"ts").as("bucket"), $"event_type",
        $"value", $"ts", $"event_id")
      .withColumn("rn_first", row_number().over(w.orderBy($"ts", $"event_id")))
      .withColumn("rn_last", row_number().over(w.orderBy($"ts".desc, $"event_id".desc)))
      .groupBy($"bucket", $"event_type")
      .agg(
        count(lit(1)).as("n"),
        QueryUtil.halfUp(
          sum(floor($"value" * 1e6 + lit(0.5))).cast("double") / 1e6, 2).as("volume"),
        max(when($"rn_first" === 1, $"value")).as("open"),
        max(when($"rn_last" === 1, $"value")).as("close"),
        min($"value").as("lo"),
        max($"value").as("hi"))
      .orderBy("bucket", "event_type")
  }

  private val q43Oracle =
    """WITH b AS (SELECT date_trunc('hour', ts) AS bucket, event_type, value, ts, event_id
      |           FROM events),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY bucket, event_type ORDER BY ts, event_id) AS rn_first,
      |        row_number() OVER (PARTITION BY bucket, event_type ORDER BY ts DESC, event_id DESC) AS rn_last
      |      FROM b)
      |SELECT bucket, event_type,
      |       count(*) AS n,
      |       floor((CAST(sum(floor(value * 1000000.0 + 0.5)) AS BIGINT) / 1000000.0) * 100 + 0.5) / 100.0 AS volume,
      |       max(CASE WHEN rn_first = 1 THEN value END) AS open,
      |       max(CASE WHEN rn_last = 1 THEN value END) AS close,
      |       min(value) AS lo,
      |       max(value) AS hi
      |FROM r
      |GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Ordered-funnel analysis with a 24-hour conversion window: how many
    * users progress view → click → purchase IN ORDER, each stage strictly
    * after the previous stage's earliest completion and within 24h of it
    * (fixed-duration interval — month-length interval arithmetic diverges
    * across engines, hour arithmetic does not). The earliest-chain
    * semantics make the result order-independent: stage k is reached iff
    * min(ts of step k inside the window) exists. Three small aggregates
    * left-joined onto the user dimension — no sessionization state. */
  def q44(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val t1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val win = expr("INTERVAL 24 HOURS")
    val t2 = ev.filter($"event_type" === "click").join(t1, "user_id")
      .filter($"ts" > $"t1" && $"ts" <= $"t1" + win)
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val t3 = ev.filter($"event_type" === "purchase").join(t2, "user_id")
      .filter($"ts" > $"t2" && $"ts" <= $"t2" + win)
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    ev.select($"user_id").distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(
        when($"t3".isNotNull, 3).when($"t2".isNotNull, 2)
          .when($"t1".isNotNull, 1).otherwise(0).as("stage"))
      .groupBy($"stage").agg(count(lit(1)).as("n_users"))
      .orderBy($"stage")
  }

  private val q44Oracle =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |t1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(e.ts) AS t2
      |       FROM events e JOIN t1 ON e.user_id = t1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > t1.t1
      |         AND e.ts <= t1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(e.ts) AS t3
      |       FROM events e JOIN t2 ON e.user_id = t2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      |         AND e.ts <= t2.t2 + INTERVAL 24 HOUR GROUP BY e.user_id),
      |s AS (SELECT CASE WHEN t3.t3 IS NOT NULL THEN 3
      |                  WHEN t2.t2 IS NOT NULL THEN 2
      |                  WHEN t1.t1 IS NOT NULL THEN 1
      |                  ELSE 0 END AS stage
      |      FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
      |             LEFT JOIN t2 ON u.user_id = t2.user_id
      |             LEFT JOIN t3 ON u.user_id = t3.user_id)
      |SELECT stage, count(*) AS n_users FROM s GROUP BY stage ORDER BY stage""".stripMargin

  /** Cohort retention: users grouped by their first-active day, activity
    * counted per week offset — the classic retention triangle. Activity
    * reduces to distinct (user, day) pairs first, so the heavy table is
    * touched once and the join carries one row per active day. */
  def q45(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val act = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
    val cohort = act.groupBy($"user_id").agg(min($"d").as("c0"))
    act.join(cohort, "user_id")
      .select($"user_id", $"c0", floor(datediff($"d", $"c0") / 7).cast("int").as("wk"))
      .distinct()
      .groupBy($"c0", $"wk").agg(count(lit(1)).as("active"))
      .orderBy($"c0", $"wk")
  }

  private val q45Oracle =
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, min(d) AS c0 FROM act GROUP BY user_id),
      |w AS (SELECT DISTINCT act.user_id, c.c0,
      |        CAST(date_diff('day', c.c0, act.d) // 7 AS INTEGER) AS wk
      |      FROM act JOIN c ON act.user_id = c.user_id)
      |SELECT c0, wk, count(*) AS active
      |FROM w
      |GROUP BY c0, wk
      |ORDER BY c0, wk""".stripMargin

  /** Rolling 7-day distinct actives (WAU) per day, alongside same-day
    * distinct actives (DAU). Exact rolling distinct is NOT a window sum of
    * daily counts (users overlap across days), so each distinct (user, day)
    * activity is exploded to the <= 7 window-days it contributes to, then
    * deduped and counted per window-day — a bounded 7x row expansion and
    * two keyed shuffles, instead of the per-day set-union a window
    * function would need (no per-group state, no O(days) frames). 100 TB:
    * the expansion factor is the window length, constant; both shuffles
    * key on high-cardinality (user, day) / day. */
  def q46(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val act = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
    val span = act.agg(max($"d").as("dmax"))
    val contrib = act.crossJoin(broadcast(span))
      .select($"user_id",
        explode(sequence($"d", least(date_add($"d", 6), $"dmax"))).as("day"))
      .distinct()
    val wau = contrib.groupBy($"day").agg(count(lit(1)).as("wau7"))
    val dau = act.groupBy($"d".as("day")).agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("day"), "left")
      .select($"day", coalesce($"dau", lit(0L)).as("dau"), $"wau7")
      .orderBy($"day")
  }

  private val q46Oracle =
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |span AS (SELECT max(d) AS dmax FROM act),
      |contrib AS (SELECT DISTINCT user_id,
      |        CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
      |                                    CAST(least(d + 6, dmax) AS TIMESTAMP),
      |                                    INTERVAL 1 DAY)) AS DATE) AS day
      |      FROM act, span),
      |wau AS (SELECT day, count(*) AS wau7 FROM contrib GROUP BY day),
      |dau AS (SELECT d AS day, count(*) AS dau FROM act GROUP BY d)
      |SELECT w.day, coalesce(dau.dau, 0) AS dau, w.wau7
      |FROM wau w LEFT JOIN dau ON w.day = dau.day
      |ORDER BY w.day""".stripMargin

  /** SCD Type-2 dimension build from an event stream: track each user's
    * `event_type` as a slowly-changing attribute — collapse consecutive
    * repeats, emit one row per version with [valid_from, valid_to) validity
    * and an is_current flag. The reference's incremental loads (S1/SNK1)
    * only ever append the latest state; SCD2 is the warehouse-standard
    * history-preserving variant. One window per step, both keyed on
    * user_id — at 100 TB a single hash shuffle, no self-joins, and the
    * change-filter drops the (dominant) unchanged rows before the second
    * window. Ties broken by event_id so versioning is engine-stable. */
  def q47(spark: SparkSession, dir: String) = {
    import spark.implicits._
    graft.operators.Scd.scd2Build(
        Tables.events(spark, dir).select($"user_id", $"ts", $"event_id", $"event_type"))
      .orderBy("user_id", "version")
  }

  private val q47Oracle =
    """WITH s AS (SELECT user_id, ts, event_id, event_type,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |      FROM events),
      |c AS (SELECT user_id, ts, event_id, event_type FROM s
      |      WHERE prev IS NULL OR prev <> event_type),
      |f AS (SELECT user_id, event_type, ts AS valid_from,
      |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
      |      FROM c)
      |SELECT user_id, version, event_type, valid_from, valid_to,
      |       (valid_to IS NULL) AS is_current
      |FROM f ORDER BY user_id, version""".stripMargin

  /** q48: robust outlier detection per group — median + MAD (median
    * absolute deviation), flagging |x − med| > 3·1.4826·MAD (the normal-
    * consistent robust z-score). Both medians use q25's spill-safe
    * rank-join (row_number + positional pick + linear interpolation), NOT
    * a buffer-everything percentile. Cross-engine exactness: the oracle
    * replicates the SAME interpolation arithmetic (not quantile_cont), so
    * med/MAD are bit-identical doubles and the outlier comparison cannot
    * flip at a boundary; only the DISPLAYED med/mad are rounded. Scale:
    * two ranked passes + one gate pass, all shuffled on the group key;
    * WindowExec spills, no per-group buffering. */
  def q48(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderpriority".as("pr"), $"o_totalprice".as("v"))
    def medianOf(df: org.apache.spark.sql.DataFrame, valCol: String): org.apache.spark.sql.DataFrame = {
      val counts = df.groupBy($"pr").agg(count(lit(1)).as("n"))
      val pos = ($"n" - 1).cast("double") * 0.5
      df.withColumn("rn", row_number().over(Window.partitionBy($"pr").orderBy(col(valCol))))
        .join(broadcast(counts), "pr")
        .groupBy($"pr")
        .agg(
          max(when($"rn" === floor(pos) + 1, col(valCol))).as("lo"),
          max(when($"rn" === ceil(pos) + 1, col(valCol))).as("hi"),
          max(pos).as("p"), max($"n").as("n"))
        .select($"pr", $"n",
          when(floor($"p") === ceil($"p"), $"lo")
            .otherwise($"lo" * (ceil($"p") - $"p") + $"hi" * ($"p" - floor($"p")))
            .as("m"))
    }
    val med = medianOf(o, "v").select($"pr", $"n", $"m".as("med"))
    val ad = o.join(broadcast(med.select($"pr", $"med")), "pr")
      .select($"pr", abs($"v" - $"med").as("ad"))
    val mad = medianOf(ad, "ad").select($"pr", $"m".as("mad"))
    val gates = o.join(broadcast(med.select($"pr", $"med")), "pr")
      .join(broadcast(mad), "pr")
      .groupBy($"pr")
      .agg(sum(when(abs($"v" - $"med") > lit(3.0) * lit(1.4826) * $"mad", 1).otherwise(0))
        .as("n_outliers"))
    med.join(mad, "pr").join(gates, "pr")
      .select($"pr".as("o_orderpriority"), $"n",
        QueryUtil.halfUp($"med", 2).as("med2"),
        QueryUtil.halfUp($"mad", 2).as("mad2"),
        $"n_outliers")
      .orderBy("o_orderpriority")
  }

  private val q48Oracle = {
    def medSql(src: String, v: String, out: String): String =
      s"""${out}_c AS (SELECT pr, count(*) AS n FROM $src GROUP BY pr),
         |${out}_r AS (SELECT s.pr, s.$v AS v,
         |         row_number() OVER (PARTITION BY s.pr ORDER BY s.$v) AS rn, c.n
         |       FROM $src s JOIN ${out}_c c ON s.pr = c.pr),
         |${out}_m AS (SELECT pr, max(n) AS n,
         |         max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 THEN v END) AS lo,
         |         max(CASE WHEN rn = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 THEN v END) AS hi,
         |         max(CAST(n - 1 AS DOUBLE) * 0.5) AS p
         |       FROM ${out}_r GROUP BY pr),
         |$out AS (SELECT pr, n,
         |         CASE WHEN floor(p) = ceil(p) THEN lo
         |              ELSE lo * (ceil(p) - p) + hi * (p - floor(p)) END AS m
         |       FROM ${out}_m)""".stripMargin
    s"""WITH o AS (SELECT o_orderpriority AS pr, o_totalprice AS v FROM orders),
       |${medSql("o", "v", "med")},
       |adt AS (SELECT o.pr, abs(o.v - med.m) AS ad FROM o JOIN med ON o.pr = med.pr),
       |${medSql("adt", "ad", "mad")},
       |g AS (SELECT o.pr,
       |        CAST(sum(CASE WHEN abs(o.v - med.m) > 3.0 * 1.4826 * mad.m THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |      FROM o JOIN med ON o.pr = med.pr JOIN mad ON o.pr = mad.pr
       |      GROUP BY o.pr)
       |SELECT med.pr AS o_orderpriority, med.n,
       |       floor(med.m * 100 + 0.5) / 100.0 AS med2,
       |       floor(mad.m * 100 + 0.5) / 100.0 AS mad2,
       |       g.n_outliers
       |FROM med JOIN mad ON med.pr = mad.pr JOIN g ON med.pr = g.pr
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** q49: marketing attribution (the reference's domain): each purchase
    * is attributed to the user's FIRST and LAST touch (click/view) in the
    * trailing 24 h, 'direct' when none — revenue summed per (model,
    * touch). One pass: touches are encoded as zero-padded
    * 'sec|event_id|type' strings so lexicographic min/max over a RANGE
    * frame IS chronological first/last (engine-stable, no struct-agg
    * support needed); both models come from the same two window
    * aggregates and explode into (model, touch) rows. Money sums follow
    * the exact-integer-cents recipe (quantize per row, order-free integer
    * sum). 100 TB: one user-keyed shuffle for the windows, then a tiny
    * aggregate; no self-join of events against events. */
  def q49(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val sec = unix_timestamp($"ts".cast("timestamp"))
    val touch = $"event_type".isin("click", "view")
    // 19-digit pads cover the full non-negative long domain — lpad
    // TRUNCATES values wider than the pad, which would corrupt the
    // lexicographic-chronological ordering identically in both engines
    // (invisible to the oracle) for >10-digit ids or post-2286 seconds.
    val enc = concat_ws("|", lpad(sec.cast("string"), 19, "0"),
      lpad($"event_id".cast("string"), 19, "0"), $"event_type")
    val w = Window.partitionBy($"user_id").orderBy(sec)
      .rangeBetween(-86400L, 0L)
    val scored = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .withColumn("lastt", max(when(touch, enc)).over(w))
      .withColumn("firstt", min(when(touch, enc)).over(w))
      .filter($"event_type" === "purchase")
      .select($"value",
        coalesce(element_at(split($"lastt", "\\|"), 3), lit("direct")).as("last"),
        coalesce(element_at(split($"firstt", "\\|"), 3), lit("direct")).as("first"))
    scored
      .select(floor($"value" * 100 + lit(0.5)).cast("long").as("cents"),
        explode(array(
          struct(lit("last").as("model"), $"last".as("touch")),
          struct(lit("first").as("model"), $"first".as("touch")))).as("m"))
      .select($"m.model".as("model"), $"m.touch".as("touch"), $"cents")
      .groupBy($"model", $"touch")
      .agg(count(lit(1)).as("n_purchases"),
        (sum($"cents").cast("double") / 100.0).as("revenue"))
      .orderBy("model", "touch")
  }

  private val q49Oracle =
    """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |             event_id, event_type, value FROM events),
      |sc AS (SELECT user_id, sec, event_id, event_type, value,
      |         max(CASE WHEN event_type IN ('click', 'view')
      |             THEN lpad(CAST(sec AS VARCHAR), 19, '0') || '|' || lpad(CAST(event_id AS VARCHAR), 19, '0') || '|' || event_type END)
      |           OVER (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS lastt,
      |         min(CASE WHEN event_type IN ('click', 'view')
      |             THEN lpad(CAST(sec AS VARCHAR), 19, '0') || '|' || lpad(CAST(event_id AS VARCHAR), 19, '0') || '|' || event_type END)
      |           OVER (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS firstt
      |       FROM e),
      |p AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |        coalesce(string_split(lastt, '|')[3], 'direct') AS last,
      |        coalesce(string_split(firstt, '|')[3], 'direct') AS first
      |      FROM sc WHERE event_type = 'purchase'),
      |x AS (SELECT 'last' AS model, last AS touch, cents FROM p
      |      UNION ALL SELECT 'first', first, cents FROM p)
      |SELECT model, touch, count(*) AS n_purchases,
      |       CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue
      |FROM x GROUP BY model, touch
      |ORDER BY model, touch""".stripMargin

  /** q50: full CDC merge through [[graft.sinks.Sinks.applyCdc]], oracle-
    * paired: each user's FIRST event is the existing snapshot row, every
    * later event becomes a change op (error → DELETE, signup → INSERT,
    * anything else → UPDATE to that type) with event_id as the log
    * sequence — the latest op per user decides the final table, deletes
    * remove the row. This lifts the reference's append-only incremental
    * path (S1/SNK1) to insert/update/delete capture and grades the
    * operator against DuckDB instead of only its spec. */
  def q50(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ranked = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("rn", row_number().over(w))
    val snapshot = ranked.filter($"rn" === 1)
      .select($"user_id".as("k"), $"event_type".as("v"))
    val batch = ranked.filter($"rn" > 1)
      .select($"user_id".as("k"), $"event_type".as("v"), $"event_id".as("seq"),
        when($"event_type" === "error", "D")
          .when($"event_type" === "signup", "I")
          .otherwise("U").as("op"))
    graft.sinks.Sinks.applyCdc(snapshot, batch, "k", "seq", "op")
      .orderBy("k")
  }

  private val q50Oracle =
    """WITH ranked AS (SELECT user_id, ts, event_id, event_type,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |      FROM events),
      |snap AS (SELECT user_id AS k, event_type AS v FROM ranked WHERE rn = 1),
      |batch AS (SELECT user_id AS k, event_type AS v, event_id AS seq,
      |        CASE WHEN event_type = 'error' THEN 'D'
      |             WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op
      |      FROM ranked WHERE rn > 1),
      |latest AS (SELECT k, v, op FROM (
      |        SELECT k, v, op, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op ASC) AS lrn
      |        FROM batch)
      |      WHERE lrn = 1)
      |SELECT k, v FROM snap WHERE k NOT IN (SELECT k FROM latest)
      |UNION ALL
      |SELECT k, v FROM latest WHERE op <> 'D'
      |ORDER BY k""".stripMargin

  /** q51: incremental view maintenance for partitioned aggregates — the
    * pattern that makes 100 TB dashboards affordable: the historical state
    * (events before the cutoff) is aggregated ONCE and kept; each new batch
    * aggregates alone and MERGES into the state by a full-outer key join
    * (counts/sums add, min/max fold, avg re-derives from the merged sum —
    * never stored). The oracle aggregates the whole table in one pass, so
    * a hash match proves the merge is lossless: maintain ≡ recompute.
    * All merge arithmetic is integer (counts + half-up cents per row
    * BEFORE summing, q42's trick), so the proof can't drift an ulp.
    * least/greatest skip NULLs identically in both engines (keys absent
    * from one side fold correctly). Scale: the state never rescans; each
    * batch costs one batch-sized aggregation + a state-key join. */
  def q51(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val cutoff = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    def agg(df: DataFrame) = df
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor($"value" * 100 + lit(0.5)).cast("long")).as("sum_cents"),
        min($"ts").as("first_ts"), max($"ts").as("last_ts"))
    val ev = Tables.events(spark, dir)
    graft.sinks.Sinks.mergeAggState(
        agg(ev.filter($"ts" < cutoff)), agg(ev.filter($"ts" >= cutoff)),
        Seq("event_type", "day"))
      .withColumn("avg_value",
        QueryUtil.halfUp($"sum_cents".cast("double") / 100.0 / $"cnt".cast("double"), 2))
      .orderBy($"event_type", $"day")
  }

  private val q51Oracle =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |       count(*) AS cnt,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       min(ts) AS first_ts, max(ts) AS last_ts,
      |       floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |             / 100.0 / count(*) * 100 + 0.5) / 100.0 AS avg_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin

  /** x67: exponentially time-decayed activity counts — the freshness
    * weighting a training-data sampler or trending-topics ranker applies:
    * score(type, D) = Σ_{d ∈ (D−30, D]} cnt_d · 2^(d−D), half-life one
    * day. Weights are powers of two, so the fixed-point form
    * Σ cnt_d · 2^(30−(D−d)) is an EXACT integer (order-free, no float
    * accumulation) with `decayed = decayed_fp / 2^30`. Scale (100 TB):
    * the only corpus-sized stage is the per-(type, day) count; the decay
    * is a trailing-window join on the days×types panel, which is tiny at
    * any scale (the join is banded by the 30-day bound, not all-pairs). */
  def x67(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val dc = Tables.events(spark, dir)
      .groupBy($"event_type", datediff(to_date($"ts"), lit("2024-01-01")).as("dayn"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // both sides of the trailing-window join
    val cur = dc.select($"event_type", $"dayn")
    val past = dc.select($"event_type".as("p_type"), $"dayn".as("p_dayn"), $"cnt")
    cur.join(past, $"event_type" === $"p_type" &&
        $"p_dayn" <= $"dayn" && $"p_dayn" > $"dayn" - 30)
      .groupBy($"event_type", $"dayn")
      .agg(sum(expr("cnt * shiftleft(CAST(1 AS BIGINT), CAST(30 - (dayn - p_dayn) AS INT))"))
        .as("decayed_fp"))
      .select($"event_type", $"dayn",
        $"decayed_fp", ($"decayed_fp" / lit(1073741824.0)).as("decayed"))
      .orderBy($"event_type", $"dayn")
  }

  private val x67Oracle =
    """WITH dc AS MATERIALIZED (
      |  SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dayn,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT c.event_type, c.dayn,
      |       CAST(sum(p.cnt * (CAST(1 AS BIGINT) << (30 - (c.dayn - p.dayn)))) AS BIGINT) AS decayed_fp,
      |       CAST(sum(p.cnt * (CAST(1 AS BIGINT) << (30 - (c.dayn - p.dayn)))) AS BIGINT) / 1073741824.0 AS decayed
      |FROM dc c JOIN dc p
      |  ON c.event_type = p.event_type AND p.dayn <= c.dayn AND p.dayn > c.dayn - 30
      |GROUP BY 1, 2
      |ORDER BY c.event_type, c.dayn""".stripMargin

  /* Temporal join operators Spark lacks natively: AS-OF (point-in-time
   * lookup, union+carry-forward implementation) and banded range join.
   * DuckDB oracles use its native ASOF JOIN / inequality join — strong
   * cross-checks since the implementations share nothing. */

  /** AS-OF: each order gets the customer's most recent strictly-earlier
    * order date + (deduped) price. Right side pre-aggregated per
    * (custkey, date) so the match is deterministic. */
  def asofPriorOrder(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
    val quotes = ord.groupBy($"o_custkey", $"o_orderdate")
      .agg(round(max($"o_totalprice"), 2).as("mp"))
      .select($"o_custkey", $"o_orderdate".as("q_date"), $"mp")
    AsOf.joinPrior(
      ord.select($"o_orderkey", $"o_custkey", $"o_orderdate"),
      quotes, "o_custkey", "o_orderdate", "q_date", Seq("mp"))
      .select(
        $"o_orderkey", $"o_custkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("d0"),
        date_format($"asof_ts", "yyyy-MM-dd").as("prev_date"),
        $"asof_mp".as("prev_price"))
      .orderBy("o_orderkey")
  }

  private val asofOracle =
    """WITH quotes AS (SELECT o_custkey, o_orderdate AS q_date, round(max(o_totalprice), 2) AS mp
      |                FROM orders GROUP BY 1, 2)
      |SELECT o.o_orderkey, o.o_custkey,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS d0,
      |       strftime(q.q_date, '%Y-%m-%d') AS prev_date,
      |       q.mp AS prev_price
      |FROM orders o ASOF LEFT JOIN quotes q
      |  ON o.o_custkey = q.o_custkey AND o.o_orderdate > q.q_date
      |ORDER BY o.o_orderkey""".stripMargin

  /** Staleness bound for x103 (days). */
  private val AsofTolDays = 30

  /** x103: TOLERANCE-BOUNDED as-of join — the variant every point-in-time
    * feature store actually ships: a prior quote older than
    * [[AsofTolDays]] days is too stale to use, so the match nulls out.
    * Correctness rides on a monotonicity fact: the as-of match IS the
    * nearest prior, so if it misses the window every prior does — one
    * CASE after the x60 carry-forward implements "match within tolerance"
    * exactly, with no second join. Same single-shuffle scale shape as
    * x60; the tolerance is a post-window integer date predicate. */
  def asofTolerance(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
    val quotes = ord.groupBy($"o_custkey", $"o_orderdate")
      .agg(round(max($"o_totalprice"), 2).as("mp"))
      .select($"o_custkey", $"o_orderdate".as("q_date"), $"mp")
    val inTol = datediff($"o_orderdate", $"asof_ts") <= AsofTolDays
    AsOf.joinPrior(
      ord.select($"o_orderkey", $"o_custkey", $"o_orderdate"),
      quotes, "o_custkey", "o_orderdate", "q_date", Seq("mp"))
      .select(
        $"o_orderkey", $"o_custkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("d0"),
        when(inTol, date_format($"asof_ts", "yyyy-MM-dd")).as("prev_date"),
        when(inTol, $"asof_mp").as("prev_price"),
        coalesce(inTol, lit(false)).as("fresh"))
      .orderBy("o_orderkey")
  }

  private val asofToleranceOracle =
    s"""WITH quotes AS (SELECT o_custkey, o_orderdate AS q_date, round(max(o_totalprice), 2) AS mp
       |                FROM orders GROUP BY 1, 2)
       |SELECT o.o_orderkey, o.o_custkey,
       |       strftime(o.o_orderdate, '%Y-%m-%d') AS d0,
       |       CASE WHEN date_diff('day', q.q_date, o.o_orderdate) <= $AsofTolDays
       |            THEN strftime(q.q_date, '%Y-%m-%d') END AS prev_date,
       |       CASE WHEN date_diff('day', q.q_date, o.o_orderdate) <= $AsofTolDays
       |            THEN q.mp END AS prev_price,
       |       coalesce(date_diff('day', q.q_date, o.o_orderdate) <= $AsofTolDays, false) AS fresh
       |FROM orders o ASOF LEFT JOIN quotes q
       |  ON o.o_custkey = q.o_custkey AND o.o_orderdate > q.q_date
       |ORDER BY o.o_orderkey""".stripMargin

  /** Range join: per user, pairs of events where the later-id event falls
    * 0–300 s after the earlier-id one — banded equi-join, not an O(n²)
    * inequality join. */
  def rangePairs(spark: SparkSession, dir: String) = {
    import spark.implicits._
    RangeJoin.withinInterval(Tables.events(spark, dir), "user_id", "event_id", "ts", 300L)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"), min($"gap_sec").as("min_gap"))
      .orderBy("user_id")
  }

  private val rangeOracle =
    """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
      |SELECT a.user_id, count(*) AS n_pairs, min(b.sec - a.sec) AS min_gap
      |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
      |  AND b.sec - a.sec BETWEEN 0 AND 300
      |GROUP BY a.user_id
      |ORDER BY a.user_id""".stripMargin

  /** x62: interval OVERLAP join — which users' activity sessions were
    * concurrent, and for how long. Sessions are q22's 30-minute-gap
    * intervals [min ts, max ts] per (user, session); overlapping pairs
    * across users (ua < ub) come from the banded
    * [[RangeJoin.intervalOverlap]] (1-hour bands, responsibility-band
    * dedup), aggregated to per-user-pair counts and total overlap
    * seconds. The DuckDB oracle runs the same pairing as a native
    * inequality join (IEJoin) — independent algorithms, same pairs. */
  def sessionOverlap(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sec = unix_timestamp($"ts".cast("timestamp"))
    val flagged = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id",
        when(unix_timestamp($"ts".cast("timestamp")) - unix_timestamp(lag($"ts", 1).over(w).cast("timestamp")) > 1800, 1)
          .otherwise(0).as("brk"))
      .withColumn("sess", sum($"brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val iv = flagged.groupBy($"user_id", $"sess")
      .agg(min(sec).as("s"), max(sec).as("e"))
    val a = iv.select($"user_id".as("ua"), $"s".as("as_s"), $"e".as("as_e"))
    val b = iv.select($"user_id".as("ub"), $"s".as("bs_s"), $"e".as("bs_e"))
    RangeJoin.intervalOverlap(a, b, "as_s", "as_e", "bs_s", "bs_e",
        bandSec = 3600L, extraCond = col("ua") < col("ub"))
      .select($"ua", $"ub",
        (least($"as_e", $"bs_e") - greatest($"as_s", $"bs_s")).as("ov"))
      .groupBy($"ua", $"ub")
      .agg(count(lit(1)).as("n_overlaps"), sum($"ov").as("overlap_sec"))
      .orderBy("ua", "ub")
  }

  private val overlapOracle =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
      |                   - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sess AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM flagged),
      |iv AS (SELECT user_id, sess, min(sec) AS s, max(sec) AS e
      |       FROM sess GROUP BY user_id, sess),
      |p AS (SELECT a.user_id AS ua, b.user_id AS ub,
      |        least(a.e, b.e) - greatest(a.s, b.s) AS ov
      |      FROM iv a JOIN iv b
      |        ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e)
      |SELECT ua, ub, count(*) AS n_overlaps, CAST(sum(ov) AS BIGINT) AS overlap_sec
      |FROM p GROUP BY ua, ub
      |ORDER BY ua, ub""".stripMargin

  /* The corpus-governance and engine-ops tier a
   * production training-data pipeline runs around the core transforms:
   * regex redaction plumbing, corpus-derived blocklist gating, per-source
   * contamination reporting, n-gram novelty scoring, incremental JOIN view
   * maintenance (the q51 IVM idea extended from aggregates to joins),
   * column profiling, exact-order-statistic winsorization, and calendar
   * gap-filling with forward fill.
   * Elsewhere: x94 (TextQueries); x95, x96 and x97 (PipelineQueries);
   * q53 (EngineOpsQueries); q54 (StatsQueries).
   */

  /** q52: incremental JOIN view maintenance — q51 extended from aggregates
    * to joins. A materialized join view V = A ⋈ B under batch inserts
    * (ΔA, ΔB) is maintained by the standard delta rule
    * `ΔV = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB` — three bounded joins instead of a
    * full recompute. Here orders/lineitem are split into base/delta by
    * independent keys (so all four terms are non-empty), Spark evaluates
    * `V₀ ∪ ΔV` term by term, and the oracle computes the FULL join of the
    * full tables: equality proves the decomposition is exhaustive and
    * disjoint. Money follows the exact-integer-cents recipe. Scale: every
    * term is an equi-join on the same key — the delta terms are small by
    * construction, which is the entire point of IVM at 100 TB. */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority")
    val l = Tables.lineitem(spark, dir)
      .select($"l_orderkey", floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"))
    val oB = o.filter($"o_orderkey" % 10 =!= 0)
    val oD = o.filter($"o_orderkey" % 10 === 0)
    val lB = l.filter($"l_orderkey" % 7 =!= 0)
    val lD = l.filter($"l_orderkey" % 7 === 0)
    def term(a: DataFrame, b: DataFrame) =
      a.join(b, $"o_orderkey" === $"l_orderkey")
        .select($"o_orderpriority", $"cents")
    term(oB, lB)                 // V0
      .unionByName(term(oD, lB)) // ΔA ⋈ B0
      .unionByName(term(oB, lD)) // A0 ⋈ ΔB
      .unionByName(term(oD, lD)) // ΔA ⋈ ΔB
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_pairs"),
        (sum($"cents").cast("double") / 100.0).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val ivmJoinOracle =
    """SELECT o_orderpriority, count(*) AS n_pairs,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Users profiled by q55 (bounds output rows: |users| × day span). */
  private val GapFillUsers = 20

  /** q55: calendar gap-filling + forward fill — the time-series
    * regularization step before any windowed model: each user's activity
    * is expanded to a dense daily calendar between their first and last
    * active day, missing days get an explicit zero count, and the last
    * seen dominant event type carries forward (IGNORE NULLS last_value).
    * Days render as yyyy-MM-dd strings so both engines emit identical
    * keys. Scale: the calendar explode is bounded by span × users; the
    * forward-fill window shuffles once on user_id. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).filter($"user_id" < GapFillUsers)
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
    val daily = ev.groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_events"), max($"event_type").as("dtype"))
    val span = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
    val cal = span.select($"user_id",
      explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        coalesce($"n_events", lit(0L)).as("n_events"), $"dtype")
      .withColumn("carried_type", last($"dtype", ignoreNulls = true).over(w))
      .select($"user_id", date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_events", $"carried_type")
      .orderBy("user_id", "day")
  }

  private val gapFillOracle =
    s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type
       |            FROM events WHERE user_id < $GapFillUsers),
       |daily AS (SELECT user_id, day, count(*) AS n_events, max(event_type) AS dtype
       |          FROM ev GROUP BY user_id, day),
       |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
       |cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
       |        FROM span)
       |SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
       |       coalesce(d.n_events, 0) AS n_events,
       |       last_value(d.dtype IGNORE NULLS) OVER (
       |         PARTITION BY c.user_id ORDER BY c.day
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_type
       |FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
       |ORDER BY c.user_id, day""".stripMargin

  /** q89: incremental TOP-K view maintenance — the third IVM family
    * member beside q51 (aggregate) and q52 (join). The algebraic identity
    * that makes top-k incrementally maintainable under INSERTS:
    * topk(A ∪ Δ) = topk(topk(A) ∪ Δ) — dropped base rows can never
    * re-enter a ranking that only grows. The maintained view keeps the
    * per-group top-5 (exact cents, orderkey tie-break); the refresh
    * re-ranks 5·|groups| + |Δ| rows instead of |A| + |Δ|. The oracle is
    * the full recompute the identity must equal. (Deletes would need the
    * classic k-buffer/recompute fallback — out of scope, stated here.)
    * Scale: the base top-k is the stored view (tiny); each refresh
    * shuffles only the delta plus 5 rows per group. */
  def ivmTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cut = lit("2000-01-01").cast("date")
    val o = Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey",
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        $"o_orderdate".cast("date").as("d"))
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"cents".desc, $"o_orderkey")
    def top5(df: DataFrame) =
      df.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
    val storedView = top5(o.filter($"d" < cut)).drop("rk")
    top5(storedView.unionByName(o.filter($"d" >= cut)))
      .select($"o_orderpriority", $"rk", $"o_orderkey",
        ($"cents".cast("double") / 100.0).as("price"))
      .orderBy("o_orderpriority", "rk")
  }

  private val ivmTopKOracle =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |           ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC, o_orderkey) AS rk
      |  FROM orders)
      |SELECT o_orderpriority, rk, o_orderkey,
      |       CAST(cents AS DOUBLE) / 100.0 AS price
      |FROM r WHERE rk <= 5
      |ORDER BY o_orderpriority, rk""".stripMargin

  /* The leakage-safe point-in-time lookup that
   * completes the SCD2 story (build q47 → stream x148 → apply Scd.scd2Apply
   * → LOOKUP here), and a TPC-H Q21-shaped decorrelation parity proof. */

  /** x133/x148's cohort bound. */
  private val PitUsers = 40

  /** x156: point-in-time (as-of) lookup against the SCD2 dimension — the
    * feature-store join every training pipeline needs: for each label
    * event, fetch the user's dimension state STRICTLY BEFORE the
    * cutoff (ts − 1 h), never the state written at or after it — the
    * leakage rule. The dim is q47's scd2Build output; the lookup is the
    * x60 carry-forward as-of (one shuffle, no interval explosion), with a
    * per-(user, valid_from) last-writer guard so the right side is unique
    * as AsOf.joinPrior requires. Emitted as the (feature_state ×
    * label_type) contingency matrix a leakage audit inspects — `none`
    * rows are events whose cutoff predates the user's first version (the
    * cold-start case a feature store must surface, not fabricate).
    *
    * Scale: scd2Build is one user-shuffle; the as-of is one more (union +
    * carry-forward window) — O(|events| + |versions|) rows, no range
    * blow-up. At 100 TB the dim is orders of magnitude smaller than the
    * label stream, which is exactly when as-of-by-union beats an
    * interval join. */
  def pointInTimeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).filter($"user_id" < PitUsers)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val dim = Scd.scd2Build(ev)
      .select($"user_id", $"valid_from", $"version",
        $"event_type".as("state_type"))
    // last-writer-wins per (user, valid_from): two changes in the same
    // microsecond would break joinPrior's right-side uniqueness contract
    val wDedup = Window.partitionBy($"user_id", $"valid_from")
      .orderBy($"version".desc)
    val dimU = dim.withColumn("rn", row_number().over(wDedup))
      .filter($"rn" === 1).drop("rn", "version")
    val facts = ev.select($"user_id", $"event_id",
      $"event_type".as("label_type"),
      ($"ts" - expr("INTERVAL 1 HOUR")).as("t"))
    AsOf.joinPrior(facts, dimU, "user_id", "t", "valid_from", Seq("state_type"))
      .groupBy(coalesce($"asof_state_type", lit("none")).as("feature_state"),
        $"label_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("feature_state", "label_type")
  }

  private val pointInTimeJoinOracle =
    s"""WITH e AS (SELECT user_id, ts, event_id, event_type
       |           FROM events WHERE user_id < $PitUsers),
       |s AS (SELECT user_id, ts, event_id, event_type,
       |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |      FROM e),
       |c AS (SELECT user_id, ts AS valid_from, event_type,
       |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
       |      FROM s WHERE prev IS NULL OR prev <> event_type),
       |dimu AS (SELECT user_id, valid_from, event_type AS state_type
       |         FROM (SELECT *, row_number() OVER (PARTITION BY user_id, valid_from
       |                          ORDER BY version DESC) AS rn FROM c)
       |         WHERE rn = 1),
       |f AS (SELECT user_id, event_id, event_type AS label_type,
       |        ts - INTERVAL 1 HOUR AS t FROM e)
       |SELECT coalesce(d.state_type, 'none') AS feature_state, f.label_type,
       |       CAST(count(*) AS BIGINT) AS n
       |FROM f ASOF LEFT JOIN dimu d
       |  ON f.user_id = d.user_id AND f.t > d.valid_from
       |GROUP BY 1, 2
       |ORDER BY feature_state, label_type""".stripMargin

  /** x157: TPC-H Q21-shaped decorrelation parity — the "sole late
    * supplier on a multi-supplier order" query whose textbook form is an
    * EXISTS plus a NOT EXISTS correlated self-join pair. The Spark side
    * runs the DECORRELATED plan a scale-aware engine wants: ONE pass
    * computes per-order supplier and late-supplier distinct counts, then
    * a single equi-join + filter replaces both correlated subqueries; the
    * oracle runs the literal EXISTS/NOT-EXISTS form, and the hash match
    * proves the rewrite is semantics-preserving (the manual analogue of
    * Catalyst's RewriteCorrelatedScalarSubquery family).
    *
    * Scale: naive Q21 is two self-joins of the fact table against itself
    * (quadratic per order at worst); the decorrelated form is one
    * aggregate + one join, each a single l_orderkey shuffle. */
  def soleLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_returnflag")
    val perOrder = li.groupBy($"l_orderkey")
      .agg(countDistinct($"l_suppkey").as("n_supp"),
        countDistinct(when($"l_returnflag" === "R", $"l_suppkey")).as("n_late_supp"))
    val late = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey").distinct()
    late.join(perOrder, "l_orderkey")
      .filter($"n_supp" > 1 && $"n_late_supp" === 1)
      .join(Tables.supplier(spark, dir).select($"s_suppkey", $"s_name"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name").agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(25)
  }

  private val soleLateSupplierOracle =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM (SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      |      FROM lineitem l1
      |      WHERE l1.l_returnflag = 'R'
      |        AND EXISTS (SELECT 1 FROM lineitem l2
      |                    WHERE l2.l_orderkey = l1.l_orderkey
      |                      AND l2.l_suppkey <> l1.l_suppkey)
      |        AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                        WHERE l3.l_orderkey = l1.l_orderkey
      |                          AND l3.l_suppkey <> l1.l_suppkey
      |                          AND l3.l_returnflag = 'R')) w
      |JOIN supplier ON w.l_suppkey = s_suppkey
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 25""".stripMargin

  /* Join-view incremental maintenance (the q51
   * counterpart for JOINs), exact-integer rolling anomaly detection, and a
   * LATERAL-join top-k whose Spark plan is the decorrelated window form a
   * scale-aware engine wants.
   * Elsewhere: q101 (TimeSeriesQueries).
   */

  /** q100: incremental view maintenance for an equi-join view — the delta
    * rule ΔJ = (ΔA⋈B0) ∪ (A0⋈ΔB) ∪ (ΔA⋈ΔB) applied by
    * `Sinks.mergeJoinState`. Orders arriving after the cutoff are ΔA;
    * every 7th customer is a late-arriving dimension row (ΔB). The stored
    * view J0 = A0⋈B0 is materialized once (localCheckpoint — the refresh
    * provably cannot re-derive it), the three delta joins are each
    * delta-sized, and the maintained view aggregates per nation. The
    * oracle recomputes the FULL join in one pass, so the hash match proves
    * maintain ≡ recompute — the join analogue of q51's aggregate IVM.
    *
    * Scale: each refresh costs O(|Δ|) join work against key-partitioned
    * bases (never |A0|·|B0|); at 100 TB the stored view and bases share
    * one bucketing on the join key so the delta joins are exchange-free
    * on the big side. Integer cents make the aggregate drift-proof. */
  def joinIvm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1995-06-01").cast("date")
    val o = Tables.orders(spark, dir).select(
      $"o_custkey", $"o_orderkey", $"o_orderdate",
      floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("cents"))
    val c = Tables.customer(spark, dir)
      .select($"c_custkey".as("o_custkey"), $"c_nationkey")
    val a0 = o.filter($"o_orderdate" < cutoff)
    val dA = o.filter($"o_orderdate" >= cutoff)
    val b0 = c.filter($"o_custkey" % 7 =!= 0)
    val dB = c.filter($"o_custkey" % 7 === 0)
    val j0 = a0.join(b0, "o_custkey").localCheckpoint(true) // stored view
    graft.sinks.Sinks.mergeJoinState(j0, a0, b0, dA, dB, "o_custkey")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("sum_cents"))
      .orderBy($"c_nationkey")
  }

  private val joinIvmOracle =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** q102: per-group top-k as a LATERAL join — the SQL surface DuckDB
    * (and Postgres) users write for "top 2 customers per nation". The
    * oracle runs the literal `JOIN LATERAL (... ORDER BY ... LIMIT 2)`;
    * the Spark side runs the DECORRELATED plan that form must lower to at
    * scale — one ranking window over the fact side + filter, then one
    * broadcast dim join — because executing a correlated subquery per
    * outer row is a nested loop. The hash match proves the rewrite
    * preserves semantics incl. tie handling (acctbal desc, name asc) and
    * the inner-join effect on nations with no customers.
    *
    * Scale: one customer shuffle on c_nationkey for the window, dim
    * broadcast; no per-nation re-scan. */
  def lateralTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_name")
    val top = Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_name", $"c_acctbal")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 2)
    top.join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_name", $"c_acctbal", $"rnk")
      .orderBy($"n_name", $"rnk")
  }

  private val lateralTopkOracle =
    """SELECT n_name, t.c_name, t.c_acctbal, CAST(t.rnk AS INTEGER) AS rnk
      |FROM nation JOIN LATERAL (
      |  SELECT c_name, c_acctbal,
      |         row_number() OVER (ORDER BY c_acctbal DESC, c_name) AS rnk
      |  FROM customer WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t ON true
      |ORDER BY n_name, t.rnk""".stripMargin

  /** q108: decimal-exact money aggregation parity — the type-surface
    * completion of the integer-cents convention: prices cast to
    * DECIMAL(18,2) sum EXACTLY in both engines (Spark widens to
    * DECIMAL(28,2), DuckDB to DECIMAL(38,2) — no float accumulation in
    * either), and the `decimal_matches_cents` flag proves the decimal sum
    * ×100 equals the independent BIGINT-cents sum, i.e. the decimal path
    * lost nothing. Outputs cast to DOUBLE/BIGINT because the decimal
    * TYPES differ across engines even when the values are identical (the
    * r9 HUGEINT lesson applied proactively); the averages re-derive from
    * the exact sums with one half-up rounding site.
    *
    * Scale: decimal sums are Tungsten-native partial aggregates — same
    * one-shuffle shape as any sum, exactness for free. */
  def decimalParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        $"l_extendedprice".cast("decimal(18,2)").as("dp"),
        floor($"l_extendedprice" * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"dp").as("dsum"),
        sum($"cents").as("csum"))
      .select($"l_returnflag", $"n",
        $"dsum".cast("double").as("sum_price"),
        $"csum".as("sum_cents"),
        (($"dsum" * 100).cast("long") === $"csum").cast("int").as("decimal_matches_cents"),
        QueryUtil.halfUp($"csum".cast("double") / 100.0 / $"n".cast("double"), 2)
          .as("avg_price"))
      .orderBy("l_returnflag")
  }

  private val decimalParityOracle =
    """SELECT l_returnflag,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |            = sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS INTEGER)
      |         AS decimal_matches_cents,
      |       floor(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |             / 100.0 / count(*) * 100 + 0.5) / 100.0 AS avg_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /* Typed-cogroup reconciliation (the
   * KeyValueGroupedDataset API surface as an oracle-paired query),
   * sketch-maintenance-in-motion parity (mergeable HLL state folded per
   * micro-batch stays in the batch sketch's error envelope — with the
   * measured no-bit-identity caveat), and a grouping-sets
   * dataset card (the corpus datasheet governance deliverable).
   * Elsewhere: x172 (StreamingQueries); q109 (CurationQueries).
   */

  /** x171: order/lineitem reconciliation via typed cogroup — the
    * Dataset[T] API surface (KeyValueGroupedDataset.cogroup → a CoGroup
    * physical operator: one shuffle per side, then a partition-local
    * per-key iterator pair) exercised end-to-end: each order key sees its
    * lineitem rows and its orders row TOGETHER and emits a reconciliation
    * verdict — matched / order_without_lineitems / lineitems_without_order
    * — plus exact-cents totals; the query rolls the verdicts up. The
    * oracle recomputes with a full-outer join + aggregate, proving the
    * typed path equals the relational one.
    *
    * Scale: cogroup is exactly the full-outer-join shuffle budget (one
    * exchange per side on the key) with arbitrary per-key logic — the
    * escape hatch for reconciliations too procedural for SQL, at SQL
    * cost. */
  def cogroupReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey",
        floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100 + lit(0.5))
          .cast("long").as("cents"))
      .as[(Long, Long)]
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey",
        floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("cents"))
      .as[(Long, Long)]
    val rec = li.groupByKey(_._1).cogroup(ord.groupByKey(_._1)) {
      (key, ls, os) =>
        var lsum = 0L; var ln = 0
        ls.foreach { r => lsum += r._2; ln += 1 }
        val osList = os.toList
        val status =
          if (ln == 0) "order_without_lineitems"
          else if (osList.isEmpty) "lineitems_without_order"
          else "matched"
        Iterator((key, status, lsum, osList.map(_._2).sum, ln))
    }.toDF("o_orderkey", "status", "l_cents", "o_cents", "n_lines")
    rec.groupBy($"status")
      .agg(count(lit(1)).as("n_orders"),
        sum($"n_lines").cast("long").as("n_lines"),
        sum($"l_cents").as("l_cents"),
        sum($"o_cents").as("o_cents"),
        sum(abs($"l_cents" - $"o_cents")).as("abs_gap_cents"))
      .orderBy("status")
  }

  private val cogroupReconcileOracle =
    """WITH l AS (SELECT l_orderkey AS k,
      |             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
      |                  AS BIGINT)) AS BIGINT) AS l_cents,
      |             CAST(count(*) AS BIGINT) AS n_lines
      |           FROM lineitem GROUP BY 1),
      |o AS (SELECT o_orderkey AS k,
      |        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents
      |      FROM orders),
      |rec AS (SELECT coalesce(l.k, o.k) AS k,
      |          CASE WHEN l.k IS NULL THEN 'order_without_lineitems'
      |               WHEN o.k IS NULL THEN 'lineitems_without_order'
      |               ELSE 'matched' END AS status,
      |          coalesce(l.l_cents, 0) AS l_cents,
      |          coalesce(o.o_cents, 0) AS o_cents,
      |          coalesce(l.n_lines, 0) AS n_lines
      |        FROM l FULL OUTER JOIN o ON l.k = o.k)
      |SELECT status,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(n_lines) AS BIGINT) AS n_lines,
      |       CAST(sum(l_cents) AS BIGINT) AS l_cents,
      |       CAST(sum(o_cents) AS BIGINT) AS o_cents,
      |       CAST(sum(abs(l_cents - o_cents)) AS BIGINT) AS abs_gap_cents
      |FROM rec
      |GROUP BY status
      |ORDER BY status""".stripMargin

  /* Three-valued-logic anti-join semantics —
   * the NOT IN null trap as an oracle-paired parity proof. */

  /** q111: null-aware anti-join semantics — SQL's most notorious
    * three-valued-logic trap, proven engine-equivalent: `x NOT IN
    * (subquery)` is FALSE-or-UNKNOWN for EVERY x once the subquery
    * contains one NULL (so the filter returns zero rows), while the
    * rewrite everyone intends — NOT EXISTS — ignores the NULLs. The dim
    * key list gets NULLs injected deterministically (nullif on a key
    * band); the query runs BOTH forms over the same data plus the NOT IN
    * form against the null-free list, and emits the three counts. Spark
    * plans the NOT IN as a null-aware anti join (NAAJ) — semantics the
    * optimizer must preserve, not an edge case a rewrite may paper over.
    *
    * Scale: both forms are broadcast anti joins on the dim key set; the
    * NAAJ's extra null check is a per-row predicate, not a plan change. */
  def nullAwareAntijoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    Tables.customer(spark, dir)
      .select(nullif($"c_custkey", lit(5)).as("k"))
      .createOrReplaceTempView("q111_keys_with_null")
    o.createOrReplaceTempView("q111_orders")
    spark.sql(
      """SELECT 'not_exists' AS form, CAST(count(*) AS BIGINT) AS n
        |FROM q111_orders
        |WHERE NOT EXISTS (SELECT 1 FROM q111_keys_with_null k
        |                  WHERE k.k = o_custkey)
        |UNION ALL
        |SELECT 'not_in_with_null', CAST(count(*) AS BIGINT)
        |FROM q111_orders
        |WHERE o_custkey NOT IN (SELECT k FROM q111_keys_with_null)
        |UNION ALL
        |SELECT 'not_in_without_null', CAST(count(*) AS BIGINT)
        |FROM q111_orders
        |WHERE o_custkey NOT IN (SELECT k FROM q111_keys_with_null
        |                        WHERE k IS NOT NULL)
        |ORDER BY form""".stripMargin)
  }

  private val nullAwareAntijoinOracle =
    """WITH keys AS (SELECT nullif(c_custkey, 5) AS k FROM customer)
      |SELECT 'not_exists' AS form, CAST(count(*) AS BIGINT) AS n
      |FROM orders WHERE NOT EXISTS (SELECT 1 FROM keys WHERE keys.k = o_custkey)
      |UNION ALL
      |SELECT 'not_in_with_null', CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys)
      |UNION ALL
      |SELECT 'not_in_without_null', CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL)
      |ORDER BY form""".stripMargin

  // ---------------------------------------------------------------- q112

  /** q112: right-to-be-forgotten cascade report — given a deletion
    * cohort (customers with custkey ≡ 0 mod 97), the blast radius
    * across the schema BEFORE any tombstone is written: affected
    * orders, affected line items (reached transitively through orders),
    * and each table's affected per-mille. This is the impact estimate a
    * governance pipeline runs to size a GDPR erasure batch and to
    * schedule the rewrite (x144's diff-apply is the mechanism; this is
    * its planning query).
    *
    * Scale: the cohort is broadcast; orders filter map-side; lineitem
    * reaches the cohort through a semi-join on o_orderkey — no full
    * shuffle of any fact table, and the transitive reach pattern
    * extends to any star schema depth. */
  def deleteCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).select($"c_custkey")
    val cohort = cust.filter(pmod($"c_custkey", lit(97L)) === 0L)
      .select($"c_custkey".as("k")).localCheckpoint(true)
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val affOrders = orders.join(broadcast(cohort), $"o_custkey" === $"k")
      .select($"o_orderkey").localCheckpoint(true)
    val counts = Seq(
      ("customer", cust.count(), cohort.count()),
      ("orders", orders.count(), affOrders.count()),
      ("lineitem", li.count(),
        li.join(broadcast(affOrders), $"l_orderkey" === $"o_orderkey", "left_semi")
          .count()))
    spark.createDataFrame(counts).toDF("table_name", "n_rows", "n_affected")
      .select($"table_name", $"n_rows", $"n_affected",
        expr("(n_affected * 1000) div n_rows").as("per_mille"))
      .orderBy($"table_name")
  }

  private val cascadeOracle =
    """WITH cohort AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |aff_orders AS (SELECT o_orderkey FROM orders
      |               WHERE o_custkey IN (SELECT c_custkey FROM cohort)),
      |rows0 AS (
      |  SELECT 'customer' AS table_name,
      |         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
      |         CAST((SELECT count(*) FROM cohort) AS BIGINT) AS n_affected
      |  UNION ALL
      |  SELECT 'lineitem',
      |         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
      |         CAST((SELECT count(*) FROM lineitem
      |               WHERE l_orderkey IN (SELECT o_orderkey FROM aff_orders)) AS BIGINT)
      |  UNION ALL
      |  SELECT 'orders',
      |         CAST((SELECT count(*) FROM orders) AS BIGINT),
      |         CAST((SELECT count(*) FROM aff_orders) AS BIGINT))
      |SELECT table_name, n_rows, n_affected,
      |       CAST((n_affected * 1000) // n_rows AS BIGINT) AS per_mille
      |FROM rows0 ORDER BY table_name""".stripMargin

  /* The Spark-4 VARIANT type (x228) — the
   * new semi-structured column surface (parse once into a binary
   * variant, typed-path extraction in codegen), exercised end-to-end
   * against a JSON-function oracle. */

  /** x228: VARIANT extraction — `parse_json(props)` materializes the
    * event payload as a Spark-4 VARIANT (binary-encoded, schema-on-
    * read) and `variant_get(v, '$.k', 'bigint')` pulls the typed field
    * inside whole-stage codegen — the successor to q17's
    * get_json_object string re-parsing (the variant parses ONCE; every
    * extraction after that is a binary walk). The panel per event
    * type: count, Σk, max k, the even-k cohort, and the count of a
    * MISSING path via try_variant_get (null semantics, not an error).
    *
    * Scale: parse+extract is a narrow projection (no shuffle); the
    * variant encodes once per row, so multi-field extraction at 100 TB
    * does not re-tokenize the JSON per field like the string path
    * does. */
  def variantExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type",
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        expr("try_variant_get(parse_json(props), '$.missing', 'bigint')")
          .as("m"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        max($"k").as("max_k"),
        sum(when($"k" % 2 === 0, 1L).otherwise(0L)).as("n_even"),
        sum(when($"m".isNull, 1L).otherwise(0L)).as("n_missing"))
      .orderBy($"event_type")
  }

  private val variantOracle =
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(k) AS BIGINT) AS sum_k,
      |       CAST(max(k) AS BIGINT) AS max_k,
      |       CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
      |       CAST(count(*) AS BIGINT) AS n_missing
      |FROM (SELECT event_type,
      |             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |      FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /* Recursive CTEs (x229) — Spark 4 ships
   * `WITH RECURSIVE`, so the hierarchy roll-up every warehouse needs
   * (org charts, BOMs, account trees) runs as the SAME SQL text in
   * Spark and DuckDB — the query is shared verbatim between the engine
   * and its oracle. */

  /** The literal recursive SQL both engines execute: customers hang on
    * a derived decimal tree (parent = ⌊key/10⌋), each leaf walks to
    * its single-digit root division, and revenue rolls up per
    * division. floor(x/10.0) instead of integer div keeps the one
    * arithmetic step spelled identically (and floor-safe) in both
    * dialects. */
  private val rollupSql =
    """WITH RECURSIVE rev AS (
      |  SELECT o_custkey AS k,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |anc AS (
      |  SELECT c_custkey AS leaf, CAST(c_custkey AS BIGINT) AS node,
      |         CAST(0 AS BIGINT) AS depth
      |  FROM customer
      |  UNION ALL
      |  SELECT leaf, CAST(floor(CAST(node AS DOUBLE) / 10.0) AS BIGINT),
      |         depth + 1
      |  FROM anc WHERE node >= 10),
      |tops AS (
      |  SELECT leaf, node AS division, depth
      |  FROM anc WHERE node BETWEEN 0 AND 9)
      |SELECT division,
      |       CAST(count(*) AS BIGINT) AS n_cust,
      |       CAST(max(depth) AS BIGINT) AS max_depth,
      |       CAST(COALESCE(sum(r.cents), 0) AS BIGINT) AS cents
      |FROM tops t LEFT JOIN rev r ON r.k = t.leaf
      |GROUP BY division
      |ORDER BY division""".stripMargin

  /** x229: recursive hierarchy roll-up — see [[rollupSql]]; the Spark
    * side registers the parquet tables as temp views and runs the
    * identical statement the oracle runs. The published panel per
    * root division: member count, tree depth, revenue mass.
    *
    * Scale: the recursion is linear in customers × digits (every node
    * has ONE parent), so each recursive step is a narrow projection of
    * the previous frontier — the plan is `UnionLoop` with
    * per-iteration row counts shrinking to the division roots; no
    * fan-out, no dedup pressure. */
  def recursiveRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(rollupSql)
  }

  /* Three analytics staples from the
   * reference's marketing-warehouse domain — a CLAMPED running balance
   * where the sequential recurrence `b_t = max(0, b_{t-1} + x_t)` is
   * evaluated distributed via its prefix-sum closed form and PROVEN
   * against a genuinely recursive oracle, the classic cohort-retention
   * triangle, and the Murphy decomposition of the Brier score
   * (reliability / resolution / uncertainty) that completes the x166
   * calibration audit.
   * Elsewhere: x274 (AnalyticsQueries); x275 (TrainingQueries).
   */

  // ---------------------------------------------------------------- x273

  /** x273: clamped running balance — per supplier nation, daily net
    * stock flow (shipments deplete, returns restock — net-negative, so
    * the floor BINDS: most days are stockouts and the clamp path is
    * genuinely exercised, not a no-op) with the floor-at-zero recurrence
    * `b_t = max(0, b_{t-1} + x_t)`. A naive evaluation is sequential;
    * the closed form `b_t = S_t − min(0, min_{j≤t} S_j)` (prefix sums +
    * running min) turns it into two windows — the distributed-systems
    * trick that makes inventory/credit-ledger semantics scale. The
    * ORACLE side deliberately runs the RECURRENCE itself (a recursive
    * CTE stepping day by day), so the closed form is proven equal to
    * the sequential definition over every trajectory, compressed per
    * nation into final balance, zero-stockout-day count, and peak.
    *
    * Scale: one group-by to daily flows, two per-key windows — O(n log
    * n) partitioned, no sequential dependency; the oracle's recursion
    * is the semantics, not the implementation. */
  def clampedBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flows = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .select($"s_nationkey".cast("long").as("nation"),
        to_date($"l_shipdate").as("day"),
        when($"l_returnflag" === "R", $"l_quantity").otherwise(-$"l_quantity")
          .cast("long").as("q"))
      .groupBy($"nation", $"day").agg(sum($"q").as("delta"))
      .localCheckpoint(true)
    val w = Window.partitionBy($"nation").orderBy($"day")
      .rowsBetween(Long.MinValue, 0)
    val traj = flows
      .withColumn("s", sum($"delta").over(w))
      .withColumn("m", least(lit(0L), min($"s").over(w)))
      .withColumn("b", $"s" - $"m")
    traj.groupBy($"nation")
      .agg(count(lit(1)).as("n_days"),
        max_by($"b", $"day").as("final_bal"),
        sum(when($"b" === 0L, 1L).otherwise(0L)).as("n_zero_days"),
        max($"b").as("max_bal"))
      .orderBy($"nation")
  }

  private val clampedBalanceOracle =
    """WITH RECURSIVE flows AS MATERIALIZED (
      |  SELECT CAST(s.s_nationkey AS BIGINT) AS nation,
      |         CAST(l_shipdate AS DATE) AS day,
      |         CAST(sum(CASE WHEN l_returnflag = 'R'
      |                       THEN CAST(l_quantity AS BIGINT)
      |                       ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT)
      |           AS delta
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |deltas AS MATERIALIZED (
      |  SELECT nation, delta,
      |         CAST(row_number() OVER (PARTITION BY nation ORDER BY day)
      |              AS BIGINT) AS r
      |  FROM flows),
      |rec AS (
      |  SELECT nation, CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS bal,
      |         CAST(0 AS BIGINT) AS zeros, CAST(0 AS BIGINT) AS mx
      |  FROM (SELECT DISTINCT nation FROM deltas)
      |  UNION ALL
      |  SELECT b.nation, d.r, greatest(0, b.bal + d.delta),
      |         b.zeros + CASE WHEN greatest(0, b.bal + d.delta) = 0
      |                        THEN 1 ELSE 0 END,
      |         greatest(b.mx, greatest(0, b.bal + d.delta))
      |  FROM rec b JOIN deltas d ON d.nation = b.nation AND d.r = b.r + 1),
      |fin AS (SELECT nation, max(r) AS rmax FROM rec GROUP BY nation)
      |SELECT r.nation, r.r AS n_days, r.bal AS final_bal,
      |       r.zeros AS n_zero_days, r.mx AS max_bal
      |FROM rec r JOIN fin f ON f.nation = r.nation AND f.rmax = r.r
      |ORDER BY r.nation""".stripMargin

  // ---------------------------------------------------------------- x277

  /** x277: relational PIVOT parity — yearly revenue (exact integer
    * cents) per customer nation through Spark's `groupBy().pivot()`
    * operator with a FIXED value list (the scale-safe spelling: an
    * unlisted pivot would scan once just to discover columns), against
    * the oracle's explicit conditional aggregation — pinning that the
    * pivot operator is exactly conditional aggregation, with absent
    * cells as zero via per-column coalesce.
    *
    * Scale: one hash aggregate wide — the pivot adds no shuffle beyond
    * the group-by when the column list is literal. */
  def pivotParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val years = (1995 to 2001).map(_.toString)
    val base = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name",
        year($"o_orderdate").cast("string").as("yr"),
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
    val pivoted = base.groupBy($"n_name").pivot("yr", years).sum("cents")
    years.foldLeft(pivoted) { (df, y) =>
      df.withColumn(s"rev_$y", coalesce(col(y), lit(0L))).drop(y)
    }.orderBy($"n_name")
  }

  private val pivotParityOracle = {
    val cols = (1995 to 2001).map { y =>
      s"""CAST(COALESCE(sum(CASE WHEN year(o_orderdate) = $y
         |           THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
         |           END), 0) AS BIGINT) AS rev_$y""".stripMargin
    }.mkString(",\n")
    s"""SELECT n_name,
       |$cols
       |FROM orders o
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin
  }

  // ---------------------------------------------------------------- x278

  /** x278: rank-function tie-semantics parity — Spark's BUILTIN rank /
    * dense_rank / percent_rank / cume_dist run over the row-level
    * per-nation balance ordering (exact cents, real tie groups), then
    * collapsed to one row per distinct (nation, balance); the oracle
    * re-derives every function from the value census by pure integer
    * arithmetic (rank = rows strictly before + 1, percent_rank =
    * before/(n−1), cume_dist = peers-inclusive cum/n). Agreement pins
    * that the builtins implement exactly the SQL-standard tie
    * semantics. ntile is deliberately absent: its bucket boundary
    * WITHIN a tie group is row-order-dependent, i.e. not deterministic
    * — that exclusion is itself the documented finding.
    *
    * Scale: this one runs the real builtins row-level by design (the
    * semantics under test); the census recipe (x270) is the scale path
    * when only the per-value result is needed. */
  def rankFunctions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.customer(spark, dir)
      .select($"c_nationkey".cast("long").as("nk"),
        floor($"c_acctbal" * 100.0 + 0.5).cast("long").as("bal"))
    val w = Window.partitionBy($"nk").orderBy($"bal")
    val r = rows
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
    r.groupBy($"nk", $"bal")
      .agg(count(lit(1)).as("t"),
        max($"rnk").as("rnk"), max($"drnk").as("drnk"),
        QueryUtil.halfUp(max($"pr"), 6).as("pct_rank"),
        QueryUtil.halfUp(max($"cd"), 6).as("cume_dist"))
      .filter($"drnk" <= 20L) // the first 20 distinct values per nation
      .orderBy($"nk", $"bal")
  }

  private val rankFunctionsOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
      |         CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal,
      |         CAST(count(*) AS BIGINT) AS t
      |  FROM customer GROUP BY 1, 2),
      |ranked AS (
      |  SELECT nk, bal, t,
      |         CAST(sum(t) OVER (PARTITION BY nk) AS BIGINT) AS n,
      |         CAST(sum(t) OVER (PARTITION BY nk ORDER BY bal
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |         CAST(COALESCE(sum(t) OVER (PARTITION BY nk ORDER BY bal
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS bef,
      |         CAST(row_number() OVER (PARTITION BY nk ORDER BY bal)
      |           AS BIGINT) AS drnk
      |  FROM census)
      |SELECT nk, bal, t, bef + 1 AS rnk, drnk,
      |       floor(CAST(bef AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000.0 AS pct_rank,
      |       floor(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000.0 AS cume_dist
      |FROM ranked
      |WHERE drnk <= 20
      |ORDER BY nk, bal""".stripMargin

  /* The two SQL-surface corners that break
   * real warehouse migrations — BAG-semantics set operations
   * (INTERSECT ALL / EXCEPT ALL multiplicity rules) and null-handling
   * semantics (null-safe equality joins, null group keys, count(col) vs
   * count(*), explicit NULLS FIRST/LAST ordering — where Spark's and
   * DuckDB's DEFAULTS actually differ, so the pin uses explicit
   * spellings). Both run Spark's BUILTIN operators against census
   * integer arithmetic in the oracle.
   */

  /** High-value threshold (exact cents) for the B multiset. */
  private val HighCents = 15000000L

  // ---------------------------------------------------------------- x287

  /** x287: bag-semantics set operations — A = (custkey, year) of URGENT
    * orders, B = same projection of high-value orders (both genuine
    * multisets: a customer repeats within a year). Spark's
    * `intersectAll` / `exceptAll` / `unionAll` / `intersect` /
    * `except` run as the operators; the oracle derives every count
    * from the per-key (c₁, c₂) census: |A ∩all B| = Σ min(c₁,c₂),
    * |A −all B| = Σ max(c₁−c₂,0), distinct variants from existence
    * flags. Exactly the multiplicity rules ANSI prescribes — and the
    * first thing to silently drift in a migration.
    *
    * Scale: two scans + one key census; the operators themselves
    * hash-shuffle once on the projected key. */
  def bagSetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .select($"o_custkey".cast("long").as("ck"),
        year($"o_orderdate").cast("long").as("yr"),
        $"o_orderpriority".as("pr"),
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
      .localCheckpoint(true)
    val a = base.filter($"pr" === "1-URGENT").select($"ck", $"yr")
    val b = base.filter($"cents" >= HighCents).select($"ck", $"yr")
    // every metric is a 1-row aggregate frame — no driver-side actions
    def m(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("cnt")).select(lit(name).as("metric"), $"cnt")
    Seq(
      m("n_a", a), m("n_b", b),
      m("intersect_all", a.intersectAll(b)),
      m("except_all", a.exceptAll(b)),
      m("intersect_distinct", a.intersect(b)),
      m("except_distinct", a.except(b)),
      m("union_all", a.unionAll(b)),
      m("union_distinct", a.union(b).distinct()))
      .reduce(_ unionByName _)
      .orderBy($"metric")
  }

  private val bagSetOpsOracle =
    s"""WITH base AS MATERIALIZED (
       |  SELECT CAST(o_custkey AS BIGINT) AS ck,
       |         CAST(year(o_orderdate) AS BIGINT) AS yr,
       |         o_orderpriority AS pr,
       |         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |ca AS (SELECT ck, yr, CAST(count(*) AS BIGINT) AS c1
       |       FROM base WHERE pr = '1-URGENT' GROUP BY 1, 2),
       |cb AS (SELECT ck, yr, CAST(count(*) AS BIGINT) AS c2
       |       FROM base WHERE cents >= $HighCents GROUP BY 1, 2),
       |census AS MATERIALIZED (
       |  SELECT COALESCE(ca.ck, cb.ck) AS ck, COALESCE(ca.yr, cb.yr) AS yr,
       |         COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
       |  FROM ca FULL OUTER JOIN cb ON ca.ck = cb.ck AND ca.yr = cb.yr)
       |SELECT metric, cnt FROM (
       |  SELECT 'n_a' AS metric, CAST(sum(c1) AS BIGINT) AS cnt FROM census
       |  UNION ALL SELECT 'n_b', CAST(sum(c2) AS BIGINT) FROM census
       |  UNION ALL SELECT 'intersect_all', CAST(sum(least(c1, c2)) AS BIGINT)
       |    FROM census
       |  UNION ALL SELECT 'except_all', CAST(sum(greatest(c1 - c2, 0)) AS BIGINT)
       |    FROM census
       |  UNION ALL SELECT 'intersect_distinct',
       |    CAST(sum(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM census
       |  UNION ALL SELECT 'except_distinct',
       |    CAST(sum(CASE WHEN c1 > 0 AND c2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM census
       |  UNION ALL SELECT 'union_all', CAST(sum(c1 + c2) AS BIGINT) FROM census
       |  UNION ALL SELECT 'union_distinct',
       |    CAST(sum(CASE WHEN c1 + c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM census)
       |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------- x288

  /** x288: null-semantics pins. Frames with REAL null keys (nationkey
    * nulled where the account balance is negative): (1) inner equi-join
    * drops null keys on both sides; (2) the null-safe join (Spark `<=>`,
    * SQL `IS NOT DISTINCT FROM`) additionally matches null-to-null as
    * a full partner-pair product; (3) GROUP BY keeps a null group and
    * `count(col)` skips nulls while `count(*)` doesn't; (4) ordering is
    * pinned with EXPLICIT `NULLS FIRST`/`NULLS LAST` — because the
    * engines' ASC DEFAULTS genuinely differ (Spark: nulls first,
    * DuckDB: nulls last), the exact trap this query exists to catch.
    *
    * Scale: broadcast-dim joins + one census; null semantics cost
    * nothing, getting them wrong costs a migration. */
  def nullSemantics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .select(when($"c_acctbal" >= 0.0, $"c_nationkey".cast("long")).as("k"))
      .localCheckpoint(true)
    val supp = Tables.supplier(spark, dir)
      .select(when($"s_suppkey" % 7 === 0L, lit(null).cast("long"))
        .otherwise($"s_nationkey".cast("long")).as("k2"))
      .localCheckpoint(true)
    // every metric is a 1-row frame — no driver-side actions
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("val"))
        .select(lit(name).as("metric"), $"val")
    val first = (name: String, ord: org.apache.spark.sql.Column) =>
      cust.orderBy(ord).limit(1)
        .select(lit(name).as("metric"), coalesce($"k", lit(-1L)).as("val"))
    Seq(
      cnt("inner_join", cust.join(supp, $"k" === $"k2")),
      cnt("nullsafe_join", cust.join(supp, $"k" <=> $"k2")),
      cnt("null_group_size", cust.filter($"k".isNull)),
      cnt("count_star", cust),
      cust.agg(count($"k").as("val"))
        .select(lit("count_col").as("metric"), $"val"),
      first("first_nulls_first", $"k".asc_nulls_first),
      first("first_nulls_last", $"k".asc_nulls_last))
      .reduce(_ unionByName _)
      .orderBy($"metric")
  }

  private val nullSemanticsOracle =
    """WITH cust AS MATERIALIZED (
      |  SELECT CASE WHEN c_acctbal >= 0.0 THEN CAST(c_nationkey AS BIGINT)
      |         END AS k
      |  FROM customer),
      |supp AS MATERIALIZED (
      |  SELECT CASE WHEN s_suppkey % 7 = 0 THEN NULL
      |              ELSE CAST(s_nationkey AS BIGINT) END AS k2
      |  FROM supplier)
      |SELECT metric, val FROM (
      |  SELECT 'inner_join' AS metric,
      |         (SELECT CAST(count(*) AS BIGINT) FROM cust JOIN supp ON k = k2)
      |           AS val
      |  UNION ALL SELECT 'nullsafe_join',
      |    (SELECT CAST(count(*) AS BIGINT) FROM cust JOIN supp
      |     ON k IS NOT DISTINCT FROM k2)
      |  UNION ALL SELECT 'null_group_size',
      |    (SELECT CAST(count(*) AS BIGINT) FROM cust WHERE k IS NULL)
      |  UNION ALL SELECT 'count_star', (SELECT CAST(count(*) AS BIGINT) FROM cust)
      |  UNION ALL SELECT 'count_col', (SELECT CAST(count(k) AS BIGINT) FROM cust)
      |  UNION ALL SELECT 'first_nulls_first',
      |    (SELECT COALESCE(k, -1) FROM cust ORDER BY k ASC NULLS FIRST LIMIT 1)
      |  UNION ALL SELECT 'first_nulls_last',
      |    (SELECT COALESCE(k, -1) FROM cust ORDER BY k ASC NULLS LAST LIMIT 1))
      |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------- x295

  /** x295: recursive CTE parity — Spark 4's `WITH RECURSIVE` (new SQL
    * surface in the 4.x line) against DuckDB's, on a transitive-closure
    * workload: suppliers form an implicit binary tree (parent(k) = k div
    * 2, root 1), the recursion walks root→leaves accumulating depth and
    * the path's account-balance cents, and the published result is the
    * per-depth census (node count, path-cents total, key range). Both
    * engines run the same anchor + UNION ALL step; arithmetic is BIGINT
    * end-to-end.
    *
    * Scale: recursion depth is log₂(keys) (~24 levels at 16M nodes);
    * each step is one equi-join of the frontier against the static
    * table — the iterative-fixpoint shape Graph.scala implements by
    * hand, now exercised through the ENGINE's own recursion operator. */
  def recursiveCte(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // node key = s_suppkey + 1: fixture keys start at 0, and a div-2 tree
    // rooted at 1 only covers keys >= 1 — the shift makes the closure
    // visit EVERY supplier exactly once (Round12Spec pins that invariant)
    Tables.supplier(spark, dir)
      .select(($"s_suppkey" + 1).as("k0"),
        floor($"s_acctbal" * 100 + 0.5).cast("long").as("cents"))
      .createOrReplaceTempView("x295_sup")
    spark.sql(
      """WITH RECURSIVE h(k, depth, path_cents) AS (
        |  SELECT k0, CAST(1 AS BIGINT), cents
        |  FROM x295_sup WHERE k0 = 1
        |  UNION ALL
        |  SELECT s.k0, h.depth + 1, h.path_cents + s.cents
        |  FROM x295_sup s JOIN h ON s.k0 div 2 = h.k
        |  WHERE s.k0 > 1)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(path_cents) AS BIGINT) AS path_cents,
        |       min(k) AS min_key, max(k) AS max_key
        |FROM h GROUP BY depth ORDER BY depth""".stripMargin)
  }

  private val recursiveCteOracle =
    """WITH RECURSIVE s AS (
      |  SELECT s_suppkey + 1 AS k0,
      |         CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |  FROM supplier),
      |h(k, depth, path_cents) AS (
      |  SELECT k0, CAST(1 AS BIGINT), cents FROM s WHERE k0 = 1
      |  UNION ALL
      |  SELECT s.k0, h.depth + 1, h.path_cents + s.cents
      |  FROM s JOIN h ON s.k0 // 2 = h.k
      |  WHERE s.k0 > 1)
      |SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
      |       CAST(sum(path_cents) AS BIGINT) AS path_cents,
      |       min(k) AS min_key, max(k) AS max_key
      |FROM h GROUP BY depth ORDER BY depth""".stripMargin

  // ---------------------------------------------------------------- x304

  /** x304: percentile_cont / percentile_disc engine-surface parity — the
    * SQL-standard WITHIN GROUP quantile pair pinned against DuckDB's
    * quantile_cont/quantile_disc on integer cents. Exactness argument:
    * at dyadic p ∈ {¼, ½, ¾} the rank r = p·(n−1) and its fraction g are
    * exact binary fractions, and the interpolation over integer cents
    * (≤ 2⁵³) multiplies integers by exact dyadic g — so BOTH engines'
    * doubles are bit-identical REGARDLESS of their interpolation formula
    * (a+g·(b−a) vs (1−g)·a+g·b), and the pin needs no rounding at all.
    * percentile_disc returns an actual element (cast back to BIGINT).
    *
    * Scale: builtin sketch-free exact percentiles sort within groups
    * (SIX sort-based aggregates here — measured ~7 s over the full
    * sf0.1 fact table), so the pin runs on a deterministic 1-in-10
    * orderkey sample: engine-semantics agreement needs representative
    * sizes, not the whole corpus. At 100 TB use the census-rank recipe
    * (q72/x280); this pin is about SEMANTICS, not the scale path. */
  def percentileParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_orderkey" % 10 === 0)
      .select($"l_returnflag".as("grp"),
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("v"))
      .createOrReplaceTempView("x304_v")
    spark.sql(
      """SELECT grp,
        |       percentile(v, 0.25D) AS p25,
        |       percentile(v, 0.5D)  AS p50,
        |       percentile(v, 0.75D) AS p75,
        |       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT) AS d25,
        |       CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY v) AS BIGINT) AS d50,
        |       CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT) AS d75
        |FROM x304_v GROUP BY grp ORDER BY grp""".stripMargin)
  }

  private val percentileParityOracle =
    """WITH v AS (SELECT l_returnflag AS grp,
      |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |           FROM lineitem WHERE l_orderkey % 10 = 0)
      |SELECT grp,
      |       quantile_cont(v, 0.25) AS p25,
      |       quantile_cont(v, 0.5)  AS p50,
      |       quantile_cont(v, 0.75) AS p75,
      |       CAST(quantile_disc(v, 0.25) AS BIGINT) AS d25,
      |       CAST(quantile_disc(v, 0.5)  AS BIGINT) AS d50,
      |       CAST(quantile_disc(v, 0.75) AS BIGINT) AS d75
      |FROM v GROUP BY grp ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------- x321

  /** Overflow-forcing multiplier for the try_multiply arm (cents above
    * ⌊Long.Max / this⌋ = 10,399,562 overflow and must yield NULL, not an
    * error). Sized so overflow hits ~1% of rows (the fixture's cents
    * p99–max band): TryExpression catches a JVM ArithmeticException per
    * overflowing row, and a first cut that overflowed HALF the corpus
    * spent 10 s/sweep on exception fill-in — the semantics pin must not
    * double as an exception-throughput benchmark. */
  private val TryMul = 886900000000L

  /** x321: `try_` arithmetic semantics pin — Spark's try_divide /
    * try_multiply return NULL where strict ANSI arithmetic raises
    * (division by zero, BIGINT overflow). DuckDB has no try_ family and
    * ERRORS on both, so the oracle reconstructs the exact NULL domain:
    * divisor = 0, and |cents| > ⌊2⁶³−1 / multiplier⌋ for the overflow
    * arm — pinning precisely WHERE the nulls appear, not just that the
    * happy path matches. Bounded output (first 60 orderkeys) plus the
    * global null-count row the engines must agree on.
    *
    * Scale: map-only projection; the null-count aggregate is one
    * map-side-combinable pass. */
  def tryArith(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber".cast("long").as("ln"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"),
        ($"l_quantity".cast("long") - 25L).as("dvs"))
      .withColumn("qdiv", expr("try_divide(cents, dvs)"))
      .withColumn("qmul", expr(s"try_multiply(cents, ${TryMul}L)"))
    val sample = rows.filter($"l_orderkey" < 60L)
      .select($"l_orderkey", $"ln", $"cents", $"dvs",
        QueryUtil.halfUp4($"qdiv").as("qdiv"), $"qmul",
        lit(null).cast("long").as("null_div"),
        lit(null).cast("long").as("null_mul"))
    val totals = rows.agg(
      sum(when($"qdiv".isNull, 1L).otherwise(0L)).as("null_div"),
      sum(when($"qmul".isNull, 1L).otherwise(0L)).as("null_mul"))
      .select(lit(-1L).as("l_orderkey"), lit(0L).as("ln"),
        lit(0L).as("cents"), lit(0L).as("dvs"),
        lit(null).cast("double").as("qdiv"), lit(null).cast("long").as("qmul"),
        $"null_div", $"null_mul")
    sample.unionByName(totals).orderBy($"l_orderkey", $"ln")
  }

  private val tryArithOracle =
    s"""WITH rows_ AS MATERIALIZED (
       |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
       |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
       |         CAST(l_quantity AS BIGINT) - 25 AS dvs
       |  FROM lineitem),
       |calc AS (
       |  SELECT *,
       |         CASE WHEN dvs = 0 THEN NULL
       |              ELSE CAST(cents AS DOUBLE) / CAST(dvs AS DOUBLE) END AS qdiv,
       |         CASE WHEN abs(cents) > 9223372036854775807 // $TryMul THEN NULL
       |              ELSE cents * $TryMul END AS qmul
       |  FROM rows_)
       |SELECT l_orderkey, ln, cents, dvs,
       |       floor(qdiv * 10000 + 0.5) / 10000.0 AS qdiv, qmul,
       |       CAST(NULL AS BIGINT) AS null_div, CAST(NULL AS BIGINT) AS null_mul
       |FROM calc WHERE l_orderkey < 60
       |UNION ALL
       |SELECT -1, 0, 0, 0, NULL, NULL,
       |       CAST(sum(CASE WHEN qdiv IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       |       CAST(sum(CASE WHEN qmul IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |FROM calc
       |ORDER BY l_orderkey, ln""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", "TPC-H Q1-style hash aggregate with partial combine", q01, Some(q01Oracle)),
    QueryDef("q02_filter_pushdown", "Q6-style filter+projection pushed to parquet scan", q02, Some(q02Oracle)),
    QueryDef("q03_join_agg", "3-way join (broadcast dim + shuffle fact) with aggregation", q03, Some(q03Oracle)),
    QueryDef("q04_broadcast_snowflake", "explicit broadcast joins over dim snowflake", q04, Some(q04Oracle)),
    QueryDef("q05_semi_join", "left-semi join (EXISTS)", q05, Some(q05Oracle)),
    QueryDef("q06_anti_join", "left-anti join (NOT EXISTS)", q06, Some(q06Oracle)),
    QueryDef("q07_window_topk_group", "row_number window, top-3 per customer", q07, Some(q07Oracle)),
    QueryDef("q08_window_frames", "running sum + lag over explicit frame", q08, Some(q08Oracle)),
    QueryDef("q09_global_topk", "global top-k (TakeOrderedAndProject)", q09, Some(q09Oracle)),
    QueryDef("q10_set_ops", "EXCEPT + INTERSECT + UNION ALL", q10, Some(q10Oracle)),
    QueryDef("q11_rollup", "ROLLUP hierarchy totals", q11, Some(q11Oracle)),
    QueryDef("q12_cube", "CUBE over two dimensions", q12, Some(q12Oracle)),
    QueryDef("q13_distinct_agg", "multiple COUNT(DISTINCT) per group", q13, Some(q13Oracle)),
    QueryDef("q14_string_funcs", "string scalar function family", q14, Some(q14Oracle)),
    QueryDef("q15_date_funcs", "date/time function family, monthly rollup", q15, Some(q15Oracle)),
    QueryDef("q16_math_funcs", "math scalar function family", q16, Some(q16Oracle)),
    QueryDef("q17_json_extract", "JSON scalar extraction + aggregate (X5)", q17, Some(q17Oracle)),
    QueryDef("q18_case_pivot", "CASE bucketing + conditional aggregation (manual pivot)", q18, Some(q18Oracle)),
    QueryDef("q19_scalar_subquery", "broadcast scalar subquery filter", q19, Some(q19Oracle)),
    QueryDef("q20_having", "grouped HAVING filter", q20, Some(q20Oracle)),
    QueryDef("q21_grouping_union", "multi-granularity aggregates unioned", q21, Some(q21Oracle)),
    QueryDef("q22_sessionize", "lag-gap sessionization over event stream (X6)", q22, Some(q22Oracle)),
    QueryDef("q23_window_family", "rank/dense_rank/ntile/percent_rank/cume_dist/first/last", q23, Some(q23Oracle)),
    QueryDef("q24_stats_aggs", "stddev/variance/corr/covar aggregates", q24, Some(q24Oracle)),
    QueryDef("q25_percentiles", "exact interpolated percentiles per group", q25, Some(q25Oracle)),
    QueryDef("q26_argminmax", "min_by/max_by aggregates", q26, Some(q26Oracle)),
    QueryDef("q27_bpe_tokens", "BPE-ish regex + whitespace token counts (X4)", q27, Some(q27Oracle)),
    QueryDef("q28_date_arith", "date offsets, month adds, day diffs", q28, Some(q28Oracle)),
    QueryDef("q29_null_funcs", "nullif/coalesce/null-safe comparison family", q29, Some(q29Oracle)),
    QueryDef("q30_struct_map", "struct/map construction + field access", q30, Some(q30Oracle)),
    QueryDef("q31_approx_sketches", "HLL++ distinct counts + quantile sketch, error-bound asserted vs exact", q31, Some(q31Oracle)),
    QueryDef("q32_sql_grouping_sets", "spark.sql text entry with GROUPING SETS", q32, Some(q32Oracle)),
    QueryDef("x45_text_normalize", "lowercase/strip/stopword-removal cleaning stage (X4)", x45, Some(x45Oracle)),
    QueryDef("x67_decayed_counts",
      "exponentially time-decayed activity counts (half-life 1 day) in exact power-of-two fixed point",
      x67, Some(x67Oracle)),
    QueryDef("q51_ivm_agg",
      "incremental aggregate maintenance: state+batch full-outer merge proven lossless vs one-pass recompute",
      q51, Some(q51Oracle)),
    QueryDef("q50_cdc_merge", "insert/update/delete CDC merge (Sinks.applyCdc) vs latest-op oracle", q50, Some(q50Oracle)),
    QueryDef("q49_attribution", "first/last-touch revenue attribution, 24h lookback, one windowed pass", q49, Some(q49Oracle)),
    QueryDef("q48_mad_outliers", "robust per-group outlier gate: rank-join median + MAD, bit-identical interpolation", q48, Some(q48Oracle)),
    QueryDef("q47_scd2", "SCD Type-2 dimension build: per-user attribute versions with validity intervals", q47, Some(q47Oracle)),
    QueryDef("q46_rolling_distinct", "exact 7-day rolling distinct actives via bounded window-day explode", q46, Some(q46Oracle)),
    QueryDef("q44_funnel", "ordered funnel stage counts, 24h conversion window", q44, Some(q44Oracle)),
    QueryDef("q45_cohort_retention", "first-active-day cohorts x week-offset retention", q45, Some(q45Oracle)),
    QueryDef("q43_time_bars", "hourly time-bucket resampling with OHLC-style bars", q43, Some(q43Oracle)),
    QueryDef("q42_outer_joins", "FULL OUTER join with null-completion over asymmetric keys", q42, Some(q42Oracle)),
    QueryDef("q33_window_range_frame", "RANGE frame (30d trailing), lead, nth_value", q33, Some(q33Oracle)),
    QueryDef("q41_hof_arrays", "higher-order array functions (exists/forall/filter/aggregate/zip_with)", q41, Some(q41Oracle)),
    QueryDef("q39_exists_correlated", "correlated EXISTS decorrelated to semi-join", q39, Some(q39Oracle)),
    QueryDef("q40_scalar_correlated", "correlated scalar subquery (per-row count)", q40, Some(q40Oracle)),
    QueryDef("q34_bag_setops", "EXCEPT ALL / INTERSECT ALL multiplicity semantics", q34, Some(q34Oracle)),
    QueryDef("q35_na_handling", "na.fill / na.drop null-handling surface", q35, Some(q35Oracle)),
    QueryDef("q36_hash_sample", "deterministic hash-Bernoulli sampling", q36, Some(q36Oracle)),
    QueryDef("x48_edit_distance", "Levenshtein over near-dup candidate prefixes", x48, Some(x48Oracle)),
    QueryDef("q37_pivot", "native DataFrame pivot with fixed value columns", q37, Some(q37Oracle)),
    QueryDef("q38_unpivot", "native unpivot/melt wide-to-long", q38, Some(q38Oracle)),
    QueryDef("x60_asof_join", "as-of join (point-in-time prior-order lookup) vs native DuckDB ASOF", asofPriorOrder, Some(asofOracle)),
    QueryDef("x103_asof_tolerance", "tolerance-bounded as-of join: nearest prior only within a staleness window", asofTolerance, Some(asofToleranceOracle)),
    QueryDef("x61_range_join", "banded interval self-join (pairs within 300s) vs inequality join", rangePairs, Some(rangeOracle)),
    QueryDef("x62_interval_overlap", "interval x interval overlap join (concurrent sessions) vs native IEJoin", sessionOverlap, Some(overlapOracle)),
    QueryDef("q89_ivm_topk",
      "incremental top-k view maintenance: topk(topk(A) + delta) == full recompute oracle",
      ivmTopK, Some(ivmTopKOracle)),
    QueryDef("q52_ivm_join",
      "incremental JOIN view maintenance: delta rule dA*B0 + A0*dB + dA*dB vs full-recompute oracle",
      ivmJoin, Some(ivmJoinOracle)),
    QueryDef("q55_gap_fill",
      "calendar gap-filling with zero-fill and IGNORE NULLS forward fill per user",
      gapFill, Some(gapFillOracle)),
    QueryDef("x156_point_in_time_join",
      "leakage-safe point-in-time lookup against the SCD2 dim: strictly-before as-of carry-forward, feature x label contingency audit",
      pointInTimeJoin, Some(pointInTimeJoinOracle)),
    QueryDef("x157_sole_late_supplier",
      "TPC-H Q21-shape decorrelation parity: one-pass per-order counts + equi-join == literal EXISTS/NOT-EXISTS oracle",
      soleLateSupplier, Some(soleLateSupplierOracle)),
    QueryDef("q100_join_ivm",
      "incremental JOIN-view maintenance: stored view + three delta joins == one-pass full-join recompute",
      joinIvm, Some(joinIvmOracle)),
    QueryDef("q102_lateral_topk",
      "per-group top-k: Spark decorrelated window plan == DuckDB literal LATERAL LIMIT oracle",
      lateralTopk, Some(lateralTopkOracle)),
    QueryDef("q108_decimal_parity",
      "DECIMAL(18,2) money sums are exact in both engines and equal the independent integer-cents sum",
      decimalParity, Some(decimalParityOracle)),
    QueryDef("x171_cogroup_reconcile",
      "typed KeyValueGroupedDataset.cogroup reconciliation of orders vs lineitems == full-outer-join oracle",
      cogroupReconcile, Some(cogroupReconcileOracle)),
    QueryDef("q111_null_aware_antijoin",
      "three-valued NOT IN vs NOT EXISTS parity: one NULL in the list empties NOT IN; NAAJ semantics engine-equivalent",
      nullAwareAntijoin, Some(nullAwareAntijoinOracle)),
    QueryDef("q112_delete_cascade",
      "right-to-be-forgotten blast radius: affected rows and per-mille across customer -> orders -> lineitem",
      deleteCascade, Some(cascadeOracle)),
    QueryDef("x228_variant",
      "Spark-4 VARIANT path: parse_json once, typed variant_get extraction, try_variant_get null semantics on a missing path",
      variantExtract, Some(variantOracle)),
    QueryDef("x229_recursive_rollup",
      "WITH RECURSIVE hierarchy roll-up (decimal-tree divisions) running the identical SQL text in Spark 4 and DuckDB",
      recursiveRollup, Some(rollupSql)),
    QueryDef("x273_clamped_balance",
      "floor-at-zero running balance: prefix-sum closed form vs the recursive-CTE recurrence oracle",
      clampedBalance, Some(clampedBalanceOracle)),
    QueryDef("x277_pivot_parity",
      "groupBy().pivot() with literal columns vs explicit conditional aggregation",
      pivotParity, Some(pivotParityOracle)),
    QueryDef("x278_rank_functions",
      "rank/dense-rank/percent-rank/cume-dist tie semantics on the value census",
      rankFunctions, Some(rankFunctionsOracle)),
    QueryDef("x287_bag_setops",
      "INTERSECT ALL / EXCEPT ALL multiplicity semantics vs per-key census arithmetic",
      bagSetOps, Some(bagSetOpsOracle)),
    QueryDef("x288_null_semantics",
      "null-safe joins, null groups, count(col) vs count(*), explicit NULLS FIRST/LAST",
      nullSemantics, Some(nullSemanticsOracle)),
    QueryDef("x295_recursive_cte",
      "WITH RECURSIVE parity: binary-tree transitive closure, per-depth path-cents census",
      recursiveCte, Some(recursiveCteOracle)),
    QueryDef("x304_percentile_parity",
      "percentile_cont/percentile_disc WITHIN GROUP pinned against quantile_cont/quantile_disc at dyadic p (bit-exact, no rounding)",
      percentileParity, Some(percentileParityOracle)),
    QueryDef("x321_try_arith",
      "try_divide/try_multiply NULL-domain pin: divide-by-zero and BIGINT-overflow nulls reconstructed exactly in the oracle",
      tryArith, Some(tryArithOracle)))
}
