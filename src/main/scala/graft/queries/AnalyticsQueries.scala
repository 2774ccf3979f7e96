package graft.queries

import graft.{QueryDef, Tables}
import QueryUtil.{halfUp, halfUp4}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics family (with ExperimentQueries): warehouse mining and business
  * metrics — rules, segments, cohorts, concentration, privacy screens and
  * risk measures.
  *
  * Sequence- and market-analytics tier — the classic mining operators a
  * warehouse team runs beside the ETL: association rules over order
  * baskets, Markov transition matrices over event streams, and market
  * concentration (HHI) reports. All ratios follow the exact-integer-
  * numerator recipe: counts and cents stay integral until one final
  * double division that both engines perform on bit-identical inputs. */
object AnalyticsQueries {

  /** Pair support threshold: keep brand pairs co-occurring in >= 1% of
    * baskets (`pc * 100 >= n` — integer predicate, no float epsilon). */
  private val SupPct = 1

  /** q56: association rules — market-basket mining on order baskets with
    * items = part brands (25-value domain). For every ordered brand pair
    * (a < b) above [[SupPct]]% support: support, confidence(a→b), and
    * lift, all as exact integer ratios divided once at the end.
    * Scale: the pair generator is a SELF-JOIN ON THE BASKET KEY — cost is
    * sum over baskets of C(k,2) with k = distinct items per basket
    * (bounded by the 25-brand domain), never |items|². The brand-count
    * side is a 25-row broadcast. Lift numerator `pc * n` stays in int64
    * through ~SF100 (pc, n < 3e9). */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val items = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
      .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("o"), $"p_brand".as("b")).distinct()
    val nDf = items.agg(count_distinct($"o").as("n")) // scalar, broadcast below
    val counts = items.groupBy($"b").agg(count(lit(1)).as("cb")) // 25 rows
    val pairs = items.as("x").join(items.as("y"), $"x.o" === $"y.o")
      .filter($"x.b" < $"y.b")
      .groupBy($"x.b".as("brand_a"), $"y.b".as("brand_b"))
      .agg(count(lit(1)).as("n_pair"))
    pairs.crossJoin(broadcast(nDf))
      .filter($"n_pair" * 100 >= $"n" * SupPct)
      .join(broadcast(counts.withColumnRenamed("b", "brand_a")
        .withColumnRenamed("cb", "ca")), Seq("brand_a"))
      .join(broadcast(counts.withColumnRenamed("b", "brand_b")), Seq("brand_b"))
      .select($"brand_a", $"brand_b", $"n_pair",
        halfUp4($"n_pair".cast("double") / $"n".cast("double")).as("support"),
        halfUp4($"n_pair".cast("double") / $"ca".cast("double")).as("confidence"),
        halfUp4(($"n_pair" * $"n").cast("double") / ($"ca" * $"cb").cast("double"))
          .as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  private val associationRulesOracle =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
       |               FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT count(DISTINCT o) AS n FROM items),
       |cnt AS (SELECT b, count(*) AS cb FROM items GROUP BY b),
       |pairs AS (SELECT x.b AS brand_a, y.b AS brand_b, count(*) AS n_pair
       |          FROM items x JOIN items y ON x.o = y.o AND x.b < y.b
       |          GROUP BY x.b, y.b)
       |SELECT brand_a, brand_b, n_pair,
       |       floor((CAST(n_pair AS DOUBLE) / CAST(n.n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS support,
       |       floor((CAST(n_pair AS DOUBLE) / CAST(ca.cb AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS confidence,
       |       floor((CAST(n_pair * n.n AS DOUBLE) / CAST(ca.cb * cb.cb AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS lift
       |FROM pairs, n
       |JOIN cnt ca ON ca.b = brand_a
       |JOIN cnt cb ON cb.b = brand_b
       |WHERE n_pair * 100 >= n.n * $SupPct
       |ORDER BY brand_a, brand_b""".stripMargin

  /** q57: Markov transition matrix — per-user event streams ordered by
    * (ts, event_id), lag(1) pairs (prev → next) counted globally, row-
    * normalized into transition probabilities (5×5 event-type domain).
    * The per-prev total is a window sum over the 25-row transition frame,
    * not the event stream. Scale: one keyed window (the same
    * user-partitioned sort q22/q44 already run) + one tiny aggregate;
    * the normalization never touches the big table. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val t = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    t.withColumn("tot", sum($"n_trans").over(Window.partitionBy($"prev_type")))
      .select($"prev_type", $"next_type", $"n_trans",
        halfUp4($"n_trans".cast("double") / $"tot".cast("double")).as("p_trans"))
      .orderBy("prev_type", "next_type")
  }

  private val markovTransitionsOracle =
    """WITH s AS (SELECT event_type,
      |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |           FROM events),
      |t AS (SELECT prev_type, event_type AS next_type, count(*) AS n_trans
      |      FROM s WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type)
      |SELECT prev_type, next_type, n_trans,
      |       floor((CAST(n_trans AS DOUBLE)
      |              / CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS p_trans
      |FROM t
      |ORDER BY prev_type, next_type""".stripMargin

  /** q58: market concentration — per nation, the Herfindahl–Hirschman
    * index of customer revenue shares plus the top-customer share. The
    * HHI numerator Σc² is summed EXACTLY (decimal(38,0) in Spark, HUGEINT
    * in the oracle — int64 would overflow past ~SF0.1) and converted to
    * double once; shares divide bit-identical integers, so no
    * order-dependent float summation anywhere. Scale: one groupBy per
    * customer, one per nation; the nation frame is 25 rows. */
  def concentrationHhi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("c"))
    val perNation = cents
      .join(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_cust"),
        sum($"c").as("t"),
        sum($"c".cast("decimal(38,0)") * $"c".cast("decimal(38,0)")).as("ssq"),
        max($"c").as("mx"))
    perNation.select($"n_name", $"n_cust",
      ($"t".cast("double") / 100.0).as("revenue"),
      halfUp($"ssq".cast("double") / ($"t".cast("double") * $"t".cast("double")), 6)
        .as("hhi"),
      halfUp($"mx".cast("double") / $"t".cast("double"), 6).as("top_share"))
      .orderBy("n_name")
  }

  private val concentrationHhiOracle =
    """WITH cents AS (SELECT o_custkey, sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
      |               FROM orders GROUP BY o_custkey),
      |per AS (SELECT n_name, count(*) AS n_cust, sum(c) AS t,
      |          sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ssq, max(c) AS mx
      |        FROM cents
      |        JOIN customer ON o_custkey = c_custkey
      |        JOIN nation ON c_nationkey = n_nationkey
      |        GROUP BY n_name)
      |SELECT n_name, n_cust,
      |       CAST(t AS DOUBLE) / 100.0 AS revenue,
      |       floor((CAST(ssq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))) * 1000000 + 0.5) / 1000000.0 AS hhi,
      |       floor((CAST(mx AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS top_share
      |FROM per
      |ORDER BY n_name""".stripMargin

  /** q59: seasonal anomaly detection — per hour-of-week bucket (168
    * rows), a mean/std baseline of event values and the count of events
    * beyond 2σ. Values are half-up-quantized to integer hundredths FIRST,
    * so every moment (Σq, Σq²) is an exact integer sum (order-free across
    * partitions; Σq² in decimal/HUGEINT) and mean/var/σ/z are derived by
    * the IDENTICAL IEEE op sequence in both engines — the |z| > 2 cut is
    * then engine-stable with no float-summation drift channel. Scale: one
    * 168-group aggregate + one broadcast join of the baseline back onto
    * the stream; nothing else touches the big table. */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(((dayofweek($"ts") - 1) * 24 + hour($"ts")).cast("long").as("how"),
        floor($"value" * 100 + 0.5).cast("long").as("q"))
    val base = ev.groupBy($"how")
      .agg(count(lit(1)).as("n"), sum($"q").as("s"),
        sum($"q".cast("decimal(38,0)") * $"q".cast("decimal(38,0)")).as("ssq"))
      .withColumn("mean", $"s".cast("double") / $"n".cast("double"))
      .withColumn("variance",
        greatest($"ssq".cast("double") / $"n".cast("double") - $"mean" * $"mean",
          lit(0.0)))
      .withColumn("std", sqrt($"variance"))
    ev.join(broadcast(base), Seq("how"))
      .groupBy($"how")
      .agg(count(lit(1)).as("n_events"),
        halfUp4(first($"mean") / 100.0).as("mean_v"),
        sum(($"std" > 0 &&
          abs(($"q".cast("double") - $"mean") / $"std") > 2.0).cast("long"))
          .as("n_anom"))
      .orderBy("how")
  }

  private val seasonalAnomalyOracle =
    """WITH ev AS (SELECT CAST(dayofweek(ts) * 24 + hour(ts) AS BIGINT) AS how,
      |              CAST(floor(value * 100 + 0.5) AS BIGINT) AS q
      |            FROM events),
      |base AS (SELECT how, count(*) AS n, sum(q) AS s,
      |           sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS ssq
      |         FROM ev GROUP BY how),
      |stats AS (SELECT how, n, s, ssq,
      |            CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |            greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
      |                     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) AS variance
      |          FROM base)
      |SELECT ev.how, count(*) AS n_events,
      |       floor((mean / 100.0) * 10000 + 0.5) / 10000.0 AS mean_v,
      |       CAST(sum(CASE WHEN sqrt(variance) > 0
      |                      AND abs((CAST(q AS DOUBLE) - mean) / sqrt(variance)) > 2.0
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
      |FROM ev JOIN stats ON ev.how = stats.how
      |GROUP BY ev.how, mean, variance
      |ORDER BY ev.how""".stripMargin

  /** q60: CUSUM changepoint detection — daily revenue cents c_i, with the
    * cumulative deviation kept EXACT by working in N-scaled integer units:
    * S_k = Σ_{i≤k} (c_i·N − T) (N = #days, T = total cents) is a
    * decimal/HUGEINT cumulative window sum, so the argmax |S_k| — the
    * classic CUSUM changepoint — involves no float at all; S_k is
    * converted to currency units (÷ N·100) only for display. Scale: the
    * daily aggregate shuffles once; the cumulative window and the global
    * max run on the DAYS-sized frame (~2.4k rows), not the orders table. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("c"))
    val tot = daily.agg(count(lit(1)).as("nd"), sum($"c").as("t"))
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cu = daily.crossJoin(broadcast(tot))
      .withColumn("sk",
        sum($"c".cast("decimal(38,0)") * $"nd" - $"t").over(wCum))
    cu.withColumn("mx", max(abs($"sk")).over(Window.partitionBy()))
      .select($"day", ($"c".cast("double") / 100.0).as("revenue"),
        halfUp4($"sk".cast("double") / ($"nd".cast("double") * 100.0)).as("cusum"),
        (abs($"sk") === $"mx").as("is_peak"))
      .orderBy("day")
  }

  private val cusumChangepointOracle =
    """WITH daily AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
      |                 sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
      |               FROM orders GROUP BY 1),
      |tot AS (SELECT count(*) AS nd, sum(c) AS t FROM daily),
      |cu AS (SELECT day, c, nd,
      |         sum(CAST(c AS HUGEINT) * nd - t)
      |           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sk
      |       FROM daily, tot)
      |SELECT day, CAST(c AS DOUBLE) / 100.0 AS revenue,
      |       floor((CAST(sk AS DOUBLE) / (CAST(nd AS DOUBLE) * 100.0)) * 10000 + 0.5) / 10000.0 AS cusum,
      |       abs(sk) = max(abs(sk)) OVER () AS is_peak
      |FROM cu
      |ORDER BY day""".stripMargin

  /** q61: data-quality report — the referential-integrity / key-duplication
    * / null-rate sweep every ingestion runs before publishing a snapshot,
    * as ONE unioned report: orphan FKs at each edge of the schema
    * (anti-join counts), duplicate primary keys, and null counts on
    * NOT-NULL-expected columns. All integer counts; the rate divides two
    * exact integers once. Scale: each check is one anti-join or aggregate
    * with the dimension side broadcast where it fits (nation); fact-to-fact
    * checks shuffle on the FK — the join key they would shuffle on anyway. */
  def dqReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    def row(name: String, bad: org.apache.spark.sql.DataFrame,
            total: org.apache.spark.sql.DataFrame) =
      bad.agg(count(lit(1)).as("n_bad")).crossJoin(
        broadcast(total.agg(count(lit(1)).as("n_total"))))
        .select(lit(name).as("check_name"), $"n_bad", $"n_total",
          halfUp4($"n_bad".cast("double") / $"n_total".cast("double")).as("bad_rate"))
    val orphanLi = li.join(o.select($"o_orderkey"),
      $"l_orderkey" === $"o_orderkey", "left_anti")
    val orphanO = o.join(c.select($"c_custkey"),
      $"o_custkey" === $"c_custkey", "left_anti")
    val orphanC = c.join(broadcast(Tables.nation(spark, dir).select($"n_nationkey")),
      $"c_nationkey" === $"n_nationkey", "left_anti")
    val dupO = o.groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
    val nullDate = o.filter($"o_orderdate".isNull)
    row("fk_lineitem_orders", orphanLi, li)
      .unionByName(row("fk_orders_customer", orphanO, o))
      .unionByName(row("fk_customer_nation", orphanC, c))
      .unionByName(row("pk_orders_dup", dupO, o))
      .unionByName(row("null_orderdate", nullDate, o))
      .orderBy("check_name")
  }

  private val dqReportOracle =
    """SELECT check_name, CAST(n_bad AS BIGINT) AS n_bad,
      |       CAST(n_total AS BIGINT) AS n_total,
      |       floor((CAST(n_bad AS DOUBLE) / CAST(n_total AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS bad_rate
      |FROM (
      |  SELECT 'fk_lineitem_orders' AS check_name,
      |         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_bad,
      |         (SELECT count(*) FROM lineitem) AS n_total
      |  UNION ALL
      |  SELECT 'fk_orders_customer',
      |         (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |         (SELECT count(*) FROM orders)
      |  UNION ALL
      |  SELECT 'fk_customer_nation',
      |         (SELECT count(*) FROM customer c WHERE NOT EXISTS
      |            (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
      |         (SELECT count(*) FROM customer)
      |  UNION ALL
      |  SELECT 'pk_orders_dup',
      |         (SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |                                GROUP BY o_orderkey HAVING count(*) > 1)),
      |         (SELECT count(*) FROM orders)
      |  UNION ALL
      |  SELECT 'null_orderdate',
      |         (SELECT count(*) FROM orders WHERE o_orderdate IS NULL),
      |         (SELECT count(*) FROM orders))
      |ORDER BY check_name""".stripMargin

  /** q62: RFM segmentation — per customer recency (days since last order
    * vs the corpus max date), frequency (order count), monetary (exact
    * cents), each quartiled by ntile(4) with custkey tie-breaks (fully
    * deterministic), rolled up to segment cells. Scale note (stated, not
    * hidden): ntile over an unpartitioned window is a single-partition
    * sort of the CUSTOMER aggregate (not the fact table) — the standard
    * RFM definition; at 100 TB you'd swap quartiles for approx-percentile
    * cutpoints broadcast back, same output contract. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val refDate = Tables.orders(spark, dir).agg(max($"o_orderdate").as("ref"))
    val per = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(max($"o_orderdate").as("last_o"), count(lit(1)).as("f"),
        sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("m"))
      .crossJoin(broadcast(refDate))
      .select($"o_custkey", datediff($"ref", $"last_o").cast("long").as("r_days"),
        $"f", $"m")
    val rb = ntile(4).over(Window.orderBy($"r_days".asc, $"o_custkey"))
    val fb = ntile(4).over(Window.orderBy($"f".desc, $"o_custkey"))
    val mb = ntile(4).over(Window.orderBy($"m".desc, $"o_custkey"))
    per.select($"o_custkey", rb.as("r_bucket"), fb.as("f_bucket"), mb.as("m_bucket"), $"f", $"m")
      .groupBy($"r_bucket", $"f_bucket", $"m_bucket")
      .agg(count(lit(1)).as("n_cust"),
        (sum($"m").cast("double") / 100.0).as("revenue"),
        halfUp4(sum($"f").cast("double") / count(lit(1)).cast("double")).as("avg_orders"))
      .orderBy("r_bucket", "f_bucket", "m_bucket")
  }

  private val rfmSegmentsOracle =
    """WITH per AS (SELECT o_custkey,
      |               date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS r_days,
      |               count(*) AS f,
      |               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS m
      |             FROM orders GROUP BY o_custkey),
      |b AS (SELECT o_custkey, f, m,
      |        ntile(4) OVER (ORDER BY r_days ASC, o_custkey) AS r_bucket,
      |        ntile(4) OVER (ORDER BY f DESC, o_custkey) AS f_bucket,
      |        ntile(4) OVER (ORDER BY m DESC, o_custkey) AS m_bucket
      |      FROM per)
      |SELECT r_bucket, f_bucket, m_bucket, count(*) AS n_cust,
      |       CAST(sum(m) AS DOUBLE) / 100.0 AS revenue,
      |       floor((CAST(sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS avg_orders
      |FROM b
      |GROUP BY r_bucket, f_bucket, m_bucket
      |ORDER BY r_bucket, f_bucket, m_bucket""".stripMargin

  /** q63: Pareto / concentration deciles — customers ranked by exact-cents
    * revenue into ntile(10) deciles; per decile the revenue share and the
    * running cumulative share (the 80/20 curve). Shares divide exact
    * integer cent sums; the cumulative sum runs over the TEN-row decile
    * frame. Same unpartitioned-ntile scale note as q62. */
  def paretoDeciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("m"))
    val dec = per
      .select($"o_custkey", $"m",
        ntile(10).over(Window.orderBy($"m".desc, $"o_custkey")).as("decile"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_cust"), sum($"m").as("dm"))
    val wCum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec.crossJoin(broadcast(dec.agg(sum($"dm").as("tm"))))
      .withColumn("cum_dm", sum($"dm").over(wCum))
      .select($"decile", $"n_cust",
        ($"dm".cast("double") / 100.0).as("revenue"),
        halfUp4($"dm".cast("double") / $"tm".cast("double")).as("share"),
        halfUp4($"cum_dm".cast("double") / $"tm".cast("double")).as("cum_share"))
      .orderBy("decile")
  }

  private val paretoDecilesOracle =
    """WITH per AS (SELECT o_custkey, sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS m
      |             FROM orders GROUP BY o_custkey),
      |dec AS (SELECT decile, count(*) AS n_cust, sum(m) AS dm FROM (
      |          SELECT o_custkey, m, ntile(10) OVER (ORDER BY m DESC, o_custkey) AS decile
      |          FROM per)
      |        GROUP BY decile),
      |tot AS (SELECT sum(dm) AS tm FROM dec)
      |SELECT decile, n_cust,
      |       CAST(dm AS DOUBLE) / 100.0 AS revenue,
      |       floor((CAST(dm AS DOUBLE) / CAST(tm AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS share,
      |       floor((CAST(sum(dm) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |              / CAST(tm AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS cum_share
      |FROM dec, tot
      |ORDER BY decile""".stripMargin

  /** Benford expectations log10(1 + 1/d) for d = 1..9 as LITERALS (the x87
    * discount-table trick: Scala Double.toString round-trips and DuckDB
    * parses the same decimal to the same double — zero libm in either
    * engine). */
  private val Benford: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** q64: Benford first-digit audit — the classic numeric-forgery /
    * data-corruption screen: the leading digit distribution of order
    * amounts (exact cents) vs Benford's law, with per-digit chi-square
    * contributions. Counts are exact integers; each χ² term
    * (n_d − p_d·n)²/(p_d·n) is computed by the identical IEEE op sequence
    * in both engines from (exact count, literal, exact total), quantized
    * half-up to 1e-6, and the running total is an integer window sum over
    * the NINE-row digit frame. Scale: one 9-group aggregate over the
    * scan; everything after is constant-sized. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expCol = Benford.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (p, i)) =>
      when($"digit" === (i + 1), lit(p)).otherwise(acc)
    }
    // Domain guard: Benford is defined for POSITIVE magnitudes only — a
    // zero/negative total would put digit outside 1..9 (exp_rate 0 → a
    // divide-by-zero the engines disagree on: Spark floors Infinity to
    // Long.MaxValue, DuckDB errors). The fixture has none; the guard makes
    // the operator total-function on any input.
    val byDigit = Tables.orders(spark, dir)
      .select(substring(floor($"o_totalprice" * 100 + 0.5).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
      .filter($"digit".between(1, 9))
      .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val tot = byDigit.agg(sum($"n_obs").as("n"))
    val term = ($"n_obs".cast("double") - $"exp_rate" * $"n".cast("double")) *
      ($"n_obs".cast("double") - $"exp_rate" * $"n".cast("double")) /
      ($"exp_rate" * $"n".cast("double"))
    val wCum = Window.orderBy($"digit")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDigit.crossJoin(broadcast(tot))
      .withColumn("exp_rate", expCol)
      .withColumn("chi_fp", floor(term * lit(1e6) + lit(0.5)).cast("long"))
      .select($"digit", $"n_obs",
        halfUp4($"n_obs".cast("double") / $"n".cast("double")).as("obs_rate"),
        $"exp_rate",
        halfUp4($"chi_fp".cast("double") / 1e6).as("chi_term"),
        halfUp4(sum($"chi_fp").over(wCum).cast("double") / 1e6).as("chi_cum"))
      .orderBy("digit")
  }

  private val benfordAuditOracle = {
    val expCase = "CASE digit " + Benford.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ") + " ELSE 0.0 END"
    s"""WITH byd AS (SELECT digit, count(*) AS n_obs FROM (
       |               SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |               FROM orders WHERE floor(o_totalprice * 100 + 0.5) >= 1)
       |             WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
       |tot AS (SELECT sum(n_obs) AS n FROM byd),
       |t AS (SELECT digit, n_obs, n, ($expCase) AS exp_rate FROM byd, tot),
       |c AS (SELECT digit, n_obs, n, exp_rate,
       |        CAST(floor(((CAST(n_obs AS DOUBLE) - exp_rate * CAST(n AS DOUBLE))
       |                    * (CAST(n_obs AS DOUBLE) - exp_rate * CAST(n AS DOUBLE))
       |                    / (exp_rate * CAST(n AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS chi_fp
       |      FROM t)
       |SELECT digit, n_obs,
       |       floor((CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS obs_rate,
       |       exp_rate,
       |       floor((CAST(chi_fp AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000.0 AS chi_term,
       |       floor((CAST(sum(chi_fp) OVER (ORDER BY digit ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000.0 AS chi_cum
       |FROM c
       |ORDER BY digit""".stripMargin
  }

  /** k-anonymity threshold for q65 (groups smaller than K are suppression
    * candidates). */
  private val AnonK = 5

  /** q65: k-anonymity screening — the privacy-governance pass before a
    * dataset release: group sizes over the quasi-identifier tuple
    * (nation, market segment), every group flagged anonymous iff its
    * population ≥ [[AnonK]] (integer predicate), plus each group's share
    * of total suppression exposure. The release decision a real pipeline
    * makes from this: suppress or generalize the flagged rows. Scale: one
    * aggregate over the quasi-id key; the flag/share math runs on the
    * |nations|×|segments| frame. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
    g.crossJoin(broadcast(
      g.agg(sum(when($"n" < AnonK, $"n").otherwise(0L)).as("n_supp"))))
      .select($"n_name", $"c_mktsegment", $"n",
        ($"n" >= AnonK).as("anonymous"),
        when($"n_supp" > 0 && $"n" < AnonK,
          halfUp4($"n".cast("double") / $"n_supp".cast("double")))
          .otherwise(lit(0.0)).as("supp_share"))
      .orderBy("n_name", "c_mktsegment")
  }

  private val kAnonymityOracle =
    s"""WITH g AS (SELECT n_name, c_mktsegment, count(*) AS n
       |           FROM customer JOIN nation ON c_nationkey = n_nationkey
       |           GROUP BY n_name, c_mktsegment),
       |s AS (SELECT sum(CASE WHEN n < $AnonK THEN n ELSE 0 END) AS n_supp FROM g)
       |SELECT n_name, c_mktsegment, n,
       |       n >= $AnonK AS anonymous,
       |       CASE WHEN n_supp > 0 AND n < $AnonK
       |            THEN floor((CAST(n AS DOUBLE) / CAST(n_supp AS DOUBLE)) * 10000 + 0.5) / 10000.0
       |            ELSE 0.0 END AS supp_share
       |FROM g, s
       |ORDER BY n_name, c_mktsegment""".stripMargin

  /** q66: frequent event-sequence mining — the top-20 consecutive
    * 3-event-type patterns across per-user journeys (ordered by ts,
    * event_id — the q57 ordering, two lags deeper), the exploratory pass
    * that surfaces funnel hypotheses before a q44-style directed funnel is
    * written. Counts are exact; ranking ties break lexicographically.
    * Scale: ONE user-keyed window sort (the lag pair shares a single sort
    * spec), a 125-row-max pattern aggregate, and a global top-k on that
    * tiny frame. */
  def eventTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e1", lag($"event_type", 2).over(w))
      .withColumn("e2", lag($"event_type", 1).over(w))
      .filter($"e1".isNotNull && $"e2".isNotNull)
      .groupBy($"e1", $"e2", $"event_type".as("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"e1", $"e2", $"e3")
      .limit(20)
  }

  private val eventTrigramsOracle =
    """WITH s AS (SELECT event_type,
      |             lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
      |             lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
      |           FROM events)
      |SELECT e1, e2, event_type AS e3, count(*) AS n
      |FROM s WHERE e1 IS NOT NULL AND e2 IS NOT NULL
      |GROUP BY e1, e2, event_type
      |ORDER BY n DESC, e1, e2, e3
      |LIMIT 20""".stripMargin

  /** q68: weighted median — the robust-statistics operator a plain
    * percentile can't express: per return flag, the lineitem price at
    * which HALF the total QUANTITY sits below. Lower weighted median:
    * first row (price asc, tie orderkey/linenumber) whose inclusive
    * cumulative quantity doubled reaches the total — `2·cum ≥ tot`, all
    * exact integers (quantities are whole in the fixture; cents for the
    * price). Scale: one window sort per group (the q08 frame) + a
    * min-over-candidates aggregate; no global sort. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"),
        floor($"l_quantity" + 0.5).cast("long").as("qty"),
        $"l_orderkey", $"l_linenumber")
    val wCum = Window.partitionBy($"l_returnflag")
      .orderBy($"cents", $"l_orderkey", $"l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy($"l_returnflag")
    li.withColumn("cum", sum($"qty").over(wCum))
      .withColumn("tot", sum($"qty").over(wTot))
      .filter($"cum" * 2 >= $"tot")
      .groupBy($"l_returnflag")
      .agg(min($"cents").as("med_cents"), min($"tot").as("tot"))
      .select($"l_returnflag", ($"med_cents".cast("double") / 100.0).as("w_median"),
        $"tot".as("total_qty"))
      .orderBy("l_returnflag")
  }

  private val weightedMedianOracle =
    """WITH li AS (SELECT l_returnflag,
      |              CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
      |              CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
      |              l_orderkey, l_linenumber
      |            FROM lineitem),
      |c AS (SELECT l_returnflag, cents,
      |        sum(qty) OVER (PARTITION BY l_returnflag
      |                       ORDER BY cents, l_orderkey, l_linenumber
      |                       ROWS UNBOUNDED PRECEDING) AS cum,
      |        sum(qty) OVER (PARTITION BY l_returnflag) AS tot
      |      FROM li)
      |SELECT l_returnflag,
      |       CAST(min(cents) AS DOUBLE) / 100.0 AS w_median,
      |       CAST(min(tot) AS BIGINT) AS total_qty
      |FROM c WHERE cum * 2 >= tot
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Histogram bin count for q69. */
  private val HistBins = 10L

  /** q69: equi-width histogram — the profiling companion to q53: order
    * totals in exact cents binned into [[HistBins]] equal-width buckets
    * over the observed [min, max], all in integer arithmetic
    * (`(c−mn)·B div (mx−mn+1)` — `div`, never float), with each bin's
    * exact share. The empty-bin case is preserved by joining a bin spine,
    * so the histogram shape is complete. Scale: one aggregate for the
    * bounds (broadcast scalar), one stateless binning pass, one B-group
    * aggregate. */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Tables.orders(spark, dir)
      .select(floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
    val bounds = cents.agg(min($"c").as("mn"), max($"c").as("mx"),
      count(lit(1)).as("n"))
    val binned = cents.crossJoin(broadcast(bounds))
      .select(expr(s"((c - mn) * $HistBins) div (mx - mn + 1)").as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n_bin"))
    spark.range(HistBins).select($"id".as("bin"))
      .join(binned, Seq("bin"), "left")
      .crossJoin(broadcast(bounds.select($"n".as("n_all"))))
      .select($"bin", coalesce($"n_bin", lit(0L)).as("n_bin"),
        halfUp4(coalesce($"n_bin", lit(0L)).cast("double") / $"n_all".cast("double"))
          .as("share"))
      .orderBy("bin")
  }

  private val histogramOracle =
    s"""WITH cents AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders),
       |b AS (SELECT min(c) AS mn, max(c) AS mx, count(*) AS n FROM cents),
       |binned AS (SELECT ((c - mn) * $HistBins) // (mx - mn + 1) AS bin, count(*) AS n_bin
       |           FROM cents, b GROUP BY 1),
       |spine AS (SELECT CAST(range AS BIGINT) AS bin FROM range($HistBins))
       |SELECT spine.bin, coalesce(n_bin, 0) AS n_bin,
       |       floor((CAST(coalesce(n_bin, 0) AS DOUBLE) / CAST(b.n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS share
       |FROM spine LEFT JOIN binned USING (bin), b
       |ORDER BY spine.bin""".stripMargin

  /** q70: grouped OLS trend lines — per order priority, the least-squares
    * slope/intercept of order value (exact cents) against order date (days
    * since 1995-01-01), from EXACT moments: Σx, Σy as int64, Σxy, Σx² as
    * decimal/HUGEINT, so the slope's numerator n·Σxy − Σx·Σy and
    * denominator n·Σx² − (Σx)² are exact integers converted to double once
    * — the q58/q59 moment recipe extended to covariance. The slope is
    * cents/day; intercept in cents at x = 0. Scale: one 5-group aggregate
    * over the scan; regression math on the 5-row frame. */
  def groupRegression(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir).select($"o_orderpriority",
      datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("y"))
    val dec = "decimal(38,0)"
    val m = base.groupBy($"o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x".cast(dec) * $"y".cast(dec)).as("sxy"),
        sum($"x".cast(dec) * $"x".cast(dec)).as("sxx"))
    m.withColumn("slope_raw",
      ($"n".cast(dec) * $"sxy" - $"sx".cast(dec) * $"sy".cast(dec)).cast("double")
        / ($"n".cast(dec) * $"sxx" - $"sx".cast(dec) * $"sx".cast(dec)).cast("double"))
      .select($"o_orderpriority", $"n",
        halfUp($"slope_raw", 6).as("slope_cents_day"),
        halfUp(($"sy".cast("double") - $"slope_raw" * $"sx".cast("double"))
          / $"n".cast("double"), 2).as("intercept_cents"))
      .orderBy("o_orderpriority")
  }

  private val groupRegressionOracle =
    """WITH b AS (SELECT o_orderpriority,
      |             CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS x,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      |           FROM orders),
      |m AS (SELECT o_orderpriority, count(*) AS n,
      |        sum(x) AS sx, sum(y) AS sy,
      |        sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |        sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
      |      FROM b GROUP BY o_orderpriority)
      |SELECT o_orderpriority, n,
      |       floor((CAST(n * sxy - sx * sy AS DOUBLE)
      |              / CAST(n * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS slope_cents_day,
      |       floor(((CAST(sy AS DOUBLE)
      |               - (CAST(n * sxy - sx * sy AS DOUBLE)
      |                  / CAST(n * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE))
      |                 * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) * 100 + 0.5) / 100.0 AS intercept_cents
      |FROM m
      |ORDER BY o_orderpriority""".stripMargin

  /** q71: chi-square independence test — the contingency-table screen for
    * "does order priority depend on customer segment": observed cell
    * counts vs independence expectations, each cell's χ² contribution
    * computed from EXACT integers — term = (obs·n − rt·ct)²/(n·rt·ct)
    * with the numerator squared in decimal/HUGEINT (it exceeds int64) and
    * both sides converted to double once, then the q64 fixed-point
    * running total over the 25-cell frame. Scale: one aggregate over the
    * joined fact; margins and the test statistic on constant frames. */
  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderpriority")
      .agg(count(lit(1)).as("obs"))
    val rt = cells.groupBy($"c_mktsegment").agg(sum($"obs").as("rt"))
    val ct = cells.groupBy($"o_orderpriority").agg(sum($"obs").as("ct"))
    val n = cells.agg(sum($"obs").as("n"))
    val num = $"obs".cast(dec) * $"n" - $"rt".cast(dec) * $"ct"
    val den = $"n".cast(dec) * $"rt" * $"ct"
    val wCum = Window.orderBy($"c_mktsegment", $"o_orderpriority")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(rt), "c_mktsegment").join(broadcast(ct), "o_orderpriority")
      .crossJoin(broadcast(n))
      .withColumn("chi_fp",
        floor((num * num).cast("double") / den.cast("double") * lit(1e6) + lit(0.5))
          .cast("long"))
      .select($"c_mktsegment", $"o_orderpriority", $"obs",
        halfUp(($"rt".cast(dec) * $"ct").cast("double") / $"n".cast("double"), 2)
          .as("expected"),
        halfUp4($"chi_fp".cast("double") / 1e6).as("chi_term"),
        halfUp4(sum($"chi_fp").over(wCum).cast("double") / 1e6).as("chi_cum"))
      .orderBy("c_mktsegment", "o_orderpriority")
  }

  private val chiSquareOracle =
    """WITH cells AS (SELECT c_mktsegment, o_orderpriority, count(*) AS obs
      |               FROM orders JOIN customer ON o_custkey = c_custkey
      |               GROUP BY c_mktsegment, o_orderpriority),
      |rt AS (SELECT c_mktsegment, sum(obs) AS rt FROM cells GROUP BY c_mktsegment),
      |ct AS (SELECT o_orderpriority, sum(obs) AS ct FROM cells GROUP BY o_orderpriority),
      |n AS (SELECT sum(obs) AS n FROM cells),
      |t AS (SELECT c_mktsegment, o_orderpriority, obs, rt, ct, n.n,
      |        CAST(floor(CAST((CAST(obs AS HUGEINT) * n.n - CAST(rt AS HUGEINT) * ct)
      |                        * (CAST(obs AS HUGEINT) * n.n - CAST(rt AS HUGEINT) * ct) AS DOUBLE)
      |                   / CAST(CAST(n.n AS HUGEINT) * rt * ct AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS chi_fp
      |      FROM cells JOIN rt USING (c_mktsegment) JOIN ct USING (o_orderpriority), n)
      |SELECT c_mktsegment, o_orderpriority, obs,
      |       floor((CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE) / CAST(n AS DOUBLE)) * 100 + 0.5) / 100.0 AS expected,
      |       floor((CAST(chi_fp AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000.0 AS chi_term,
      |       floor((CAST(sum(chi_fp) OVER (ORDER BY c_mktsegment, o_orderpriority ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000.0 AS chi_cum
      |FROM t
      |ORDER BY c_mktsegment, o_orderpriority""".stripMargin

  /** q72: exact grouped percentiles — order-to-ship lead time (days) per
    * priority at p50/p90/p99, by the q68 predicate technique: one window
    * sort per group, then each percentile is the min value among rows
    * whose inclusive cumulative count covers the target mass
    * (`cum·100 ≥ p·tot` — lower discrete percentile, all integer
    * arithmetic; three conditional mins share ONE window pass). The exact
    * counterpart of q25's approx sketches — the latency-SLO report shape.
    * Scale: one keyed window + one aggregate; no global sort. */
  def leadTimePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lt = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority",
        datediff($"l_shipdate", $"o_orderdate").cast("long").as("days"),
        $"l_orderkey", $"l_linenumber")
    val wCum = Window.partitionBy($"o_orderpriority")
      .orderBy($"days", $"l_orderkey", $"l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy($"o_orderpriority")
    def pctl(p: Int) =
      min(when($"cum" * 100 >= $"tot" * p, $"days")).as(s"p$p")
    lt.withColumn("cum", count(lit(1)).over(wCum))
      .withColumn("tot", count(lit(1)).over(wTot))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), pctl(50), pctl(90), pctl(99))
      .orderBy("o_orderpriority")
  }

  private val leadTimePercentilesOracle =
    """WITH lt AS (SELECT o_orderpriority,
      |              CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS days,
      |              l_orderkey, l_linenumber
      |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |c AS (SELECT o_orderpriority, days,
      |        count(*) OVER (PARTITION BY o_orderpriority
      |                       ORDER BY days, l_orderkey, l_linenumber
      |                       ROWS UNBOUNDED PRECEDING) AS cum,
      |        count(*) OVER (PARTITION BY o_orderpriority) AS tot
      |      FROM lt)
      |SELECT o_orderpriority, count(*) AS n,
      |       min(CASE WHEN cum * 100 >= tot * 50 THEN days END) AS p50,
      |       min(CASE WHEN cum * 100 >= tot * 90 THEN days END) AS p90,
      |       min(CASE WHEN cum * 100 >= tot * 99 THEN days END) AS p99
      |FROM c
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q73: top-k churn — which customers persist in the monthly revenue
    * top-10: per month, rank customers by exact cents (tie custkey), keep
    * the top-10, then report every customer who makes the cut at least
    * twice with their appearance count, best rank, and first/last month.
    * The leaderboard-stability view behind account management. Scale: the
    * rank window is per month (bounded frames); the rollup aggregates
    * 10·months rows. */
  def topkChurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"), $"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("c"))
    val w = Window.partitionBy($"month").orderBy($"c".desc, $"o_custkey")
    monthly.withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_months"), min($"rk").as("best_rank"),
        min($"month").as("first_month"), max($"month").as("last_month"))
      .filter($"n_months" >= 2)
      .orderBy($"n_months".desc, $"o_custkey")
  }

  private val topkChurnOracle =
    """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, o_custkey,
      |             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
      |           FROM orders GROUP BY 1, 2),
      |r AS (SELECT month, o_custkey,
      |        row_number() OVER (PARTITION BY month ORDER BY c DESC, o_custkey) AS rk
      |      FROM m)
      |SELECT o_custkey, count(*) AS n_months,
      |       CAST(min(rk) AS INTEGER) AS best_rank,
      |       min(month) AS first_month, max(month) AS last_month
      |FROM r WHERE rk <= 10
      |GROUP BY o_custkey
      |HAVING count(*) >= 2
      |ORDER BY n_months DESC, o_custkey""".stripMargin

  /** Session gap for q74 (seconds) — q22's sessionization constant. */
  private val BounceGapSec = 1800L

  /** q74: bounce rate — per calendar day, the share of user sessions
    * containing exactly one event (the engagement-quality headline):
    * events sessionize by the q22 rule (new session when the gap from the
    * user's previous event exceeds 30 min — one lag window), sessions
    * collapse to (user, session, first-day, n_events), and days aggregate
    * their sessions. Exact counts, one division. Scale: the same
    * user-keyed window q22 runs + two bounded aggregates. */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("prev", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        ($"prev".isNull ||
          unix_timestamp($"ts".cast("timestamp"))
            - unix_timestamp($"prev".cast("timestamp")) > BounceGapSec)
          .cast("long"))
      .withColumn("sess_id", sum($"new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).as("n_events"),
        date_format(min($"ts"), "yyyy-MM-dd").as("day"))
    sess.groupBy($"day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(($"n_events" === 1).cast("long")).as("n_bounces"))
      .select($"day", $"n_sessions", $"n_bounces",
        halfUp4($"n_bounces".cast("double") / $"n_sessions".cast("double"))
          .as("bounce_rate"))
      .orderBy("day")
  }

  private val bounceRateOracle =
    s"""WITH e AS (SELECT user_id, ts, event_id,
       |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |           FROM events),
       |s AS (SELECT user_id, ts,
       |        sum(CASE WHEN prev IS NULL
       |                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev)) AS BIGINT) > $BounceGapSec
       |                 THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
       |      FROM e),
       |sess AS (SELECT user_id, sess_id, count(*) AS n_events,
       |           strftime(min(ts), '%Y-%m-%d') AS day
       |         FROM s GROUP BY user_id, sess_id)
       |SELECT day, count(*) AS n_sessions,
       |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       |       floor((CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |              / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS bounce_rate
       |FROM sess
       |GROUP BY day
       |ORDER BY day""".stripMargin

  /** q84: sequence-pattern mining (MATCH_RECOGNIZE shape) — each user's
    * whole event journey is serialized to a symbol string (first letter
    * of the event type, ordered by ts then event_id — the five fixture
    * types have distinct initials) and mined with regexes instead of
    * imperative row loops: conversions = non-overlapping `v[ce]*p`
    * matches (view, any clicks/errors, purchase), error bursts =
    * maximal `e+` runs. Both patterns terminate their star class on a
    * symbol the class excludes, so leftmost-greedy (Java regex) and
    * RE2 (DuckDB) agree exactly. Scale: one shuffle on user_id; the
    * per-user string is session-bounded in practice (here journey-
    * bounded, ≤ a few thousand chars); regex work is per-row codegen'd
    * with no joins. */
  def sequenceRegex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val j = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id",
        substring($"event_type", 1, 1).as("ch"))
      .groupBy($"user_id")
      // sort_array (not array_sort) is safe here ONLY because the array is
      // a collect_list result, which never contains NULL elements — the two
      // builtins place NULL elements at opposite ends. Every sort_array-
      // over-collect_list site in this repo relies on that same invariant;
      // do not build the sorted array any other way without rechecking it.
      .agg(array_join(
        transform(sort_array(collect_list(struct($"ts", $"event_id", $"ch"))),
          x => x.getField("ch")), "").as("journey"))
    j.select($"user_id", length($"journey").as("n_events"),
        regexp_count($"journey", lit("v[ce]*p")).as("n_conversions"),
        regexp_count($"journey", lit("e+")).as("n_error_runs"),
        ($"journey" like "s%").cast("int").as("signup_first"))
      .orderBy("user_id")
  }

  private val sequenceRegexOracle =
    """WITH j AS (
      |  SELECT user_id,
      |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(length(journey) AS INTEGER) AS n_events,
      |       CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS INTEGER) AS n_conversions,
      |       CAST(len(regexp_extract_all(journey, 'e+')) AS INTEGER) AS n_error_runs,
      |       CASE WHEN journey LIKE 's%' THEN 1 ELSE 0 END AS signup_first
      |FROM j
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- x154

  /** Distinct-l threshold: a QI group needs >= 3 distinct sensitive
    * values to resist the homogeneity attack. */
  private val DivL = 3

  /** x154: l-diversity screening — the attack q65's k-anonymity does NOT
    * stop: a group can be large (k-anonymous) yet have every member share
    * one sensitive value, so membership alone discloses it. Per
    * quasi-identifier group (q65's nation × segment), the sensitive
    * attribute (account-balance band, floor(acctbal/1000)) is profiled:
    * distinct sensitive values (`l`), the distinct-l flag, and the
    * majority share (`top_share` — 1.0 means fully homogeneous, the
    * disclosure case). A release gate needs BOTH screens green.
    *
    * Scale: one aggregate over (QI, sensitive) then one over QI — two
    * keyed shuffles on frames bounded by |QI| × |bands|, corpus-size-free
    * after the first. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_mktsegment",
        floor($"c_acctbal" / 1000).cast("long").as("band"))
      .groupBy($"n_name", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("bn"))
    bands.groupBy($"n_name", $"c_mktsegment")
      .agg(sum($"bn").as("n"),
        count(lit(1)).as("l"),
        max($"bn").as("top_bn"))
      .select($"n_name", $"c_mktsegment", $"n", $"l",
        ($"l" >= DivL).as("l_diverse"),
        halfUp4($"top_bn".cast("double") / $"n".cast("double")).as("top_share"))
      .orderBy("n_name", "c_mktsegment")
  }

  private val lDiversityOracle =
    s"""WITH b AS (SELECT n_name, c_mktsegment,
       |                  CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
       |                  CAST(count(*) AS BIGINT) AS bn
       |           FROM customer JOIN nation ON c_nationkey = n_nationkey
       |           GROUP BY 1, 2, 3)
       |SELECT n_name, c_mktsegment,
       |       CAST(sum(bn) AS BIGINT) AS n,
       |       CAST(count(*) AS BIGINT) AS l,
       |       count(*) >= $DivL AS l_diverse,
       |       floor(CAST(max(bn) AS DOUBLE) / CAST(sum(bn) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS top_share
       |FROM b
       |GROUP BY n_name, c_mktsegment
       |ORDER BY n_name, c_mktsegment""".stripMargin

  /* T-closeness (completing the k-anonymity →
   * l-diversity → t-closeness privacy triad), a reliability-diagram /
   * expected-calibration audit of the x99 quality classifier (completing
   * the ML-eval family beside AUC x113 and kappa x114), and stream-static
   * broadcast-join batch parity (the last join mode without an oracle
   * pair).
   * Elsewhere: x166 (CurationQueries); x167 (StreamingQueries).
   */

  /** q105: t-closeness screen — the distribution-level privacy property
    * k-anonymity (q65) and l-diversity (x154) cannot give: within each
    * quasi-identifier class (nation × market segment), the SENSITIVE
    * distribution (acctbal bands) must stay within total-variation
    * distance t of the global distribution (equal-ground-distance EMD =
    * TV). The distance is computed entirely in integers:
    * TV = Σ_b |bn·N − gb·n| / (2·n·N), and the t = 0.25 gate is the
    * cross-multiplied predicate 2·Σ|bn·N − gb·n| ≤ n·N — no float
    * boundary anywhere. Classes missing a global band contribute that
    * band's full global mass (the term the class-present-only join would
    * silently drop), so the class × global-band frame is completed first.
    *
    * Scale: one group-by over the table for class×band counts; the band
    * panel is value-bounded, so the completion cross join is O(classes ×
    * bands) metadata work. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cb = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_mktsegment",
        floor($"c_acctbal" / 1000).cast("long").as("band"))
      .groupBy($"n_name", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("bn"))
      .localCheckpoint(true) // feeds class totals, global bands, and the completion join
    val cls = cb.groupBy($"n_name", $"c_mktsegment").agg(sum($"bn").as("n"))
    val glob = cb.groupBy($"band").agg(sum($"bn").as("gb"))
    val total = cb.agg(sum($"bn").as("nn"))
    cls.crossJoin(broadcast(glob))
      .join(cb, Seq("n_name", "c_mktsegment", "band"), "left")
      .na.fill(0L, Seq("bn"))
      .crossJoin(broadcast(total))
      .groupBy($"n_name", $"c_mktsegment", $"n", $"nn")
      .agg(sum(abs($"bn" * $"nn" - $"gb" * $"n")).as("tv_fp"))
      .select($"n_name", $"c_mktsegment", $"n", $"tv_fp",
        halfUp4($"tv_fp".cast("double") / (lit(2.0) * $"n" * $"nn")).as("tv"),
        (lit(2) * $"tv_fp" <= $"n" * $"nn").cast("int").as("t_close_25"))
      .orderBy("n_name", "c_mktsegment")
  }

  private val tClosenessOracle =
    """WITH cb AS MATERIALIZED (
      |  SELECT n_name, c_mktsegment,
      |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
      |         CAST(count(*) AS BIGINT) AS bn
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3),
      |cls AS (SELECT n_name, c_mktsegment, CAST(sum(bn) AS BIGINT) AS n
      |        FROM cb GROUP BY 1, 2),
      |gband AS (SELECT band, CAST(sum(bn) AS BIGINT) AS gb FROM cb GROUP BY 1),
      |tot AS (SELECT CAST(sum(bn) AS BIGINT) AS nn FROM cb),
      |comp AS (
      |  SELECT cls.n_name, cls.c_mktsegment, cls.n, gband.band, gband.gb,
      |         coalesce(cb.bn, 0) AS bn
      |  FROM cls CROSS JOIN gband
      |  LEFT JOIN cb ON cb.n_name = cls.n_name
      |    AND cb.c_mktsegment = cls.c_mktsegment AND cb.band = gband.band)
      |SELECT comp.n_name, comp.c_mktsegment, comp.n,
      |       CAST(sum(abs(bn * tot.nn - gb * comp.n)) AS BIGINT) AS tv_fp,
      |       floor(CAST(sum(abs(bn * tot.nn - gb * comp.n)) AS DOUBLE)
      |             / (2.0 * comp.n * tot.nn) * 10000 + 0.5) / 10000.0 AS tv,
      |       CAST(2 * sum(abs(bn * tot.nn - gb * comp.n)) <= comp.n * tot.nn
      |            AS INTEGER) AS t_close_25
      |FROM comp, tot
      |GROUP BY comp.n_name, comp.c_mktsegment, comp.n, tot.nn
      |ORDER BY comp.n_name, comp.c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- x186

  /** x186: differentially-private histogram release — customers per
    * nation under the discrete-Laplace (two-sided geometric) mechanism
    * with α = 1/2 (ε = ln 2 for a count query of sensitivity 1). The
    * noise is drawn per group through the quantized inverse CDF on a
    * deterministic key hash: P(0) = 1/3, P(±k) = (1/3)·2^-k, tail
    * clamped at ±5 — cutoffs shared verbatim with the oracle, so the
    * release is reproducible (a production release would use real
    * randomness and DROP the true column; both appear here so the
    * mechanism itself is what gets verified). Released counts clamp at
    * zero like real DP count releases.
    *
    * Scale: noise derivation is per-GROUP (25 nations), not per-row —
    * the histogram aggregation is the only data-sized work, and the
    * mechanism composes with any groupBy the engine already does. */
  def dpHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = QueryUtil.mix31($"n_nationkey".cast("long"), 104729L)
    val u = pmod(h.bitwiseXOR(shiftright(h, 16)), lit(1000000L))
    val noise = when(u < 333334L, 0L).when(u < 500000L, 1L).when(u < 666666L, -1L)
      .when(u < 750000L, 2L).when(u < 833334L, -2L).when(u < 875000L, 3L)
      .when(u < 916666L, -3L).when(u < 937500L, 4L).when(u < 958334L, -4L)
      .when(u < 979167L, 5L).otherwise(-5L)
    Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_nationkey", $"n_name")
      .agg(count(lit(1)).as("true_n"))
      .select($"n_nationkey", $"n_name", $"true_n", noise.as("noise"))
      .select($"n_nationkey", $"n_name", $"true_n", $"noise",
        greatest($"true_n" + $"noise", lit(0L)).as("released"),
        (abs($"noise") <= 5).cast("int").as("within_clamp"))
      .orderBy($"n_nationkey")
  }

  private val dpOracle =
    """WITH counts AS (
      |  SELECT n_nationkey, n_name, CAST(count(*) AS BIGINT) AS true_n
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_nationkey, n_name),
      |mixed AS (
      |  SELECT *, xor(h3, h3 >> 16) % 1000000 AS u FROM (
      |    SELECT *, (xor(h1, h1 >> 13) * 2246822519) % 2147483648 AS h3 FROM (
      |      SELECT *, ((CAST(n_nationkey AS BIGINT) * 7919 + 104729) % 1048576
      |                  * 2654435761) % 2147483648 AS h1
      |      FROM counts) a) b),
      |noised AS (
      |  SELECT n_nationkey, n_name, true_n,
      |    CASE WHEN u < 333334 THEN 0 WHEN u < 500000 THEN 1
      |         WHEN u < 666666 THEN -1 WHEN u < 750000 THEN 2
      |         WHEN u < 833334 THEN -2 WHEN u < 875000 THEN 3
      |         WHEN u < 916666 THEN -3 WHEN u < 937500 THEN 4
      |         WHEN u < 958334 THEN -4 WHEN u < 979167 THEN 5
      |         ELSE -5 END AS noise
      |  FROM mixed)
      |SELECT n_nationkey, n_name, true_n, CAST(noise AS BIGINT) AS noise,
      |       CAST(greatest(true_n + noise, 0) AS BIGINT) AS released,
      |       CAST(abs(noise) <= 5 AS INTEGER) AS within_clamp
      |FROM noised ORDER BY n_nationkey""".stripMargin

  /* Scorecard-style feature diagnostics —
   * weight-of-evidence / information-value binning (x199) and the exact
   * Gini concentration coefficient over the customer revenue Lorenz
   * curve (q113). */

  /** WoE bin count (ntile over the account-balance order). */
  private val WoeBins = 10

  // ---------------------------------------------------------------- x199

  /** x199: weight-of-evidence / information value — the credit-scoring
    * audit of how well a continuous feature (account balance, decile-
    * binned) separates a binary outcome (customer placed ≥1 URGENT
    * order). Per bin: WoE = ln(good-share / bad-share) with +1 Laplace
    * smoothing so empty cells stay finite, quantized to 1e-6 fixed
    * point from a ratio of exact integers (the x56 recipe — both
    * engines take ln of the same IEEE double, then one floor). The IV
    * column repeats the Σ(Δshare·WoE) total so the single result set
    * carries both the per-bin diagnostic and the headline number.
    *
    * Scale: outcome flags reduce orders with a map-side partial
    * aggregate; the ntile ranks customer-level rows (a per-key
    * aggregate, not the fact table); everything after the binning is
    * a 10-row frame. */
  def woeIv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("c_custkey")).distinct()
    val labeled = Tables.customer(spark, dir)
      .join(urgent.withColumn("is_good", lit(1L)), Seq("c_custkey"), "left")
      .na.fill(0L, Seq("is_good"))
      .select($"c_custkey", $"c_acctbal", $"is_good")
    val binned = labeled.withColumn("bin",
      ntile(WoeBins).over(Window.orderBy($"c_acctbal", $"c_custkey"))
        .cast("long"))
    val perBin = binned.groupBy($"bin").agg(
      sum($"is_good").as("n_good"),
      sum(lit(1L) - $"is_good").as("n_bad"))
    val totals = perBin.agg(sum($"n_good").as("gt"), sum($"n_bad").as("bt"))
    val woe = perBin.crossJoin(broadcast(totals)).select(
      $"bin", $"n_good", $"n_bad",
      expr(s"CAST(floor(ln(CAST((n_good + 1) * (bt + $WoeBins) AS DOUBLE)" +
        s" / CAST((n_bad + 1) * (gt + $WoeBins) AS DOUBLE)) * 1000000 + 0.5)" +
        " AS BIGINT)").as("woe_fp"),
      expr("CAST(floor((CAST(n_good AS DOUBLE) / CAST(gt AS DOUBLE)" +
        " - CAST(n_bad AS DOUBLE) / CAST(bt AS DOUBLE)) * 1000000 + 0.5)" +
        " AS BIGINT)").as("dshare_fp"))
    val iv = woe.agg(
      sum(expr("CAST(floor(CAST(dshare_fp AS DOUBLE) * CAST(woe_fp AS DOUBLE)" +
        " / 1000000.0 + 0.5) AS BIGINT)")).as("iv_fp"))
    woe.crossJoin(broadcast(iv))
      .select($"bin", $"n_good", $"n_bad", $"woe_fp", $"iv_fp")
      .orderBy($"bin")
  }

  private val woeOracle =
    s"""WITH urgent AS (
       |  SELECT DISTINCT o_custkey AS c_custkey FROM orders
       |  WHERE o_orderpriority = '1-URGENT'),
       |labeled AS (
       |  SELECT c.c_custkey, c.c_acctbal,
       |         CASE WHEN u.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_good
       |  FROM customer c LEFT JOIN urgent u ON c.c_custkey = u.c_custkey),
       |binned AS (
       |  SELECT *, CAST(ntile($WoeBins) OVER (ORDER BY c_acctbal, c_custkey)
       |                 AS BIGINT) AS bin
       |  FROM labeled),
       |per_bin AS (
       |  SELECT bin, CAST(sum(is_good) AS BIGINT) AS n_good,
       |         CAST(sum(1 - is_good) AS BIGINT) AS n_bad
       |  FROM binned GROUP BY bin),
       |totals AS (SELECT CAST(sum(n_good) AS BIGINT) AS gt,
       |                  CAST(sum(n_bad) AS BIGINT) AS bt FROM per_bin),
       |woe AS (
       |  SELECT bin, n_good, n_bad,
       |         CAST(floor(ln(CAST((n_good + 1) * (bt + $WoeBins) AS DOUBLE)
       |           / CAST((n_bad + 1) * (gt + $WoeBins) AS DOUBLE)) * 1000000 + 0.5)
       |           AS BIGINT) AS woe_fp,
       |         CAST(floor((CAST(n_good AS DOUBLE) / CAST(gt AS DOUBLE)
       |           - CAST(n_bad AS DOUBLE) / CAST(bt AS DOUBLE)) * 1000000 + 0.5)
       |           AS BIGINT) AS dshare_fp
       |  FROM per_bin, totals),
       |iv AS (
       |  SELECT CAST(sum(CAST(floor(CAST(dshare_fp AS DOUBLE)
       |           * CAST(woe_fp AS DOUBLE) / 1000000.0 + 0.5) AS BIGINT))
       |           AS BIGINT) AS iv_fp
       |  FROM woe)
       |SELECT bin, n_good, n_bad, woe_fp, iv_fp
       |FROM woe, iv ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q113

  /** q113: Gini concentration coefficient of customer revenue — the
    * Lorenz-curve summary behind q63's Pareto deciles and q58's HHI.
    * Customers with no orders enter at zero revenue (the part of the
    * curve a join-only analysis silently drops). Revenue is exact
    * cents; with x(1..n) rank-ordered (custkey tie-break), the exact
    * identity G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) uses one
    * BIGINT weighted sum — no trapezoid approximation — quantized to
    * 1e-6 at the very end.
    *
    * Scale: one fact-table aggregate to customer grain, then a global
    * rank over customer-level rows (the q63 sort pattern); Σ i·x_i
    * stays in int64 well past sf100 (rank × cents ≈ 2^50 at 1e7
    * customers) and the division is the only double op. */
  def giniRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
    val perCust = Tables.customer(spark, dir)
      .join(rev, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", coalesce($"cents", lit(0L)).as("x"))
    val ranked = perCust.withColumn("i",
      row_number().over(Window.orderBy($"x", $"c_custkey")).cast("long"))
    ranked.agg(
      count(lit(1)).as("n"),
      sum($"x").as("total_cents"),
      sum($"i" * $"x").as("wsum"))
      .select($"n", $"total_cents",
        expr("CAST(floor((2.0 * CAST(wsum AS DOUBLE)" +
          " - CAST((n + 1) * total_cents AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE))" +
          " * 1000000 + 0.5) AS BIGINT)").as("gini_fp"))
  }

  private val giniOracle =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |per_cust AS (
      |  SELECT c.c_custkey, CAST(COALESCE(r.cents, 0) AS BIGINT) AS x
      |  FROM customer c LEFT JOIN rev r ON c.c_custkey = r.o_custkey),
      |ranked AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY x, c_custkey) AS BIGINT) AS i
      |  FROM per_cust)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(x) AS BIGINT) AS total_cents,
      |       CAST(floor((2.0 * CAST(sum(i * x) AS DOUBLE)
      |         - CAST((count(*) + 1) * sum(x) AS DOUBLE))
      |         / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
      |         * 1000000 + 0.5) AS BIGINT) AS gini_fp
      |FROM ranked""".stripMargin

  // ---------------------------------------------------------------- x212

  /** x212: burstiness — per event type, the Goh–Barabási coefficient
    * B = (σ−μ)/(σ+μ) of a user's inter-event seconds (−1 periodic,
    * 0 Poisson, →1 bursty), averaged over users with ≥ 3 events of
    * that type. Inter-arrival seconds are exact integers; per-user σ
    * uses the sample-variance moment identity with one IEEE sqrt, B
    * quantizes to 1e-6 per user, and the per-type mean is an integer
    * div — order-free everywhere.
    *
    * Scale: one (user, type)-keyed window for the lags, one grouped
    * moment pass; nothing data-sized after that. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"event_type").orderBy($"sec", $"event_id")
    val iat = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"event_id",
        expr("unix_timestamp(cast(date_trunc('second', ts) as timestamp))")
          .cast("long").as("sec"))
      .select($"user_id", $"event_type",
        ($"sec" - lag($"sec", 1).over(w)).as("x"))
      .filter($"x".isNotNull)
    val perUser = iat.groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
      .filter($"n" >= 2) // ≥3 events ⇒ ≥2 inter-arrival gaps
      .select($"event_type",
        expr("CAST(floor((sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))" +
          " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))" +
          " / (sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))" +
          " + CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))" +
          " * 1000000 + 0.5) AS BIGINT)").as("b_fp"))
    perUser.groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"),
        expr("CAST(floor(CAST(sum(b_fp) AS DOUBLE) / CAST(count(1) AS DOUBLE))" +
          " AS BIGINT)").as("mean_b_fp"),
        min($"b_fp").as("min_b_fp"), max($"b_fp").as("max_b_fp"))
      .orderBy($"event_type")
  }

  private val burstinessOracle =
    """WITH iat AS (
      |  SELECT user_id, event_type,
      |         sec - lag(sec) OVER (PARTITION BY user_id, event_type
      |                              ORDER BY sec, event_id) AS x
      |  FROM (SELECT user_id, event_type, event_id,
      |               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      |        FROM events) t),
      |per_user AS (
      |  SELECT event_type,
      |         CAST(floor((sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
      |           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |           / (sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
      |           + CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |           * 1000000 + 0.5) AS BIGINT) AS b_fp
      |  FROM (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(x) AS BIGINT) AS sx,
      |               CAST(sum(x * x) AS BIGINT) AS sxx
      |        FROM iat WHERE x IS NOT NULL GROUP BY user_id, event_type) m
      |  WHERE n >= 2)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(floor(CAST(sum(b_fp) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_b_fp,
      |       CAST(min(b_fp) AS BIGINT) AS min_b_fp,
      |       CAST(max(b_fp) AS BIGINT) AS max_b_fp
      |FROM per_user GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- x221

  /** XYZ coefficient-of-variation thresholds (1e-6 fixed point). */
  private val XThr = 500000L
  private val YThr = 1000000L

  /** x221: ABC/XYZ classification of parts — the inventory-planning
    * matrix: ABC by cumulative revenue share (A = first 80%, B = next
    * 15%, C = tail) over the revenue-ranked parts, XYZ by demand
    * variability (monthly-quantity coefficient of variation: X ≤ 0.5,
    * Y ≤ 1.0, else Z). Revenue ranks come from one ordered prefix sum;
    * the CV is exact integer moments + one IEEE sqrt quantized to 1e-6
    * BEFORE the class comparison (so the class boundary compares
    * integers). Publishes the 9-cell matrix with part counts and
    * revenue share per cell.
    *
    * Scale: two part-grain aggregates from lineitem (map-side
    * combined); the rank/prefix window runs on part-grain rows (the
    * q63 Pareto pattern). */
  def abcXyz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_partkey".as("pk"),
      floor($"l_extendedprice" * (lit(1.0) - $"l_discount") + 0.5)
        .cast("long").as("rev"),
      floor($"l_quantity" + 0.5).cast("long").as("qty"),
      (year($"l_shipdate") * 12 + month($"l_shipdate")).cast("long").as("mo"))
    val rev = li.groupBy($"pk").agg(sum($"rev").as("rev"))
    val wR = Window.orderBy($"rev".desc, $"pk")
    val tot = rev.agg(sum($"rev").as("trev"))
    val abc = rev.withColumn("crev", sum($"rev").over(
        wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select($"pk", $"rev",
        expr("CASE WHEN (crev - rev) * 100 < trev * 80 THEN 'A'" +
          " WHEN (crev - rev) * 100 < trev * 95 THEN 'B'" +
          " ELSE 'C' END").as("abc"))
    val monthly = li.groupBy($"pk", $"mo").agg(sum($"qty").as("q"))
    val xyz = monthly.groupBy($"pk")
      .agg(count(lit(1)).as("nm"), sum($"q").as("sq"),
        sum($"q" * $"q").as("sqq"))
      .select($"pk",
        expr("CAST(floor(sqrt(greatest(CAST(nm AS DOUBLE) * CAST(sqq AS DOUBLE)" +
          " - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE), 0.0))" +
          " / CAST(sq AS DOUBLE) * 1000000 + 0.5) AS BIGINT)").as("cv_fp"))
      .select($"pk",
        when($"cv_fp" <= XThr, "X").when($"cv_fp" <= YThr, "Y")
          .otherwise("Z").as("xyz"))
    abc.join(xyz, "pk")
      .crossJoin(broadcast(tot))
      .groupBy($"abc", $"xyz")
      .agg(count(lit(1)).as("n_parts"),
        expr("CAST(floor(CAST(sum(rev) AS DOUBLE) / CAST(max(trev) AS DOUBLE)" +
          " * 1000000 + 0.5) AS BIGINT)").as("rev_share_fp"))
      .orderBy($"abc", $"xyz")
  }

  private val abcXyzOracle =
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_partkey AS pk,
       |         CAST(floor(l_extendedprice * (1.0 - l_discount) + 0.5) AS BIGINT)
       |           AS rev,
       |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
       |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mo
       |  FROM lineitem),
       |rev AS MATERIALIZED (SELECT pk, CAST(sum(rev) AS BIGINT) AS rev
       |                     FROM li GROUP BY pk),
       |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS trev FROM rev),
       |abc AS (
       |  SELECT pk, rev,
       |         CASE WHEN (crev - rev) * 100 < trev * 80 THEN 'A'
       |              WHEN (crev - rev) * 100 < trev * 95 THEN 'B'
       |              ELSE 'C' END AS abc
       |  FROM (SELECT pk, rev,
       |          CAST(sum(rev) OVER (ORDER BY rev DESC, pk) AS BIGINT) AS crev
       |        FROM rev) r, tot),
       |monthly AS (SELECT pk, mo, CAST(sum(qty) AS BIGINT) AS q
       |            FROM li GROUP BY pk, mo),
       |xyz AS (
       |  SELECT pk, CASE WHEN cv_fp <= $XThr THEN 'X'
       |                  WHEN cv_fp <= $YThr THEN 'Y' ELSE 'Z' END AS xyz
       |  FROM (SELECT pk,
       |          CAST(floor(sqrt(greatest(CAST(nm AS DOUBLE) * CAST(sqq AS DOUBLE)
       |            - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE), 0.0))
       |            / CAST(sq AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS cv_fp
       |        FROM (SELECT pk, CAST(count(*) AS BIGINT) AS nm,
       |                     CAST(sum(q) AS BIGINT) AS sq,
       |                     CAST(sum(q * q) AS BIGINT) AS sqq
       |              FROM monthly GROUP BY pk) m) c)
       |SELECT a.abc, x.xyz, CAST(count(*) AS BIGINT) AS n_parts,
       |       CAST(floor(CAST(sum(a.rev) AS DOUBLE) / CAST(max(t.trev) AS DOUBLE)
       |         * 1000000 + 0.5) AS BIGINT) AS rev_share_fp
       |FROM abc a JOIN xyz x ON x.pk = a.pk, tot t
       |GROUP BY a.abc, x.xyz
       |ORDER BY a.abc, x.xyz""".stripMargin

  /* Irregular-time aggregation and tail risk —
   * time-weighted averages over the event step function (x226) and
   * VaR/CVaR of daily revenue swings (x227). */

  /** Published users (largest TWAP-vs-naive divergence). */
  private val TwapTop = 20

  // ---------------------------------------------------------------- x226

  /** x226: TWAP — the time-weighted average of a user's event `value`,
    * treating it as a step function that holds until the next event
    * (the correct mean for irregularly sampled metrics; the naive
    * per-event mean over-weights bursts). Each interval weight is
    * exact microseconds, each value exact cents, so the TWAP is one
    * integer Σ(v·Δt) div ΣΔt per user. Publishes the [[TwapTop]]
    * users where the naive mean diverges most — the burst-bias
    * report.
    *
    * Scale: one user-partitioned lead() window and a per-user
    * aggregate; the divergence rank is user-grain (the q63 sort
    * shape). */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val iv = Tables.events(spark, dir)
      .select($"user_id", $"event_id",
        expr("unix_micros(cast(ts as timestamp))").as("us"),
        floor($"value" * 100 + 0.5).cast("long").as("v"))
      .select($"user_id", $"v",
        (lead($"us", 1).over(w) - $"us").as("dur"))
      .filter($"dur".isNotNull && $"dur" > 0)
    val perUser = iv.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        sum($"v" * $"dur").as("svd"), sum($"dur").as("sd"))
      .select($"user_id", $"n",
        expr("(svd) div sd").as("twap_c"),
        expr("sv div n").as("naive_c"))
      .withColumn("bias_c", abs($"twap_c" - $"naive_c"))
    perUser.withColumn("rk", row_number().over(
      Window.orderBy($"bias_c".desc, $"user_id")).cast("long"))
      .filter($"rk" <= TwapTop)
      .select($"rk", $"user_id", $"n", $"twap_c", $"naive_c", $"bias_c")
      .orderBy($"rk")
  }

  private val twapOracle =
    s"""WITH iv AS MATERIALIZED (
       |  SELECT user_id, v, dur FROM (
       |    SELECT user_id,
       |           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
       |           lead(epoch_us(ts)) OVER (PARTITION BY user_id
       |             ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dur
       |    FROM events) t
       |  WHERE dur IS NOT NULL AND dur > 0),
       |per_user AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(v * dur) // sum(dur) AS BIGINT) AS twap_c,
       |         CAST(sum(v) // count(*) AS BIGINT) AS naive_c
       |  FROM iv GROUP BY user_id),
       |ranked AS (
       |  SELECT user_id, n, twap_c, naive_c,
       |         abs(twap_c - naive_c) AS bias_c,
       |         CAST(row_number() OVER (ORDER BY abs(twap_c - naive_c) DESC,
       |           user_id) AS BIGINT) AS rk
       |  FROM per_user)
       |SELECT rk, user_id, n, twap_c, naive_c, bias_c
       |FROM ranked WHERE rk <= $TwapTop
       |ORDER BY rk""".stripMargin

  // ---------------------------------------------------------------- x227

  /** Tail fraction (per mille) for the VaR cut. */
  private val TailPm = 50L

  /** x227: VaR/CVaR of day-over-day revenue swings — the tail-risk
    * panel: the 5% worst daily deltas define VaR (the exact k-th order
    * statistic, rank-based — no interpolation ambiguity) and CVaR is
    * the mean of those worst k (floor-double division: the sum is
    * negative). Whole-dollar deltas keep every sum exact.
    *
    * Scale: one date-grain aggregate, one lag window, one
    * WindowGroupLimit-pruned rank over the ~2.5k-day frame. */
  def cvar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" + 0.5).cast("long")).as("y"))
    val w = Window.orderBy($"di")
    val deltas = daily
      .select($"di", ($"y" - lag($"y", 1).over(w)).as("d"))
      .filter($"d".isNotNull)
      .localCheckpoint(true)
    val n = deltas.agg(count(lit(1)).as("n"))
      .select($"n", expr(s"greatest(1, (n * $TailPm) div 1000)").as("k"))
    val ranked = deltas.withColumn("rk", row_number().over(
      Window.orderBy($"d", $"di")).cast("long"))
    ranked.crossJoin(broadcast(n))
      .filter($"rk" <= $"k")
      .groupBy($"n", $"k")
      .agg(max($"d").as("var_d"),
        expr("CAST(floor(CAST(sum(d) AS DOUBLE) / CAST(count(1) AS DOUBLE)" +
          " * 100 + 0.5) AS BIGINT)").as("cvar_d100"))
      .select($"n", $"k", $"var_d", $"cvar_d100")
  }

  private val cvarOracle =
    s"""WITH daily AS (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |              AS BIGINT) AS di,
       |         CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |deltas AS MATERIALIZED (
       |  SELECT di, d FROM (
       |    SELECT di, y - lag(y) OVER (ORDER BY di) AS d FROM daily) t
       |  WHERE d IS NOT NULL),
       |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |              CAST(greatest(1, (count(*) * $TailPm) // 1000) AS BIGINT) AS k
       |       FROM deltas),
       |ranked AS (
       |  SELECT d, CAST(row_number() OVER (ORDER BY d, di) AS BIGINT) AS rk
       |  FROM deltas)
       |SELECT n, k, CAST(max(d) AS BIGINT) AS var_d,
       |       CAST(floor(CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         * 100 + 0.5) AS BIGINT) AS cvar_d100
       |FROM ranked, n0 WHERE rk <= k
       |GROUP BY n, k""".stripMargin

  /* Population stability index (q116) — the
   * scorecard-monitoring drift metric that complements x23's JS
   * divergence (PSI is what model-risk teams actually threshold at
   * 0.1/0.25) and x205's Wasserstein (PSI is share-based, W1 is
   * mass-transport-based). */

  /** Expected-side decile count. */
  private val PsiBins = 10

  /** q116: PSI of the 1996 order-value distribution against 1995 —
    * bins are DECILES OF THE EXPECTED (1995) distribution (the
    * defining PSI convention: the baseline sets the grid, so a pure
    * shift shows up as tail-bin migration), edges taken as exact
    * rank-based cents cutpoints. Per bin: expected/actual shares in
    * 1e-6 fixed point (+1 Laplace on counts so empty actual bins stay
    * finite), the PSI term (p−q)·ln(p/q) quantized per bin from
    * exact integer ratios (the x56 ln recipe), and the replicated
    * total. PSI < 0.1 ⇒ stable; the fixture's drift lands where it
    * lands, but the CONTRACT is the per-bin decomposition.
    *
    * Scale: decile edges are one rank pass over the 1995 cohort
    * (WindowGroupLimit-prunable); binning the actual side is a
    * broadcast range join against 9 edges; shares and terms are
    * constant-size. */
  def psi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def cents(yr: Int) = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") === yr)
      .select(floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"),
        $"o_orderkey")
    val base = cents(1995).localCheckpoint(true)
    // Driver scalar for the literal edge-rank predicates only (the q112
    // precedent — the data-sized work all stays in the plan).
    val nBase = base.count()
    val edges = base
      .withColumn("rk", row_number().over(Window.orderBy($"c", $"o_orderkey")))
      .filter((1 until PsiBins).map(i =>
        $"rk" === lit((nBase * i / PsiBins).toInt)).reduce(_ || _))
      .select($"c".as("edge"))
      .withColumn("bin", row_number().over(Window.orderBy($"edge")).cast("long"))
      .localCheckpoint(true)
    def binned(df: DataFrame) = df
      .join(broadcast(edges), $"c" > $"edge", "left")
      .groupBy($"o_orderkey").agg(coalesce(max($"bin"), lit(0L)).as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n"))
    val exp = binned(base).toDF("bin", "n_exp")
    val act = binned(cents(1996)).toDF("bin", "n_act")
    val grid = spark.range(PsiBins).select($"id".as("bin"))
      .join(exp, Seq("bin"), "left").join(act, Seq("bin"), "left")
      .na.fill(0L, Seq("n_exp", "n_act"))
    val tots = grid.agg(sum($"n_exp").as("te"), sum($"n_act").as("ta"))
    val terms = grid.crossJoin(broadcast(tots))
      .select($"bin", $"n_exp", $"n_act",
        expr(s"CAST(((n_exp + 1) * 1000000) div (te + $PsiBins) AS BIGINT)")
          .as("p_fp"),
        expr(s"CAST(((n_act + 1) * 1000000) div (ta + $PsiBins) AS BIGINT)")
          .as("q_fp"),
        expr(s"CAST(floor((CAST(n_act + 1 AS DOUBLE)" +
          s" / CAST(ta + $PsiBins AS DOUBLE)" +
          s" - CAST(n_exp + 1 AS DOUBLE) / CAST(te + $PsiBins AS DOUBLE))" +
          s" * ln(CAST((n_act + 1) * (te + $PsiBins) AS DOUBLE)" +
          s" / CAST((n_exp + 1) * (ta + $PsiBins) AS DOUBLE))" +
          s" * 1000000 + 0.5) AS BIGINT)").as("psi_term_fp"))
    val tot = terms.agg(sum($"psi_term_fp").as("psi_fp"))
    terms.crossJoin(broadcast(tot))
      .select($"bin", $"n_exp", $"n_act", $"p_fp", $"q_fp", $"psi_term_fp",
        $"psi_fp")
      .orderBy($"bin")
  }

  private val psiOracle =
    s"""WITH base AS MATERIALIZED (
       |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c, o_orderkey
       |  FROM orders WHERE year(o_orderdate) = 1995),
       |nb AS (SELECT count(*) AS n FROM base),
       |ranked AS (SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rk
       |           FROM base),
       |edges AS MATERIALIZED (
       |  SELECT c AS edge,
       |         CAST(row_number() OVER (ORDER BY c) AS BIGINT) AS bin
       |  FROM ranked, nb
       |  WHERE ${(1 until PsiBins).map(i => s"rk = (n * $i) // $PsiBins")
            .mkString(" OR ")}),
       |act0 AS (
       |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c, o_orderkey
       |  FROM orders WHERE year(o_orderdate) = 1996),
       |bexp AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_exp FROM (
       |    SELECT b.o_orderkey, COALESCE(max(e.bin), 0) AS bin
       |    FROM base b LEFT JOIN edges e ON b.c > e.edge
       |    GROUP BY b.o_orderkey) t GROUP BY bin),
       |bact AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_act FROM (
       |    SELECT a.o_orderkey, COALESCE(max(e.bin), 0) AS bin
       |    FROM act0 a LEFT JOIN edges e ON a.c > e.edge
       |    GROUP BY a.o_orderkey) t GROUP BY bin),
       |grid AS MATERIALIZED (
       |  SELECT g.bin, COALESCE(e.n_exp, 0) AS n_exp, COALESCE(a.n_act, 0) AS n_act
       |  FROM (SELECT CAST(unnest(range(0, $PsiBins)) AS BIGINT) AS bin) g
       |  LEFT JOIN bexp e ON e.bin = g.bin LEFT JOIN bact a ON a.bin = g.bin),
       |tots AS (SELECT CAST(sum(n_exp) AS BIGINT) AS te,
       |                CAST(sum(n_act) AS BIGINT) AS ta FROM grid),
       |terms AS (
       |  SELECT bin, n_exp, n_act,
       |         CAST(((n_exp + 1) * 1000000) // (te + $PsiBins) AS BIGINT) AS p_fp,
       |         CAST(((n_act + 1) * 1000000) // (ta + $PsiBins) AS BIGINT) AS q_fp,
       |         CAST(floor((CAST(n_act + 1 AS DOUBLE)
       |           / CAST(ta + $PsiBins AS DOUBLE)
       |           - CAST(n_exp + 1 AS DOUBLE) / CAST(te + $PsiBins AS DOUBLE))
       |           * ln(CAST((n_act + 1) * (te + $PsiBins) AS DOUBLE)
       |           / CAST((n_exp + 1) * (ta + $PsiBins) AS DOUBLE))
       |           * 1000000 + 0.5) AS BIGINT) AS psi_term_fp
       |  FROM grid, tots),
       |tot AS (SELECT CAST(sum(psi_term_fp) AS BIGINT) AS psi_fp FROM terms)
       |SELECT bin, n_exp, n_act, p_fp, q_fp, psi_term_fp, psi_fp
       |FROM terms, tot ORDER BY bin""".stripMargin

  /** Skyline grid cell sizes for (n_chars, quantized-TTR) space. */
  private val SkyC1 = 64L
  private val SkyC2 = 256L

  // ---------------------------------------------------------------- x261

  /** x261: skyline (Pareto frontier) over documents maximizing
    * (n_chars, type-token ratio quantized to basis points) — a REAL
    * length-vs-lexical-diversity tradeoff (TTR falls with length under
    * a fixed vocabulary, so the frontier is a genuine staircase; a
    * positively-correlated pair would pack the staircase cells with
    * most of the corpus and neuter the pruning) — the multi-objective
    * "keep the non-dominated candidates" curation primitive with GRID PRUNING
    * so the exact dominance check never runs all-pairs on the corpus:
    * points map to integer grid cells; an occupied cell strictly
    * greater in BOTH grid coords dominates every point of a cell (cell
    * floors/ceilings make the per-point inequality strict), so cells
    * under the occupied-cell staircase are dropped wholesale via a
    * suffix-max over |cells| rows; only staircase-cell survivors enter
    * the exact pairwise anti-join (broadcast — survivor count is
    * staircase-bounded). Dominance is transitive, so every dominated
    * point is dominated by a survivor: the pruned result EQUALS the
    * all-pairs skyline, which is exactly what the oracle computes by
    * brute NOT EXISTS. Audit columns carry the corpus size and the
    * survivor-candidate count (same integer grid math in both engines).
    *
    * Scale: one corpus pass for metrics+cells, one |cells|-row suffix
    * max, one broadcast semi-join to keep survivors, one broadcast
    * anti-join among survivors — no all-pairs stage touches the corpus. */
  def skylineGrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val m = Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"doc_id", $"n_chars".as("m1"),
        (size(array_distinct(toks)).cast("long") * 10000L).as("dt"),
        size(toks).cast("long").as("nt"))
      .withColumn("m2", expr("dt DIV nt"))
      .select($"doc_id", $"m1", $"m2")
      .withColumn("g1", expr(s"m1 DIV $SkyC1"))
      .withColumn("g2", expr(s"m2 DIV $SkyC2"))
      .localCheckpoint(true)
    val cellMax = m.groupBy($"g1").agg(max($"g2").as("maxv"))
    val wSuffix = Window.orderBy($"g1".desc).rowsBetween(Window.unboundedPreceding, -1)
    val liveCells = m.select($"g1", $"g2").distinct()
      .join(broadcast(cellMax.withColumn("smax", max($"maxv").over(wSuffix))
        .select($"g1", $"smax")), Seq("g1"))
      .filter($"smax".isNull || $"g2" >= $"smax")
      .select($"g1", $"g2")
    val surv = m.join(broadcast(liveCells), Seq("g1", "g2")).localCheckpoint(true)
    val q = surv.select($"m1".as("qm1"), $"m2".as("qm2"))
    val sky = surv.join(broadcast(q),
      $"qm1" >= $"m1" && $"qm2" >= $"m2" && ($"qm1" > $"m1" || $"qm2" > $"m2"),
      "left_anti")
    val audit = m.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(surv.agg(count(lit(1)).as("n_grid_candidates"))))
    sky.select($"doc_id", $"m1", $"m2").crossJoin(broadcast(audit))
      .orderBy($"doc_id")
  }

  private val skylineGridOracle =
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id, m1, m2, m1 // $SkyC1 AS g1, m2 // $SkyC2 AS g2
       |  FROM (
       |    SELECT doc_id, CAST(n_chars AS BIGINT) AS m1,
       |           (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 10000)
       |             // CAST(len(string_split(text, ' ')) AS BIGINT) AS m2
       |    FROM documents WHERE n_chars > 0)),
       |surv AS (
       |  SELECT p.* FROM m p WHERE NOT EXISTS (
       |    SELECT 1 FROM (SELECT DISTINCT g1, g2 FROM m) o
       |    WHERE o.g1 > p.g1 AND o.g2 > p.g2)),
       |audit AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_total,
       |         (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_grid_candidates)
       |SELECT p.doc_id, p.m1, p.m2, n_total, n_grid_candidates
       |FROM m p, audit
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM m q
       |  WHERE q.m1 >= p.m1 AND q.m2 >= p.m2 AND (q.m1 > p.m1 OR q.m2 > p.m2))
       |ORDER BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------- x274

  /** x274: cohort retention triangle — users grouped by first-activity
    * week, tracked for distinct-active presence in each subsequent week
    * (the marketing-warehouse readout the reference's lead-activity
    * table feeds). Week indexing is exact integer day-arithmetic from a
    * fixed epoch; rates are ratios of exact distinct counts.
    *
    * Scale: one min-aggregate per user, one (user, week) distinct, one
    * broadcast join of the user→cohort dim — the triangle itself is
    * O(weeks²) rows. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val act = Tables.events(spark, dir)
      .select($"user_id".as("u"),
        (datediff(to_date($"ts"), lit(java.sql.Date.valueOf("2024-01-01")))
          .cast("long")).as("d"))
      .select($"u", expr("d DIV 7").as("wk"))
      .distinct()
      .localCheckpoint(true)
    val cohort = act.groupBy($"u").agg(min($"wk").as("cw"))
    val csize = cohort.groupBy($"cw").agg(count(lit(1)).as("cohort_size"))
    act.join(cohort, "u")
      .groupBy($"cw", ($"wk" - $"cw").as("age"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(csize), "cw")
      .select($"cw".as("cohort_week"), $"age", $"n_active", $"cohort_size",
        QueryUtil.halfUp4($"n_active".cast("double")
          / $"cohort_size".cast("double")).as("retention"))
      .orderBy($"cohort_week", $"age")
  }

  private val cohortRetentionOracle =
    """WITH act AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS u,
      |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
      |  FROM events),
      |cohort AS (SELECT u, min(wk) AS cw FROM act GROUP BY u),
      |csize AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
      |          FROM cohort GROUP BY cw),
      |tri AS (
      |  SELECT c.cw, a.wk - c.cw AS age, CAST(count(*) AS BIGINT) AS n_active
      |  FROM act a JOIN cohort c ON c.u = a.u
      |  GROUP BY 1, 2)
      |SELECT t.cw AS cohort_week, t.age, t.n_active, s.cohort_size,
      |       floor(CAST(t.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
      |             * 10000 + 0.5) / 10000.0 AS retention
      |FROM tri t JOIN csize s ON s.cw = t.cw
      |ORDER BY cohort_week, age""".stripMargin

  /* Iterative proportional fitting (IPF / raking /
   * Sinkhorn matrix scaling) as a fixed-point INTEGER iteration — the
   * survey-calibration and ads-measurement weighting primitive (and the
   * Sinkhorn kernel of entropic optimal transport), oracle-paired
   * bit-for-bit by quantizing every scaling factor to integer
   * micro-units with truncating division (the x317 convention).
   */

  /** Full row-step + col-step iterations. */
  private val IpfIters = 4
  /** Fixed-point scale (micro-units). */
  private val IpfScale = 1000000L

  /** x330: IPF raking of the (event_type × day-of-week) activity matrix
    * to uniform margins — reweight each cell so every event type and
    * every weekday carries an equal share of total mass, the classic
    * post-stratification calibration (DeVille–Särndal raking; the same
    * alternating row/col scaling is Sinkhorn's algorithm for doubly-
    * stochastic matrix balancing). [[IpfIters]] full iterations, each
    * factor quantized: f_r = (target·10⁶) quot rowMass, w ← (w·f) quot
    * 10⁶ — BIGINT-exact, so both engines walk the identical fixed-point
    * trajectory (a double implementation would need order-free sums per
    * margin; integers get that for free). Emits final weights and the
    * post-fit row/col masses so the residual imbalance is inspectable
    * (IPF converges geometrically; 4 iterations leave per-mille
    * residue).
    *
    * Scale: the cell census (|types|·|weekdays| rows) is all the
    * iteration touches — the corpus pass is one map-side-combinable
    * groupBy; margins are tiny aggregates joined back broadcast. The
    * factor arithmetic target·10⁶ runs in DECIMAL(38)/HUGEINT on both
    * sides (a BIGINT intermediate overflows SILENTLY in non-ANSI Spark
    * at ~5·10⁷ events while the oracle errors — r13 code-review catch);
    * the remaining BIGINT bound is the driver-side target itself,
    * total·10⁶ < 2⁶³ (~9·10¹² events). */
  def ipfRaking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells0 = Tables.events(spark, dir)
      .select($"event_type", dayofweek($"ts").cast("long").as("dow"))
      .groupBy($"event_type", $"dow").agg(count(lit(1)).as("n"))
      .withColumn("w", lit(IpfScale))
      .localCheckpoint(true)
    val tot = cells0.agg(sum($"n")).head.getLong(0)
    val nRows = cells0.select($"event_type").distinct().count()
    val nCols = cells0.select($"dow").distinct().count()
    val tRow = tot * IpfScale / nRows
    val tCol = tot * IpfScale / nCols
    var cells = cells0
    (1 to IpfIters).foreach { _ =>
      val rm = cells.groupBy($"event_type").agg(sum($"n" * $"w").as("rm"))
      cells = cells.join(broadcast(rm), "event_type")
        .withColumn("w", expr(
          s"(w * CAST((CAST(${tRow}L AS DECIMAL(38,0)) * CAST($IpfScale AS DECIMAL(38,0)))" +
            s" DIV CAST(rm AS DECIMAL(38,0)) AS BIGINT)) DIV $IpfScale"))
        .drop("rm")
      val cm = cells.groupBy($"dow").agg(sum($"n" * $"w").as("cm"))
      cells = cells.join(broadcast(cm), "dow")
        .withColumn("w", expr(
          s"(w * CAST((CAST(${tCol}L AS DECIMAL(38,0)) * CAST($IpfScale AS DECIMAL(38,0)))" +
            s" DIV CAST(cm AS DECIMAL(38,0)) AS BIGINT)) DIV $IpfScale"))
        .drop("cm")
        .localCheckpoint(true)
    }
    val rmF = cells.groupBy($"event_type").agg(sum($"n" * $"w").as("row_mass"))
    val cmF = cells.groupBy($"dow").agg(sum($"n" * $"w").as("col_mass"))
    cells.join(broadcast(rmF), "event_type").join(broadcast(cmF), "dow")
      .select($"event_type", $"dow", $"n", $"w", $"row_mass", $"col_mass")
      .orderBy($"event_type", $"dow")
  }

  private val ipfOracle = {
    // unrolled row/col steps; targets computed exactly as the Spark side
    // does (total DIV margin-count, then ·10⁶ inside the factor)
    val steps = (1 to IpfIters).flatMap { k =>
      Seq(
        s"""r$k AS (
           |  SELECT c.event_type, c.dow, c.n,
           |         (c.w * CAST((CAST(trow AS HUGEINT) * $IpfScale) // rm AS BIGINT)) // $IpfScale AS w
           |  FROM ${if (k == 1) "c0" else s"c${k - 1}"} c
           |  JOIN (SELECT event_type, CAST(sum(n * w) AS BIGINT) AS rm
           |        FROM ${if (k == 1) "c0" else s"c${k - 1}"} GROUP BY 1) m
           |    ON m.event_type = c.event_type, t)""".stripMargin,
        s"""c$k AS (
           |  SELECT c.event_type, c.dow, c.n,
           |         (c.w * CAST((CAST(tcol AS HUGEINT) * $IpfScale) // cm AS BIGINT)) // $IpfScale AS w
           |  FROM r$k c
           |  JOIN (SELECT dow, CAST(sum(n * w) AS BIGINT) AS cm
           |        FROM r$k GROUP BY 1) m ON m.dow = c.dow, t)""".stripMargin)
    }.mkString(",\n")
    s"""WITH c0 AS MATERIALIZED (
       |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST($IpfScale AS BIGINT) AS w
       |  FROM events GROUP BY 1, 2),
       |t AS (
       |  SELECT CAST(sum(n) * $IpfScale // count(DISTINCT event_type) AS BIGINT) AS trow,
       |         CAST(sum(n) * $IpfScale // count(DISTINCT dow) AS BIGINT) AS tcol
       |  FROM c0),
       |$steps
       |SELECT c.event_type, c.dow, c.n, c.w,
       |       CAST(rm.row_mass AS BIGINT) AS row_mass,
       |       CAST(cm.col_mass AS BIGINT) AS col_mass
       |FROM c$IpfIters c
       |JOIN (SELECT event_type, sum(n * w) AS row_mass FROM c$IpfIters GROUP BY 1) rm
       |  ON rm.event_type = c.event_type
       |JOIN (SELECT dow, sum(n * w) AS col_mass FROM c$IpfIters GROUP BY 1) cm
       |  ON cm.dow = c.dow
       |ORDER BY c.event_type, c.dow""".stripMargin
  }

  /** x377: skyline (Pareto frontier) over documents — the multi-objective
    * selection operator a curation pass runs when no single score orders
    * candidates: keep docs not DOMINATED (another doc >= on both
    * dimensions, > on at least one) on (n_chars, distinct tokens). The
    * engine plan is the classic sort-based 2D skyline — one row per
    * distinct d1 (group max), a running strictly-before max, two integer
    * comparisons — O(n log n), never pairwise; the oracle is the
    * brute-force EXISTS DEFINITION, so the plan is semantically pinned
    * against the textbook predicate. */
  def skylineDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars".as("d1"),
        size(array_distinct(split($"text", " "))).cast("long").as("d2"))
    val grp = d.groupBy($"d1").agg(max($"d2").as("gmax"))
    val w = Window.orderBy($"d1".desc)
    val withPrev = grp.withColumn("smax",
      max($"gmax").over(w.rowsBetween(Window.unboundedPreceding, -1)))
    d.join(withPrev, "d1")
      .filter((coalesce($"smax", lit(Long.MinValue)) < $"d2") && ($"gmax" <= $"d2"))
      .select($"doc_id", $"d1".as("n_chars"), $"d2".as("n_distinct"))
      .orderBy("doc_id")
  }

  private val skylineOracle =
    s"""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS d1,
       |             CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT) AS d2
       |           FROM documents)
       |SELECT doc_id, d1 AS n_chars, d2 AS n_distinct
       |FROM d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM d o
       |  WHERE o.d1 >= d.d1 AND o.d2 >= d.d2 AND (o.d1 > d.d1 OR o.d2 > d.d2))
       |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q84_sequence_regex",
      "MATCH_RECOGNIZE-shaped sequence mining: regex motifs over serialized per-user journeys",
      sequenceRegex, Some(sequenceRegexOracle)),
    QueryDef("q73_topk_churn",
      "Monthly top-10 leaderboard persistence: repeat appearances, best rank, first/last month",
      topkChurn, Some(topkChurnOracle)),
    QueryDef("q74_bounce_rate",
      "Per-day single-event-session bounce rate over gap-sessionized events",
      bounceRate, Some(bounceRateOracle)),
    QueryDef("q72_lead_time_percentiles",
      "Exact grouped p50/p90/p99 lead times via one shared window pass (SLO report shape)",
      leadTimePercentiles, Some(leadTimePercentilesOracle)),
    QueryDef("q71_chi_square",
      "Chi-square independence test on the segment x priority contingency table (exact cross terms)",
      chiSquare, Some(chiSquareOracle)),
    QueryDef("q70_group_regression",
      "Per-group OLS trend lines from exact integer moments (covariance recipe)",
      groupRegression, Some(groupRegressionOracle)),
    QueryDef("q68_weighted_median",
      "Exact lower weighted median (price by quantity mass) per group, integer predicate",
      weightedMedian, Some(weightedMedianOracle)),
    QueryDef("q69_histogram",
      "Equi-width exact-integer histogram with complete bin spine and shares",
      histogram, Some(histogramOracle)),
    QueryDef("q65_k_anonymity",
      "k-anonymity screening over quasi-identifier groups with suppression shares",
      kAnonymity, Some(kAnonymityOracle)),
    QueryDef("q66_event_trigrams",
      "Top-20 consecutive event-type trigram patterns across user journeys",
      eventTrigrams, Some(eventTrigramsOracle)),
    QueryDef("q64_benford",
      "Benford first-digit audit over exact cents with literal expectations and fixed-point chi-square",
      benfordAudit, Some(benfordAuditOracle)),
    QueryDef("q61_dq_report",
      "Referential-integrity / duplicate-key / null-rate data-quality sweep as one report",
      dqReport, Some(dqReportOracle)),
    QueryDef("q62_rfm_segments",
      "RFM customer segmentation: deterministic ntile quartiles rolled up to cells",
      rfmSegments, Some(rfmSegmentsOracle)),
    QueryDef("q63_pareto_deciles",
      "Pareto revenue deciles with exact-cents shares and cumulative 80/20 curve",
      paretoDeciles, Some(paretoDecilesOracle)),
    QueryDef("q56_association_rules",
      "Market-basket association rules (support/confidence/lift) over order×brand baskets",
      associationRules, Some(associationRulesOracle)),
    QueryDef("q57_markov_transitions",
      "Row-normalized Markov transition matrix over per-user event sequences",
      markovTransitions, Some(markovTransitionsOracle)),
    QueryDef("q58_concentration_hhi",
      "Per-nation revenue concentration: exact-numerator HHI + top-customer share",
      concentrationHhi, Some(concentrationHhiOracle)),
    QueryDef("q59_seasonal_anomaly",
      "Hour-of-week seasonal baseline with exact-moment z-score anomaly counts",
      seasonalAnomaly, Some(seasonalAnomalyOracle)),
    QueryDef("q60_cusum_changepoint",
      "Exact-integer CUSUM cumulative deviation over daily revenue with argmax changepoint",
      cusumChangepoint, Some(cusumChangepointOracle)),
    QueryDef("x154_l_diversity",
      "l-diversity privacy screen over q65's quasi-identifiers: distinct sensitive bands per group + majority share (homogeneity-attack audit)",
      lDiversity, Some(lDiversityOracle)),
    QueryDef("q105_t_closeness",
      "t-closeness privacy screen: exact-integer total-variation distance of class vs global sensitive distribution",
      tCloseness, Some(tClosenessOracle)),
    QueryDef("x186_dp_histogram",
      "differentially-private histogram release: discrete-Laplace noise via deterministic quantized inverse CDF",
      dpHistogram, Some(dpOracle)),
    QueryDef("x199_woe_iv",
      "weight-of-evidence / information-value binning: acctbal deciles vs has-urgent-order outcome, Laplace-smoothed ln in 1e-6 fixed point",
      woeIv, Some(woeOracle)),
    QueryDef("q113_gini",
      "exact Gini concentration of customer revenue (zero-revenue customers included) via the rank-weighted-sum identity",
      giniRevenue, Some(giniOracle)),
    QueryDef("x212_burstiness",
      "Goh-Barabasi burstiness of inter-event gaps per event type: per-user quantized B, integer-div mean over users",
      burstiness, Some(burstinessOracle)),
    QueryDef("x221_abc_xyz",
      "ABC/XYZ part classification: cumulative revenue share classes x monthly-demand CV classes, 9-cell matrix with shares",
      abcXyz, Some(abcXyzOracle)),
    QueryDef("x226_twap",
      "time-weighted average of the event value step function per user: exact integer us-weighted sums, burst-bias top-20",
      twap, Some(twapOracle)),
    QueryDef("x227_cvar",
      "VaR/CVaR of day-over-day revenue swings: exact k-th order statistic cut, floor-double tail mean",
      cvar, Some(cvarOracle)),
    QueryDef("q116_psi",
      "population stability index 1995->1996 on expected-side deciles: Laplace-smoothed shares, per-bin quantized (p-q)ln(p/q), replicated total",
      psi, Some(psiOracle)),
    QueryDef("x261_skyline_grid",
      "grid-pruned skyline over (n_chars, type-token ratio) vs brute NOT EXISTS oracle",
      skylineGrid, Some(skylineGridOracle)),
    QueryDef("x274_cohort_retention",
      "weekly cohort retention triangle over first-activity cohorts",
      cohortRetention, Some(cohortRetentionOracle)),
    QueryDef("x330_ipf_raking",
      "IPF/Sinkhorn raking to uniform margins as a fixed-point integer iteration: quantized factors, bit-identical trajectories",
      ipfRaking, Some(ipfOracle)),
    QueryDef("x377_skyline_docs",
      "skyline / Pareto frontier: sort-based O(n log n) plan pinned against the brute-force EXISTS domination oracle (X4)",
      skylineDocs, Some(skylineOracle)))
}
