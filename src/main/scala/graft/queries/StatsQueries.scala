package graft.queries

import graft.{QueryDef, Tables}
import QueryUtil.{halfUp, halfUp4}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stats family (with TimeSeriesQueries): exact hypothesis tests, rank
  * statistics, estimators and multiple-testing control.
  *
  * Statistical-testing tier — the hypothesis tests an analytics team runs
  * on top of the warehouse: Welch's two-sample t-test, the Mann-Kendall
  * trend test, Spearman rank correlation, and a Hampel rolling-MAD
  * outlier filter. All follow the exact-moment recipe (q70): counts,
  * cents, ranks, and cross moments stay integral (long / decimal(38,0)
  * == DuckDB HUGEINT) until one final double conversion; the only
  * floating ops are divisions and IEEE-exact sqrt on bit-identical
  * inputs, so the distributed Spark result and the sequential DuckDB
  * oracle agree to the bit before rounding.
  *
  * Scale: every test statistic is computed on a tiny aggregate frame
  * (3 groups, 25 nations, 25x~80 months) — the full scan contributes
  * exactly one partial-aggregated pass; the pairwise joins (Mann-Kendall)
  * run on the aggregate, never the raw table. */
object StatsQueries {

  /** Winsorization tail share (percent, integer rank arithmetic). */
  private val WinsPct = 5

  /** q54: winsorization — clip each group's values at its exact p05/p95
    * ORDER STATISTICS (k-th smallest, k = n·pct/100 integer arithmetic —
    * no interpolation, no float thresholds), the robust-statistics
    * cleaning step for heavy-tailed metrics. Output per group: the clip
    * bounds, clip counts, and the winsorized mean in exact integer cents.
    * Scale: q25's rank-join shape (window spills per group; no
    * buffer-everything percentile aggregate). */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    val counts = o.groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val ranked = o.withColumn("rn", row_number().over(
        Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice", $"o_orderkey")))
      .join(broadcast(counts), "o_orderpriority")
    val kLo = ($"n" * WinsPct - ($"n" * WinsPct) % 100) / 100 + 1 // floor(n*pct/100) + 1
    val bounds = ranked.groupBy($"o_orderpriority")
      .agg(max(when($"rn" === kLo, $"o_totalprice")).as("lo"),
        max(when($"rn" === $"n" - kLo + 1, $"o_totalprice")).as("hi"))
    val clipped = o.join(broadcast(bounds), "o_orderpriority")
      .select($"o_orderpriority",
        ($"o_totalprice" < $"lo").cast("long").as("is_lo"),
        ($"o_totalprice" > $"hi").cast("long").as("is_hi"),
        floor(least(greatest($"o_totalprice", $"lo"), $"hi") * 100 + 0.5)
          .cast("long").as("cents"))
    clipped.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"is_lo").as("n_clip_lo"), sum($"is_hi").as("n_clip_hi"),
        halfUp4(sum($"cents").cast("double") / 100.0 / count(lit(1))).as("wins_mean"))
      .orderBy("o_orderpriority")
  }

  private val winsorizeOracle =
    s"""WITH cnt AS (SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1),
       |rk AS (SELECT o.o_orderpriority, o.o_totalprice, c.n,
       |         row_number() OVER (PARTITION BY o.o_orderpriority
       |                            ORDER BY o.o_totalprice, o.o_orderkey) AS rn
       |       FROM orders o JOIN cnt c ON o.o_orderpriority = c.o_orderpriority),
       |bounds AS (SELECT o_orderpriority,
       |             max(CASE WHEN rn = (n * $WinsPct) // 100 + 1 THEN o_totalprice END) AS lo,
       |             max(CASE WHEN rn = n - ((n * $WinsPct) // 100 + 1) + 1 THEN o_totalprice END) AS hi
       |           FROM rk GROUP BY o_orderpriority),
       |cl AS (SELECT o.o_orderpriority,
       |         CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END AS is_lo,
       |         CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END AS is_hi,
       |         CAST(floor(least(greatest(o.o_totalprice, b.lo), b.hi) * 100 + 0.5) AS BIGINT) AS cents
       |       FROM orders o JOIN bounds b ON o.o_orderpriority = b.o_orderpriority)
       |SELECT o_orderpriority, count(*) AS n,
       |       CAST(sum(is_lo) AS BIGINT) AS n_clip_lo,
       |       CAST(sum(is_hi) AS BIGINT) AS n_clip_hi,
       |       floor((CAST(sum(cents) AS DOUBLE) / 100.0 / count(*)) * 10000 + 0.5) / 10000.0 AS wins_mean
       |FROM cl
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  private[queries] val dec = "decimal(38,0)"

  /** Hampel threshold |x-med| > 3*1.4826*MAD as the exact integer
    * predicate |x-med|*10000 > 44478*MAD (3*1.4826 = 4.4478). */
  private val HampelScaled = 44478L

  /** q75: Welch's unequal-variance t-test — per return flag, does the
    * mean extended price (exact cents) differ between open (O) and
    * finished (F) line statuses? Moments Σy (long), Σy² (decimal) are
    * exact; sample variance v = (n·Σy² − (Σy)²) / (n·(n−1)) is an exact
    * integer ratio divided once; t and the Welch–Satterthwaite df are
    * pure double arithmetic in the same association order as the oracle.
    * Scale: one 6-row aggregate over the scan; the t math runs on a
    * 3-row join of that aggregate. */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir).select(
      $"l_returnflag".as("grp"), $"l_linestatus".as("s"),
      floor($"l_extendedprice" * 100 + 0.5).cast("long").as("y"))
    val m = base.groupBy($"grp", $"s")
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
        sum($"y".cast(dec) * $"y".cast(dec)).as("qy"))
    def vOf(n: org.apache.spark.sql.Column, sy: org.apache.spark.sql.Column,
            qy: org.apache.spark.sql.Column) =
      (n.cast(dec) * qy - sy.cast(dec) * sy.cast(dec)).cast("double") /
        (n.cast(dec) * (n - 1).cast(dec)).cast("double")
    val a = m.filter($"s" === "O").select($"grp", $"n".as("n1"),
      ($"sy".cast("double") / $"n".cast("double")).as("m1"),
      vOf($"n", $"sy", $"qy").as("v1"))
    val b = m.filter($"s" === "F").select($"grp", $"n".as("n2"),
      ($"sy".cast("double") / $"n".cast("double")).as("m2"),
      vOf($"n", $"sy", $"qy").as("v2"))
    val se2 = $"v1" / $"n1" + $"v2" / $"n2"
    a.join(b, Seq("grp"))
      .select($"grp".as("l_returnflag"), $"n1", $"n2",
        halfUp(($"m1" - $"m2") * 100, 0).as("mean_diff_x100"),
        halfUp(($"m1" - $"m2") / sqrt(se2), 4).as("t_stat"),
        halfUp(se2 * se2 /
          (($"v1" / $"n1") * ($"v1" / $"n1") / ($"n1" - 1) +
           ($"v2" / $"n2") * ($"v2" / $"n2") / ($"n2" - 1)), 2).as("df"))
      .orderBy("l_returnflag")
  }

  private val welchTTestOracle =
    """WITH base AS (
      |  SELECT l_returnflag AS grp, l_linestatus AS s,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT grp, s, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS qy
      |  FROM base GROUP BY grp, s),
      |w AS (
      |  SELECT a.grp, a.n AS n1, b.n AS n2,
      |         CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE) AS m1,
      |         CAST(b.sy AS DOUBLE) / CAST(b.n AS DOUBLE) AS m2,
      |         CAST(CAST(a.n AS HUGEINT) * a.qy - CAST(a.sy AS HUGEINT) * CAST(a.sy AS HUGEINT) AS DOUBLE)
      |           / CAST(CAST(a.n AS HUGEINT) * CAST(a.n - 1 AS HUGEINT) AS DOUBLE) AS v1,
      |         CAST(CAST(b.n AS HUGEINT) * b.qy - CAST(b.sy AS HUGEINT) * CAST(b.sy AS HUGEINT) AS DOUBLE)
      |           / CAST(CAST(b.n AS HUGEINT) * CAST(b.n - 1 AS HUGEINT) AS DOUBLE) AS v2
      |  FROM m a JOIN m b ON a.grp = b.grp AND a.s = 'O' AND b.s = 'F')
      |SELECT grp AS l_returnflag, n1, n2,
      |       floor((m1 - m2) * 100 + 0.5) AS mean_diff_x100,
      |       floor(((m1 - m2) / sqrt(v1 / n1 + v2 / n2)) * 10000 + 0.5) / 10000.0 AS t_stat,
      |       floor(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
      |              / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))) * 100 + 0.5) / 100.0 AS df
      |FROM w ORDER BY l_returnflag""".stripMargin

  /** The (nation, month, count) order series shared by q76/q78's shape:
    * one aggregated pass over orders⋈customer⋈nation (both dims are
    * broadcast joins; the group-by is the only shuffle). */
  private def monthlySeries(spark: SparkSession, dir: String,
                            value: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
    value(o)
  }

  /** q76: Mann-Kendall trend test — per nation, is the monthly order
    * count trending? S = Σ_{i<j} sign(x_j − x_i) and the tie-corrected
    * variance (×18 to stay integral) are exact integers; only the final
    * z-score divides/sqrts. Scale: the O(m²) pair join runs on the
    * 25×~80-row MONTHLY AGGREGATE (≤3.2k pairs/nation), never the raw
    * orders table — the classic trick that makes pairwise statistics
    * feasible at 100 TB. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Reuse point (r8 pattern): the tiny narrow series aggregate has FOUR
    // consumers (both self-join sides, n, ties) — an explicit hash
    // repartition on the key makes the four subtrees identical so one
    // exchange feeds all of them (ReusedExchange / AQE stage cache)
    // instead of four re-scans of orders⋈customer⋈nation.
    val series = monthlySeries(spark, dir, o => o
      .groupBy($"n_name", trunc($"o_orderdate", "month").as("m"))
      .agg(count(lit(1)).as("x")))
      .repartition($"n_name")
    val s = series.as("a").join(series.as("b"),
        $"a.n_name" === $"b.n_name" && $"a.m" < $"b.m")
      .groupBy($"a.n_name".as("n_name"))
      .agg(sum(signum($"b.x" - $"a.x").cast("long")).as("s_stat"))
    val n = series.groupBy($"n_name").agg(count(lit(1)).as("n_months"))
    val ties = series.groupBy($"n_name", $"x").agg(count(lit(1)).as("t"))
      .groupBy($"n_name")
      .agg(sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)).as("tie_adj"))
    val var18 = $"n_months" * ($"n_months" - 1) *
      (lit(2) * $"n_months" + 5) - $"tie_adj"
    n.join(s, Seq("n_name")).join(ties, Seq("n_name"))
      .select($"n_name", $"n_months", $"s_stat", var18.as("var18"),
        when($"s_stat" === 0, lit(0.0)).otherwise(
          halfUp(($"s_stat" - when($"s_stat" > 0, 1).otherwise(-1)) /
            sqrt(var18.cast("double") / 18.0), 4)).as("z"))
      .orderBy("n_name")
  }

  private val mannKendallOracle =
    """WITH series AS (
      |  SELECT n_name, date_trunc('month', o_orderdate) AS m, count(*) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, date_trunc('month', o_orderdate)),
      |s AS (
      |  SELECT a.n_name,
      |         CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM series a JOIN series b ON a.n_name = b.n_name AND a.m < b.m
      |  GROUP BY a.n_name),
      |n AS (SELECT n_name, count(*) AS n_months FROM series GROUP BY n_name),
      |ties AS (
      |  SELECT n_name, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj
      |  FROM (SELECT n_name, x, count(*) AS t FROM series GROUP BY n_name, x)
      |  GROUP BY n_name)
      |SELECT n.n_name, n.n_months, s.s_stat,
      |       n.n_months * (n.n_months - 1) * (2 * n.n_months + 5) - ties.tie_adj AS var18,
      |       CASE WHEN s.s_stat = 0 THEN 0.0
      |            ELSE floor(((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1 ELSE -1 END)
      |                 / sqrt(CAST(n.n_months * (n.n_months - 1) * (2 * n.n_months + 5) - ties.tie_adj AS DOUBLE) / 18.0)) * 10000 + 0.5) / 10000.0 END AS z
      |FROM n JOIN s USING (n_name) JOIN ties USING (n_name)
      |ORDER BY n_name""".stripMargin

  /** q77: Spearman rank correlation — per nation, do customers with
    * higher account balances place more orders? Average ranks with ties
    * are kept integral as 2·rank: 2·rank() + count(ties) − 1 (min-rank
    * window + tie-count window, both engines' rank() semantics agree);
    * then Pearson on the doubled ranks from exact decimal moments —
    * n·Σxy − Σx·Σy over sqrt of the exact product of the two variance
    * numerators. Scale: two window passes over customers partitioned by
    * nation + one aggregate; the rank windows are the same
    * partition-sort shape q07/q23 already run. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ocnt = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
    val cust = Tables.customer(spark, dir)
      .join(ocnt, $"c_custkey" === $"o_custkey", "left")
      .select($"c_nationkey",
        floor($"c_acctbal" * 100 + 0.5).cast("long").as("bal"),
        coalesce($"cnt", lit(0L)).as("ocnt"))
    def rank2(v: String) =
      lit(2) * rank().over(Window.partitionBy($"c_nationkey").orderBy(col(v))) +
        count(lit(1)).over(Window.partitionBy($"c_nationkey", col(v))) - 1
    val ranked = cust.select($"c_nationkey",
      rank2("bal").as("rx"), rank2("ocnt").as("ry"))
    val m = ranked.groupBy($"c_nationkey").agg(count(lit(1)).as("n"),
      sum($"rx").cast(dec).as("sx"), sum($"ry").cast(dec).as("sy"),
      sum($"rx".cast(dec) * $"ry".cast(dec)).as("sxy"),
      sum($"rx".cast(dec) * $"rx".cast(dec)).as("sxx"),
      sum($"ry".cast(dec) * $"ry".cast(dec)).as("syy"))
    m.join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"n".as("n_cust"),
        halfUp(($"n".cast(dec) * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt((($"n".cast(dec) * $"sxx" - $"sx" * $"sx") *
                ($"n".cast(dec) * $"syy" - $"sy" * $"sy")).cast("double")), 4)
          .as("rho"))
      .orderBy("n_name")
  }

  private val spearmanOracle =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
      |         COALESCE(o.cnt, 0) AS ocnt
      |  FROM customer LEFT JOIN (SELECT o_custkey, count(*) AS cnt
      |                           FROM orders GROUP BY o_custkey) o
      |    ON c_custkey = o_custkey),
      |ranked AS (
      |  SELECT c_nationkey,
      |         2 * rank() OVER (PARTITION BY c_nationkey ORDER BY bal)
      |           + count(*) OVER (PARTITION BY c_nationkey, bal) - 1 AS rx,
      |         2 * rank() OVER (PARTITION BY c_nationkey ORDER BY ocnt)
      |           + count(*) OVER (PARTITION BY c_nationkey, ocnt) - 1 AS ry
      |  FROM cust),
      |m AS (
      |  SELECT c_nationkey, count(*) AS n,
      |         CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
      |         sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy,
      |         sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
      |         sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy
      |  FROM ranked GROUP BY c_nationkey)
      |SELECT n_name, n AS n_cust,
      |       floor((CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
      |              / sqrt(CAST((CAST(n AS HUGEINT) * sxx - sx * sx)
      |                          * (CAST(n AS HUGEINT) * syy - sy * sy) AS DOUBLE))) * 10000 + 0.5) / 10000.0 AS rho
      |FROM m JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** q78: Hampel filter — per nation, monthly revenue (exact cents) with
    * a centered rolling-7 median and MAD; a month is an outlier when
    * |x − med| > 3·1.4826·MAD, evaluated as the EXACT integer predicate
    * |x − med|·10000 > 44478·MAD (no float epsilon). Median and MAD of 7
    * exact longs are order statistics (sorted-array element 4), identical
    * in both engines; incomplete edge windows are excluded so the count
    * is always odd. Scale: the rolling window runs over the ~80-row
    * monthly aggregate per nation — a 7-element collect per row of a
    * TINY frame, not the raw table. */
  def hampel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val series = monthlySeries(spark, dir, o => o
      .groupBy($"n_name", trunc($"o_orderdate", "month").as("m"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("rev")))
    val w7 = Window.partitionBy($"n_name").orderBy($"m").rowsBetween(-3, 3)
    val win = series.select($"n_name", $"m", $"rev",
      sort_array(collect_list($"rev").over(w7)).as("w"),
      count(lit(1)).over(w7).as("wn"))
    win.filter($"wn" === 7)
      .withColumn("med", element_at($"w", 4))
      .withColumn("mad",
        element_at(sort_array(transform($"w", y => abs(y - $"med"))), 4))
      .select($"n_name", date_format($"m", "yyyy-MM-dd").as("month"),
        $"rev", $"med", $"mad",
        (abs($"rev" - $"med") * 10000 > lit(HampelScaled) * $"mad")
          .cast("int").as("is_outlier"))
      .orderBy("n_name", "month")
  }

  private val hampelOracle =
    s"""WITH series AS (
       |  SELECT n_name, date_trunc('month', o_orderdate) AS m,
       |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name, date_trunc('month', o_orderdate)),
       |win AS (
       |  SELECT n_name, m, rev,
       |         list_sort(list(rev) OVER (PARTITION BY n_name ORDER BY m
       |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS w,
       |         count(*) OVER (PARTITION BY n_name ORDER BY m
       |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
       |  FROM series),
       |scored AS (
       |  SELECT n_name, m, rev, w[4] AS med,
       |         list_sort(list_transform(w, y -> abs(y - w[4])))[4] AS mad
       |  FROM win WHERE wn = 7)
       |SELECT n_name, strftime(CAST(m AS DATE), '%Y-%m-%d') AS month, rev, med, mad,
       |       CASE WHEN abs(rev - med) * 10000 > $HampelScaled * mad THEN 1 ELSE 0 END AS is_outlier
       |FROM scored ORDER BY n_name, month""".stripMargin

  /** q79: Mann-Whitney U — the nonparametric counterpart of q75: per
    * return flag, are open-vs-finished discount distributions shifted?
    * Combined-sample average ranks stay integral as 2·rank (the q77
    * trick); U×2 = R1×2 − 2·n1(n1+1)/2 is exact; the tie-corrected
    * variance is an exact decimal ratio (Σt³−t correction) divided and
    * sqrt'ed once. Scale: one rank window over the combined sample (the
    * q07/q23 partition-sort shape), one tie aggregate — both on the scan,
    * no pairwise work at all (the rank-sum identity is what makes U
    * feasible where naive pair counting is O(n²)). */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mannWhitneyStat(Tables.lineitem(spark, dir).select(
      $"l_returnflag".as("grp"), $"l_linestatus".as("s"),
      floor($"l_discount" * 100 + 0.5).cast("long").as("y")))
      .select($"grp".as("l_returnflag"), $"n1", $"n2", $"u1_x2", $"z")
      .orderBy("l_returnflag")
  }

  /** The U core over ANY (grp: string, s: 'O'|'F', y: long) frame —
    * factored out so PropertySpec can race it against brute-force pair
    * counting (U1×2 = 2·wins + ties) on random fixtures. */
  private[graft] def mannWhitneyStat(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val ranked = base.select($"grp", $"s",
      (lit(2) * rank().over(Window.partitionBy($"grp").orderBy($"y")) +
        count(lit(1)).over(Window.partitionBy($"grp", $"y")) - 1).as("r2"))
    val agg = ranked.groupBy($"grp").agg(
      sum(when($"s" === "O", $"r2")).cast(dec).as("r1x2"),
      sum(when($"s" === "O", 1).otherwise(0)).cast(dec).as("n1"),
      sum(when($"s" === "F", 1).otherwise(0)).cast(dec).as("n2"))
    val ties = base.groupBy($"grp", $"y").agg(count(lit(1)).as("t"))
      .groupBy($"grp")
      .agg(sum($"t".cast(dec) * $"t" * $"t" - $"t").as("tie3"))
    val nTot = $"n1" + $"n2"
    agg.join(ties, Seq("grp"))
      .select($"grp",
        $"n1".cast("long").as("n1"), $"n2".cast("long").as("n2"),
        ($"r1x2" - $"n1" * ($"n1" + 1)).cast("long").as("u1_x2"),
        halfUp((($"r1x2" - $"n1" * ($"n1" + 1)).cast("double") -
            ($"n1" * $"n2").cast("double")) /
          (lit(2.0) * sqrt(($"n1" * $"n2" *
              ((nTot + 1) * nTot * (nTot - 1) - $"tie3")).cast("double") /
            (lit(12.0) * (nTot * (nTot - 1)).cast("double")))), 4).as("z"))
  }

  private val mannWhitneyOracle =
    """WITH base AS (
      |  SELECT l_returnflag AS grp, l_linestatus AS s,
      |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |ranked AS (
      |  SELECT grp, s,
      |         2 * rank() OVER (PARTITION BY grp ORDER BY y)
      |           + count(*) OVER (PARTITION BY grp, y) - 1 AS r2
      |  FROM base),
      |agg AS (
      |  SELECT grp,
      |         CAST(sum(CASE WHEN s = 'O' THEN r2 END) AS HUGEINT) AS r1x2,
      |         CAST(sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
      |         CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS HUGEINT) AS n2
      |  FROM ranked GROUP BY grp),
      |ties AS (
      |  SELECT grp, CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie3
      |  FROM (SELECT grp, y, count(*) AS t FROM base GROUP BY grp, y) GROUP BY grp)
      |SELECT grp AS l_returnflag,
      |       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
      |       floor(((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
      |         / (2.0 * sqrt(CAST(n1 * n2 * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tie3) AS DOUBLE)
      |                       / (12.0 * CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))))) * 10000 + 0.5) / 10000.0 AS z
      |FROM agg JOIN ties USING (grp) ORDER BY l_returnflag""".stripMargin

  /** q80: Kolmogorov-Smirnov two-sample test — per return flag, the
    * maximum ECDF gap between open and finished extended-price
    * distributions, kept EXACT: D's numerator max|n2·F1 − n1·F2| is an
    * integer maximum over the merged value spine (cumulative counts per
    * sample via one window), divided by n1·n2 once at the end. Scale:
    * grouping to the distinct-value spine first means the cumulative
    * window runs over |distinct values| rows, not raw rows; one sort per
    * group — the same shape as the exact-percentile rank-join family. */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ksStat(Tables.lineitem(spark, dir).select(
      $"l_returnflag".as("grp"), $"l_linestatus".as("s"),
      floor($"l_extendedprice" * 100 + 0.5).cast("long").as("y")))
      .select($"grp".as("l_returnflag"), $"n1", $"n2", $"d_num", $"d_stat")
      .orderBy("l_returnflag")
  }

  /** The KS core over ANY (grp: string, s: 'O'|'F', y: long) frame —
    * factored out so PropertySpec can race the windowed ECDF-gap maximum
    * against a brute-force per-value scan on random fixtures. */
  private[graft] def ksStat(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val n = base.groupBy($"grp").agg(
      sum(when($"s" === "O", 1L).otherwise(0L)).as("n1"),
      sum(when($"s" === "F", 1L).otherwise(0L)).as("n2"))
    val pts = base.groupBy($"grp", $"y").agg(
      sum(when($"s" === "O", 1L).otherwise(0L)).as("c1"),
      sum(when($"s" === "F", 1L).otherwise(0L)).as("c2"))
    val wCum = Window.partitionBy($"grp").orderBy($"y")
    val cum = pts.select($"grp",
      sum($"c1").over(wCum).as("f1"), sum($"c2").over(wCum).as("f2"))
    cum.join(broadcast(n), Seq("grp"))
      .groupBy($"grp")
      .agg(max(abs($"n2" * $"f1" - $"n1" * $"f2")).as("d_num"),
        first($"n1").as("n1"), first($"n2").as("n2"))
      .select($"grp", $"n1", $"n2", $"d_num",
        halfUp($"d_num".cast("double") / ($"n1" * $"n2").cast("double"), 6)
          .as("d_stat"))
  }

  private val ksTestOracle =
    """WITH base AS (
      |  SELECT l_returnflag AS grp, l_linestatus AS s,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |n AS (SELECT grp,
      |        CAST(sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |        CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |      FROM base GROUP BY grp),
      |pts AS (
      |  SELECT grp, y,
      |        CAST(sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |        CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM base GROUP BY grp, y),
      |cum AS (
      |  SELECT grp, y,
      |         CAST(sum(c1) OVER (PARTITION BY grp ORDER BY y) AS BIGINT) AS f1,
      |         CAST(sum(c2) OVER (PARTITION BY grp ORDER BY y) AS BIGINT) AS f2
      |  FROM pts),
      |d AS (
      |  SELECT cum.grp, max(abs(n.n2 * cum.f1 - n.n1 * cum.f2)) AS d_num,
      |         first(n.n1) AS n1, first(n.n2) AS n2
      |  FROM cum JOIN n ON cum.grp = n.grp GROUP BY cum.grp)
      |SELECT grp AS l_returnflag, n1, n2, CAST(d_num AS BIGINT) AS d_num,
      |       floor((CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS d_stat
      |FROM d ORDER BY l_returnflag""".stripMargin

  /** q82: Theil–Sen robust trend estimator — per order priority, the
    * median of all pairwise slopes (y_j − y_i)/(x_j − x_i) over the
    * monthly revenue series, plus the median-residual intercept. The
    * estimator has a 29.3% breakdown point, so unlike q70's OLS a few
    * wild months cannot drag the fitted trend.
    *
    * Cross-engine exactness: x is an integer month index, y exact cents;
    * each pairwise slope is ONE IEEE division of exact longs (correctly
    * rounded — bit-identical in Spark and DuckDB), the median is an
    * order-statistic pick (row_number over a total order with integer
    * tie-breaks, never a sum), and the two-middle average is a single
    * commutative double add. No libm, no accumulation-order dependence.
    *
    * Scale: the pairwise self-join runs on the (grp, month) AGGREGATE —
    * ≤ ~80 rows per group, ~3.2k pairs — never on raw orders; the raw
    * scan contributes exactly one partial-aggregated pass. At 1000× data
    * the aggregate frame is unchanged (the calendar doesn't grow with
    * SF beyond its 7-year span), so the quadratic stage is O(1). */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.orders(spark, dir)
      .select($"o_orderpriority".as("grp"),
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long").as("x"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("yc"))
      .groupBy($"grp", $"x").agg(sum($"yc").as("y"))
    val a = pts.select($"grp", $"x".as("x1"), $"y".as("y1"))
    val b = pts.select($"grp", $"x".as("x2"), $"y".as("y2"))
    val pairs = a.join(b, Seq("grp")).filter($"x1" < $"x2")
      .select($"grp", ($"y2" - $"y1").as("dy"), ($"x2" - $"x1").as("dx"),
        $"x1",
        (($"y2" - $"y1").cast("double") / ($"x2" - $"x1").cast("double"))
          .as("slope"))
    val wS = Window.partitionBy($"grp").orderBy($"slope", $"dy", $"dx", $"x1")
    val ranked = pairs.select($"grp", $"slope",
      row_number().over(wS).as("rn"),
      count(lit(1)).over(Window.partitionBy($"grp")).as("np"))
    val med = ranked
      .filter($"rn" === floor(($"np" + 1) / 2) || $"rn" === floor(($"np" + 2) / 2))
      .groupBy($"grp").agg(avg($"slope").as("m"), first($"np").as("n_pairs"))
    val wR = Window.partitionBy($"grp").orderBy($"r", $"x")
    val resid = pts.join(med, Seq("grp"))
      .select($"grp", $"x", $"m", $"n_pairs",
        ($"y".cast("double") - $"m" * $"x".cast("double")).as("r"))
    val interc = resid
      .withColumn("rn", row_number().over(wR))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"grp")))
      .filter($"rn" === floor(($"n" + 1) / 2) || $"rn" === floor(($"n" + 2) / 2))
      .groupBy($"grp").agg(avg($"r").as("b0"), first($"n").as("n_points"),
        first($"m").as("m"), first($"n_pairs").as("n_pairs"))
    interc.select($"grp".as("o_orderpriority"),
      $"n_points".cast("long").as("n_points"),
      $"n_pairs".cast("long").as("n_pairs"),
      halfUp($"m", 6).as("ts_slope_cents_month"),
      halfUp($"b0", 2).as("ts_intercept_cents"))
      .orderBy("o_orderpriority")
  }

  private val theilSenOracle =
    """WITH pts AS (
      |  SELECT o_orderpriority AS grp,
      |         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.grp, b.y - a.y AS dy, b.x - a.x AS dx, a.x AS x1,
      |         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM pts a JOIN pts b ON a.grp = b.grp AND a.x < b.x),
      |ranked AS (
      |  SELECT grp, slope,
      |         row_number() OVER (PARTITION BY grp ORDER BY slope, dy, dx, x1) AS rn,
      |         count(*) OVER (PARTITION BY grp) AS np
      |  FROM pairs),
      |med AS (
      |  SELECT grp, avg(slope) AS m, first(np) AS n_pairs FROM ranked
      |  WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2 GROUP BY grp),
      |resid AS (
      |  SELECT pts.grp, pts.x, med.m, med.n_pairs,
      |         CAST(pts.y AS DOUBLE) - med.m * CAST(pts.x AS DOUBLE) AS r
      |  FROM pts JOIN med ON pts.grp = med.grp),
      |rr AS (
      |  SELECT grp, m, n_pairs, r,
      |         row_number() OVER (PARTITION BY grp ORDER BY r, x) AS rn,
      |         count(*) OVER (PARTITION BY grp) AS n
      |  FROM resid),
      |ic AS (
      |  SELECT grp, avg(r) AS b0, first(n) AS n_points, first(m) AS m,
      |         first(n_pairs) AS n_pairs
      |  FROM rr WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY grp)
      |SELECT grp AS o_orderpriority,
      |       CAST(n_points AS BIGINT) AS n_points,
      |       CAST(n_pairs AS BIGINT) AS n_pairs,
      |       floor(m * 1000000 + 0.5) / 1000000.0 AS ts_slope_cents_month,
      |       floor(b0 * 100 + 0.5) / 100.0 AS ts_intercept_cents
      |FROM ic ORDER BY o_orderpriority""".stripMargin

  /** Equi-depth bucket count. */
  private val EqDepthBuckets = 8

  /** q86: equi-depth histogram — the quantile-boundary statistics an
    * optimizer keeps per column. Orders are ntile'd into 8 equal-count
    * buckets under the TOTAL order (cents, orderkey) — the unique-key
    * tie-break makes the assignment deterministic in both engines — and
    * each bucket reports its count and exact cents boundaries (min/max
    * are order statistics, not sums, so no float accumulation exists at
    * all). Scale: a global sort of (cents, key) pairs — the same cost as
    * any quantile computation; at 100 TB this is the one legitimately
    * total-ordered pass, and it runs on the 2-column projection, not the
    * full row. */
  def equiDepth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Tables.orders(spark, dir)
      .select($"o_orderkey", floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
    val w = Window.orderBy($"c", $"o_orderkey")
    cents.withColumn("bucket", ntile(EqDepthBuckets).over(w))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        halfUp(min($"c").cast("double") / 100.0, 2).as("lo"),
        halfUp(max($"c").cast("double") / 100.0, 2).as("hi"))
      .orderBy("bucket")
  }

  private val equiDepthOracle =
    s"""WITH cents AS (
       |  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders),
       |b AS (SELECT c, ntile($EqDepthBuckets) OVER (ORDER BY c, o_orderkey) AS bucket FROM cents)
       |SELECT bucket, count(*) AS n,
       |       floor((CAST(min(c) AS DOUBLE) / 100.0) * 100 + 0.5) / 100.0 AS lo,
       |       floor((CAST(max(c) AS DOUBLE) / 100.0) * 100 + 0.5) / 100.0 AS hi
       |FROM b GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** q87: Wald–Wolfowitz runs test — is daily revenue's above/below-median
    * sequence random, or does it cluster (regime persistence)? The median
    * is the exact lower median of the daily-cents series (order statistic,
    * no averaging); days equal to it are excluded per the classical test.
    * Runs R = 1 + sign changes (integer window count); E[R] and Var[R]
    * come from the exact integers n1, n2 (2·n1·n2 ≈ 3e6 and its products
    * ≈ 8e12 fit long at sf0.1), each converted to double once; z uses
    * IEEE-exact sqrt. Scale: the scan aggregates to the ~2.4k-day series;
    * the median, lag pass, and scalar math all run on that tiny frame. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
    val runs = runsCore(daily)
    runs.select($"n1", $"n2", $"r".as("runs"),
        halfUp(
          ($"r".cast("double")
            - (lit(1.0) + lit(2.0) * ($"n1" * $"n2").cast("double")
                / ($"n1" + $"n2").cast("double")))
            / sqrt((lit(2L) * $"n1" * $"n2"
                * (lit(2L) * $"n1" * $"n2" - ($"n1" + $"n2"))).cast("double")
              / (($"n1" + $"n2") * ($"n1" + $"n2")
                * ($"n1" + $"n2" - 1L)).cast("double")), 4).as("z"))
      .orderBy("n1")
  }

  /** The runs-statistic core over any (di: long, y: long) series: lower
    * median by the (y, di) total order, days equal to it excluded, and
    * one row (n1, n2, r) with r = 1 + sign changes in di order —
    * property-tested against a sequential scan (PropertySpec). */
  private[graft] def runsCore(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    val ranked = daily
      .withColumn("rn", row_number().over(Window.orderBy($"y", $"di")))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(lit(1))))
    val med = ranked.filter($"rn" === call_function("div", $"nd" + 1, lit(2)))
      .select($"y".as("m"))
    val signed = daily.crossJoin(broadcast(med))
      .filter($"y" =!= $"m")
      .select($"di", ($"y" > $"m").cast("long").as("sgn"))
    signed
      .withColumn("prev", lag($"sgn", 1).over(Window.orderBy($"di")))
      .agg(sum(when($"prev".isNull || $"prev" =!= $"sgn", 1L).otherwise(0L))
        .as("r"),
        sum($"sgn").as("n1"),
        sum(lit(1L) - $"sgn").as("n2"))
  }

  private val runsTestOracle =
    """WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT y, row_number() OVER (ORDER BY y, di) AS rn, count(*) OVER () AS nd
      |  FROM daily),
      |med AS (SELECT y AS m FROM ranked WHERE rn = (nd + 1) // 2),
      |signed AS (
      |  SELECT di, CASE WHEN y > m THEN 1 ELSE 0 END AS sgn
      |  FROM daily, med WHERE y <> m),
      |lagged AS (
      |  SELECT sgn, lag(sgn) OVER (ORDER BY di) AS prev FROM signed),
      |agg AS (
      |  SELECT sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS r,
      |         sum(sgn) AS n1, sum(1 - sgn) AS n2
      |  FROM lagged)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(r AS BIGINT) AS runs,
      |       floor(((CAST(r AS DOUBLE)
      |               - (1.0 + 2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)))
      |              / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS DOUBLE)
      |                     / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))
      |             * 10000 + 0.5) / 10000.0 AS z
      |FROM agg
      |ORDER BY n1""".stripMargin

  /** Hill estimator order-statistic count. */
  private val HillK = 200

  /** q90: Hill tail-index estimator — the heavy-tail diagnostic behind
    * q63's Pareto deciles: over the top-[[HillK]] order values (exact
    * cents, orderkey tie-break), mean log-excess over the (k+1)-th
    * largest as threshold; α = 1/mean is the tail exponent (α ≤ ~2 ⇒
    * infinite-variance tail). Each ln takes a ratio of two exact
    * integers, is quantized half-up to 1e-6 fixed point, and the mean is
    * an order-free integer sum (the x56 recipe, same documented libm
    * boundary margin). Scale: the global sort runs on the 2-column
    * (cents, key) projection and stops at k+1 rows (WindowGroupLimit
    * prunes per partition before the exchange); the log math touches
    * k rows. */
  def hillTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = Tables.orders(spark, dir)
      .select($"o_orderkey", floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
      .withColumn("rk", row_number().over(Window.orderBy($"c".desc, $"o_orderkey")))
      .filter($"rk" <= HillK + 1)
    val thr = ranked.filter($"rk" === HillK + 1).select($"c".as("thr"))
    ranked.filter($"rk" <= HillK).crossJoin(broadcast(thr))
      .select($"thr",
        floor(log($"c".cast("double") / $"thr".cast("double")) * 1e6 + 0.5)
          .cast("long").as("l_fp"))
      .groupBy($"thr").agg(count(lit(1)).as("k"), sum($"l_fp").as("s_fp"))
      .select($"k", ($"thr".cast("double") / 100.0).as("thr_price"),
        halfUp($"s_fp".cast("double") / ($"k".cast("double") * 1e6), 6)
          .as("mean_log_excess"),
        halfUp(($"k".cast("double") * 1e6) / $"s_fp".cast("double"), 4)
          .as("alpha"))
      .orderBy("k")
  }

  private val hillTailOracle =
    s"""WITH ranked AS (
       |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
       |         row_number() OVER (ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC, o_orderkey) AS rk
       |  FROM orders),
       |thr AS (SELECT c AS thr FROM ranked WHERE rk = ${HillK + 1}),
       |l AS (
       |  SELECT thr,
       |         CAST(floor(ln(CAST(c AS DOUBLE) / CAST(thr AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS l_fp
       |  FROM ranked, thr WHERE rk <= $HillK),
       |a AS (SELECT thr, count(*) AS k, sum(l_fp) AS s_fp FROM l GROUP BY thr)
       |SELECT k, CAST(thr AS DOUBLE) / 100.0 AS thr_price,
       |       floor((CAST(s_fp AS DOUBLE) / (CAST(k AS DOUBLE) * 1000000.0)) * 1000000 + 0.5) / 1000000.0 AS mean_log_excess,
       |       floor(((CAST(k AS DOUBLE) * 1000000.0) / CAST(s_fp AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS alpha
       |FROM a
       |ORDER BY k""".stripMargin

  /* Rank-based feature normalization
   * (x195), inverse-propensity recovery over the x188 thinning (x196),
   * and the right-to-be-forgotten cascade report (q112).
   * Elsewhere: x196 (CurationQueries); q112 (RelationalQueries).
   */

  // ---------------------------------------------------------------- x195

  /** x195: quantile (rank) normalization of a feature — map each value
    * to its corpus percent-rank, the transform that makes any two
    * features comparable regardless of their marginal distributions
    * (the rank trick behind quantile-normalized features and
    * copula-style preprocessing). Computed the DISTRIBUTED way: one
    * histogram over distinct values, one prefix-sum window over that
    * (vocab-bounded) histogram — min-rank semantics for ties — then a
    * broadcast join back; no global sort of the data itself. The
    * output certifies the defining property: per language, the
    * normalized deciles are near-uniform even though raw lengths are
    * anything but.
    *
    * Scale: the window runs over DISTINCT feature values (hundreds),
    * not rows; the data-sized work is one groupBy and one map-side
    * broadcast join — at 100 TB the rank table is still tiny. */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"lang",
      $"n_chars".cast("long").as("x"))
    val hist = docs.groupBy($"x").agg(count(lit(1)).as("c"))
    val w = Window.orderBy($"x").rowsBetween(Window.unboundedPreceding, -1)
    val ranks = hist.select($"x",
      (coalesce(sum($"c").over(w), lit(0L)) + 1L).as("rk"))
    val n = docs.agg(count(lit(1)).as("n"))
    val normalized = docs.join(broadcast(ranks), "x")
      .crossJoin(broadcast(n))
      .select($"lang",
        least(expr("(((rk - 1) * 1000000) div (n - 1)) div 100000"), lit(9L))
          .as("decile"))
    normalized.groupBy($"lang", $"decile")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"decile")
  }

  private val quantileOracle =
    """WITH docs AS (SELECT lang, CAST(n_chars AS BIGINT) AS x FROM documents),
      |hist AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM docs GROUP BY x),
      |ranks AS (SELECT x,
      |            CAST(COALESCE(sum(c) OVER (ORDER BY x
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
      |              AS BIGINT) AS rk
      |          FROM hist),
      |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
      |norm AS (SELECT lang,
      |           least((((rk - 1) * 1000000) // (n - 1)) // 100000, 9) AS decile
      |         FROM docs JOIN ranks USING (x), n0)
      |SELECT lang, CAST(decile AS BIGINT) AS decile,
      |       CAST(count(*) AS BIGINT) AS n_docs
      |FROM norm GROUP BY lang, decile
      |ORDER BY lang, decile""".stripMargin

  // ---------------------------------------------------------------- x201

  /** x201: one-way ANOVA — does mean order value differ across the five
    * order priorities? Per-group exact integer moments (whole-dollar
    * units so Σx² stays in int64 past sf100); the within/between sums
    * of squares quantize to integers PER GROUP before the k-row sum
    * (a raw double sum over groups would be association-order-
    * dependent), then F = (SSB/df1)/(SSW/df2) and η² = SSB/SST in one
    * spelled-out double formula. Output: one row per priority with its
    * mean, plus the replicated F / η² headline (the x199 pattern).
    *
    * Scale: a single map-side-combined groupBy over the fact table to
    * 5 moment rows; everything else is constant-size. */
  def anova(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.orders(spark, dir)
      .select($"o_orderpriority".as("priority"),
        floor($"o_totalprice" + 0.5).cast("long").as("x"))
      .groupBy($"priority")
      .agg(count(lit(1)).as("ng"), sum($"x").as("sxg"),
        sum($"x" * $"x").as("sxxg"))
    val parts = m.select($"priority", $"ng", $"sxg", $"sxxg",
      expr("CAST(floor(CAST(sxxg AS DOUBLE) - CAST(sxg AS DOUBLE)" +
        " * CAST(sxg AS DOUBLE) / CAST(ng AS DOUBLE) + 0.5) AS BIGINT)")
        .as("ssw_g"),
      expr("CAST(floor(CAST(sxg AS DOUBLE) * CAST(sxg AS DOUBLE)" +
        " / CAST(ng AS DOUBLE) + 0.5) AS BIGINT)").as("sq_g"))
    val tot = parts.agg(
      count(lit(1)).as("k"), sum($"ng").as("n"), sum($"sxg").as("sx"),
      sum($"ssw_g").as("ssw"), sum($"sq_g").as("sq"))
    parts.crossJoin(broadcast(tot))
      .withColumn("ssb",
        expr("CAST(floor(CAST(sq AS DOUBLE) - CAST(sx AS DOUBLE)" +
          " * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)"))
      .select($"priority", $"ng",
        expr("CAST(floor(CAST(sxg AS DOUBLE) / CAST(ng AS DOUBLE) * 100 + 0.5)" +
          " AS BIGINT)").as("mean_d100"),
        $"ssb", $"ssw",
        expr("CAST(k - 1 AS BIGINT)").as("df1"),
        expr("CAST(n - k AS BIGINT)").as("df2"),
        expr("CAST(floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))" +
          " / (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))" +
          " * 10000 + 0.5) AS DOUBLE) / 10000.0").as("f"),
        expr("CAST(floor(CAST(ssb AS DOUBLE)" +
          " / (CAST(ssb AS DOUBLE) + CAST(ssw AS DOUBLE))" +
          " * 1000000 + 0.5) AS BIGINT)").as("eta2_fp"))
      .orderBy($"priority")
  }

  private val anovaOracle =
    """WITH m AS (
      |  SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS ng,
      |         CAST(sum(x) AS BIGINT) AS sxg, CAST(sum(x * x) AS BIGINT) AS sxxg
      |  FROM (SELECT o_orderpriority,
      |               CAST(floor(o_totalprice + 0.5) AS BIGINT) AS x FROM orders) t
      |  GROUP BY o_orderpriority),
      |parts AS (
      |  SELECT priority, ng, sxg, sxxg,
      |         CAST(floor(CAST(sxxg AS DOUBLE) - CAST(sxg AS DOUBLE)
      |           * CAST(sxg AS DOUBLE) / CAST(ng AS DOUBLE) + 0.5) AS BIGINT) AS ssw_g,
      |         CAST(floor(CAST(sxg AS DOUBLE) * CAST(sxg AS DOUBLE)
      |           / CAST(ng AS DOUBLE) + 0.5) AS BIGINT) AS sq_g
      |  FROM m),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
      |         CAST(sum(sxg) AS BIGINT) AS sx, CAST(sum(ssw_g) AS BIGINT) AS ssw,
      |         CAST(sum(sq_g) AS BIGINT) AS sq
      |  FROM parts),
      |wb AS (
      |  SELECT *, CAST(floor(CAST(sq AS DOUBLE) - CAST(sx AS DOUBLE)
      |    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS ssb
      |  FROM parts, tot)
      |SELECT priority, ng,
      |       CAST(floor(CAST(sxg AS DOUBLE) / CAST(ng AS DOUBLE) * 100 + 0.5)
      |         AS BIGINT) AS mean_d100,
      |       ssb, ssw,
      |       CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
      |       CAST(floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
      |         / (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))
      |         * 10000 + 0.5) AS DOUBLE) / 10000.0 AS f,
      |       CAST(floor(CAST(ssb AS DOUBLE)
      |         / (CAST(ssb AS DOUBLE) + CAST(ssw AS DOUBLE))
      |         * 1000000 + 0.5) AS BIGINT) AS eta2_fp
      |FROM wb ORDER BY priority""".stripMargin

  /* Monotone calibration, distribution
   * distance, and trend forecasting — isotonic regression via the
   * minimax identity (x204), 1-D Wasserstein drift between two yearly
   * revenue distributions (x205), and a Holt linear-trend backtest
   * (x206).
   * Elsewhere: x206 (TimeSeriesQueries).
   */

  /** Isotonic bin count. */
  private val IsoBins = 12

  // ---------------------------------------------------------------- x204

  /** x204: isotonic regression — calibrate the urgent-order rate
    * against order value so the fitted curve is monotone
    * non-decreasing (the calibration step behind score→probability
    * mapping, where raw bin rates wiggle). Instead of the sequential
    * pool-adjacent-violators stack, this uses the exact minimax
    * identity ŷ_k = max_{i≤k} min_{j≥k} avg(y[i..j]) — every interval
    * average is a ratio of two exact integer prefix-sums quantized to
    * 1e-6 BEFORE the min/max (so the order statistics compare
    * identical integers in both engines). O(B³) pairs over B=12 bins
    * is a constant-size frame.
    *
    * Scale: one ntile over order-grain rows (q62's segment pattern),
    * one 12-row aggregate; the minimax grid never touches data. */
  def isotonic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val binned = Tables.orders(spark, dir).select(
      ntile(IsoBins).over(Window.orderBy($"o_totalprice", $"o_orderkey"))
        .cast("long").as("bin"),
      when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("y"))
    val bins = binned.groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"y").as("ny"))
    val w = Window.orderBy($"bin")
    val pre = bins.select($"bin", $"n", $"ny",
      sum($"n").over(w).as("cn"), sum($"ny").over(w).as("cy"))
      .localCheckpoint(true)
    val lo = pre.select($"bin".as("i"), ($"cn" - $"n").as("cn0"),
      ($"cy" - $"ny").as("cy0"))
    val hi = pre.select($"bin".as("j"), $"cn".as("cn1"), $"cy".as("cy1"))
    val pairs = lo.crossJoin(hi).filter($"i" <= $"j")
      .select($"i", $"j",
        expr("CAST(floor(CAST(cy1 - cy0 AS DOUBLE) / CAST(cn1 - cn0 AS DOUBLE)" +
          " * 1000000 + 0.5) AS BIGINT)").as("avg_fp"))
    val ks = pre.select($"bin".as("k"))
    val fit = ks.join(pairs, $"i" <= $"k" && $"j" >= $"k")
      .groupBy($"k", $"i").agg(min($"avg_fp").as("mn"))
      .groupBy($"k").agg(max($"mn").as("iso_rate_fp"))
    pre.join(fit, $"bin" === $"k")
      .select($"bin", $"n",
        expr("CAST(floor(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)" +
          " * 1000000 + 0.5) AS BIGINT)").as("raw_rate_fp"),
        $"iso_rate_fp")
      .orderBy($"bin")
  }

  private val isotonicOracle =
    s"""WITH binned AS MATERIALIZED (
       |  SELECT CAST(ntile($IsoBins) OVER (ORDER BY o_totalprice, o_orderkey)
       |              AS BIGINT) AS bin,
       |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
       |  FROM orders),
       |bins AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS ny
       |  FROM binned GROUP BY bin),
       |pre AS MATERIALIZED (
       |  SELECT bin, n, ny,
       |         CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
       |         CAST(sum(ny) OVER (ORDER BY bin) AS BIGINT) AS cy
       |  FROM bins),
       |pairs AS (
       |  SELECT l.bin AS i, h.bin AS j,
       |         CAST(floor(CAST(h.cy - (l.cy - l.ny) AS DOUBLE)
       |           / CAST(h.cn - (l.cn - l.n) AS DOUBLE) * 1000000 + 0.5)
       |           AS BIGINT) AS avg_fp
       |  FROM pre l JOIN pre h ON l.bin <= h.bin),
       |fit AS (
       |  SELECT k, CAST(max(mn) AS BIGINT) AS iso_rate_fp FROM (
       |    SELECT p0.bin AS k, p.i, min(p.avg_fp) AS mn
       |    FROM pre p0 JOIN pairs p ON p.i <= p0.bin AND p.j >= p0.bin
       |    GROUP BY p0.bin, p.i) t
       |  GROUP BY k)
       |SELECT pre.bin, pre.n,
       |       CAST(floor(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
       |         * 1000000 + 0.5) AS BIGINT) AS raw_rate_fp,
       |       fit.iso_rate_fp
       |FROM pre JOIN fit ON fit.k = pre.bin
       |ORDER BY pre.bin""".stripMargin

  // ---------------------------------------------------------------- x205

  /** Wasserstein histogram bin width (dollars). */
  private val W1BinDollars = 10000L

  /** x205: 1-D Wasserstein-1 (earth mover's) distance between the 1995
    * and 1996 order-value distributions — the drift metric that, unlike
    * x23's JS divergence, reports HOW FAR mass moved, in dollars. On a
    * shared equal-width grid, W1 = binwidth·Σ_bins |cum(p̂_a − p̂_b)|:
    * shares are exact integer divisions (1e-9 fixed point), the
    * cumulative difference is one window pass over the ≤ ~60-row grid,
    * and the output is the integer Σ plus its dollar rendering.
    *
    * Scale: two filtered histogram aggregates (map-side combined);
    * the grid is value-range-bounded, independent of row count. */
  def wasserstein(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def hist(yr: Int) = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") === yr)
      .groupBy((floor($"o_totalprice" / W1BinDollars)).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val a = hist(1995).toDF("bin", "ca")
    val b = hist(1996).toDF("bin", "cb")
    val grid = a.join(b, Seq("bin"), "full")
      .na.fill(0L, Seq("ca", "cb"))
      .localCheckpoint(true)
    val tots = grid.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
    val shares = grid.crossJoin(broadcast(tots))
      .select($"bin",
        expr("(ca * 1000000000) div na").as("pa_fp"),
        expr("(cb * 1000000000) div nb").as("pb_fp"))
    val w = Window.orderBy($"bin")
    shares
      .select($"bin", sum($"pa_fp" - $"pb_fp").over(w).as("cdiff"))
      .agg(sum(abs($"cdiff")).as("w1_fp"))
      .select($"w1_fp",
        expr(s"CAST(floor(CAST(w1_fp AS DOUBLE) / 1000000000.0" +
          s" * $W1BinDollars * 100 + 0.5) AS BIGINT)").as("w1_cents"))
  }

  private val wassersteinOracle =
    s"""WITH a AS (
       |  SELECT CAST(floor(o_totalprice / $W1BinDollars) AS BIGINT) AS bin,
       |         CAST(count(*) AS BIGINT) AS ca
       |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
       |b AS (
       |  SELECT CAST(floor(o_totalprice / $W1BinDollars) AS BIGINT) AS bin,
       |         CAST(count(*) AS BIGINT) AS cb
       |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
       |grid AS (
       |  SELECT COALESCE(a.bin, b.bin) AS bin, COALESCE(ca, 0) AS ca,
       |         COALESCE(cb, 0) AS cb
       |  FROM a FULL JOIN b ON a.bin = b.bin),
       |tots AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
       |                CAST(sum(cb) AS BIGINT) AS nb FROM grid),
       |shares AS (
       |  SELECT bin, (ca * 1000000000) // na AS pa_fp,
       |         (cb * 1000000000) // nb AS pb_fp
       |  FROM grid, tots),
       |cum AS (
       |  SELECT bin, CAST(sum(pa_fp - pb_fp) OVER (ORDER BY bin) AS BIGINT) AS cdiff
       |  FROM shares)
       |SELECT CAST(sum(abs(cdiff)) AS BIGINT) AS w1_fp,
       |       CAST(floor(CAST(sum(abs(cdiff)) AS DOUBLE) / 1000000000.0
       |         * $W1BinDollars * 100 + 0.5) AS BIGINT) AS w1_cents
       |FROM cum""".stripMargin

  /* Forecast-quantile evaluation (x233,
   * pinball loss) and classic rank agreement (x234, Kendall τ-b) —
   * rounding out q110/x206's point-forecast backtests and x202's
   * top-weighted RBO. */

  /** Evaluated quantiles (per mille). */
  private val PinballTaus = Seq(100L, 500L, 900L)

  // ---------------------------------------------------------------- x233

  /** x233: pinball (quantile) loss — the proper scoring rule for
    * quantile forecasts: predict the τ-quantile of daily revenue from
    * the train years' EXACT rank-based quantile (the q72 recipe), then
    * score every 1998 day with
    * L_τ(y,q) = max(τ·(y−q), (τ−1)·(y−q)). With y, q in whole dollars
    * and τ in per-mille, every loss term is an exact integer — a
    * correctly calibrated τ=0.9 forecast must undershoot on ~10% of
    * days, and the published panel (per τ: total loss, coverage) makes
    * that checkable.
    *
    * Scale: one date-grain aggregate; the train quantile is a rank
    * selection; scoring is a broadcast of 3 scalars over the holdout
    * frame. */
  def pinball(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"), year($"o_orderdate").as("yr"))
      .agg(sum(floor($"o_totalprice" + 0.5).cast("long")).as("y"))
      .localCheckpoint(true)
    val train = daily.filter($"yr" <= 1997)
    val nT = train.agg(count(lit(1)).as("n"))
    val ranked = train.withColumn("rk",
      row_number().over(Window.orderBy($"y", $"di")).cast("long"))
    val taus = PinballTaus.toDF("tau_pm")
    // Exact lower quantile: the ceil(τ·n/1000)-th order statistic.
    val qs = ranked.crossJoin(broadcast(nT)).crossJoin(broadcast(taus))
      .filter($"rk" === expr("greatest(1, (tau_pm * n + 999) div 1000)"))
      .select($"tau_pm", $"y".as("q"))
      .localCheckpoint(true)
    daily.filter($"yr" === 1998)
      .crossJoin(broadcast(qs))
      .select($"tau_pm", $"y", $"q",
        expr("greatest(tau_pm * (y - q), (tau_pm - 1000) * (y - q))")
          .as("loss_pm"),
        when($"y" <= $"q", 1L).otherwise(0L).as("covered"))
      .groupBy($"tau_pm")
      .agg(count(lit(1)).as("n_days"), max($"q").as("q_dollars"),
        sum($"loss_pm").as("loss_pm"),
        expr("CAST((sum(covered) * 1000000) div count(1) AS BIGINT)")
          .as("coverage_fp"))
      .orderBy($"tau_pm")
  }

  private val pinballOracle =
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |              AS BIGINT) AS di,
       |         year(o_orderdate) AS yr,
       |         CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1, 2),
       |train AS (SELECT di, y FROM daily WHERE yr <= 1997),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
       |ranked AS (SELECT y, CAST(row_number() OVER (ORDER BY y, di) AS BIGINT)
       |             AS rk FROM train),
       |taus AS (SELECT CAST(unnest([${PinballTaus.mkString(", ")}]) AS BIGINT)
       |           AS tau_pm),
       |qs AS MATERIALIZED (
       |  SELECT t.tau_pm, r.y AS q
       |  FROM ranked r, nt, taus t
       |  WHERE r.rk = greatest(1, (t.tau_pm * nt.n + 999) // 1000)),
       |scored AS (
       |  SELECT q.tau_pm, d.y, q.q,
       |         greatest(q.tau_pm * (d.y - q.q), (q.tau_pm - 1000) * (d.y - q.q))
       |           AS loss_pm,
       |         CASE WHEN d.y <= q.q THEN 1 ELSE 0 END AS covered
       |  FROM daily d CROSS JOIN qs q WHERE d.yr = 1998)
       |SELECT tau_pm, CAST(count(*) AS BIGINT) AS n_days,
       |       CAST(max(q) AS BIGINT) AS q_dollars,
       |       CAST(sum(loss_pm) AS BIGINT) AS loss_pm,
       |       CAST((sum(covered) * 1000000) // count(*) AS BIGINT) AS coverage_fp
       |FROM scored GROUP BY tau_pm
       |ORDER BY tau_pm""".stripMargin

  // ---------------------------------------------------------------- x234

  /** Compared top-N parts (bounds the O(N²) concordance join). */
  private val TauTop = 100

  /** x234: Kendall τ-b between the 1995 and 1996 part-revenue rankings
    * — the classic concordance statistic beside x202's top-weighted
    * RBO: over the parts ranked in BOTH years (top-[[TauTop]] of
    * 1995 by revenue), count concordant/discordant pairs and
    * τ-b = (C−D)/√((C+D+Tx)(C+D+Ty)). Ranks are exact integers with
    * key tie-breaks, the pair table is the bounded N² self-join (the
    * q77 Spearman discipline), and the one sqrt is IEEE-stable.
    *
    * Scale: two filtered part-grain aggregates; the pair join is
    * capped at TauTop² rows whatever the corpus. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def rev(yr: Int) = Tables.lineitem(spark, dir)
      .filter(year($"l_shipdate") === yr)
      .groupBy($"l_partkey".as("pk"))
      .agg(sum(floor($"l_extendedprice" * (lit(1.0) - $"l_discount") + 0.5)
        .cast("long")).as("r"))
    val a = rev(1995).withColumn("ra",
      row_number().over(Window.orderBy($"r".desc, $"pk")).cast("long"))
      .filter($"ra" <= TauTop).select($"pk", $"ra")
    val b = rev(1996).select($"pk", $"r".as("rb0"))
    val both = a.join(b, Seq("pk"), "left").na.fill(0L, Seq("rb0"))
      .withColumn("rb", row_number().over(
        Window.orderBy($"rb0".desc, $"pk")).cast("long"))
      .select($"pk", $"ra", $"rb")
      .localCheckpoint(true)
    val pairs = both.toDF("p1", "a1", "b1")
      .join(both.toDF("p2", "a2", "b2"), $"p1" < $"p2")
      .select(
        when(($"a1" < $"a2" && $"b1" < $"b2") ||
          ($"a1" > $"a2" && $"b1" > $"b2"), 1L).otherwise(0L).as("c"),
        when(($"a1" < $"a2" && $"b1" > $"b2") ||
          ($"a1" > $"a2" && $"b1" < $"b2"), 1L).otherwise(0L).as("d"))
    pairs.agg(sum($"c").as("nc"), sum($"d").as("nd"))
      .select($"nc", $"nd",
        expr("CAST(floor(CAST(nc - nd AS DOUBLE)" +
          " / sqrt(CAST(nc + nd AS DOUBLE) * CAST(nc + nd AS DOUBLE))" +
          " * 1000000 + 0.5) AS BIGINT)").as("tau_fp"))
  }

  private val kendallOracle =
    s"""WITH ra AS (
       |  SELECT pk, CAST(row_number() OVER (ORDER BY r DESC, pk) AS BIGINT) AS ra
       |  FROM (SELECT l_partkey AS pk,
       |          CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) + 0.5)
       |            AS BIGINT)) AS BIGINT) AS r
       |        FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1) t),
       |a AS (SELECT pk, ra FROM ra WHERE ra <= $TauTop),
       |b AS (SELECT l_partkey AS pk,
       |        CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) + 0.5)
       |          AS BIGINT)) AS BIGINT) AS rb0
       |      FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
       |both0 AS MATERIALIZED (
       |  SELECT a.pk, a.ra,
       |         CAST(row_number() OVER (ORDER BY COALESCE(b.rb0, 0) DESC, a.pk)
       |              AS BIGINT) AS rb
       |  FROM a LEFT JOIN b ON b.pk = a.pk),
       |pairs AS (
       |  SELECT CASE WHEN (x.ra < y.ra AND x.rb < y.rb)
       |                OR (x.ra > y.ra AND x.rb > y.rb) THEN 1 ELSE 0 END AS c,
       |         CASE WHEN (x.ra < y.ra AND x.rb > y.rb)
       |                OR (x.ra > y.ra AND x.rb < y.rb) THEN 1 ELSE 0 END AS d
       |  FROM both0 x JOIN both0 y ON x.pk < y.pk)
       |SELECT CAST(sum(c) AS BIGINT) AS nc, CAST(sum(d) AS BIGINT) AS nd,
       |       CAST(floor(CAST(sum(c) - sum(d) AS DOUBLE)
       |         / sqrt(CAST(sum(c) + sum(d) AS DOUBLE)
       |                * CAST(sum(c) + sum(d) AS DOUBLE))
       |         * 1000000 + 0.5) AS BIGINT) AS tau_fp
       |FROM pairs""".stripMargin

  /* Multiple regression as an aggregate
   * (x235) — 3-feature OLS (intercept, linear trend, weekend dummy) on
   * daily revenue, solved in closed form by Cramer's rule over exact
   * integer moments, the multi-feature upgrade of q70's per-group
   * simple OLS. */

  /** 3×3 determinant over CAST(entry AS DOUBLE) — ONE string spliced
    * into both engines (expansion by the first row, fixed
    * association). */
  private def det3(m: Array[Array[String]]): String = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    def minor(a: String, b: String, c: String, e: String) =
      s"(${d(a)} * ${d(b)} - ${d(c)} * ${d(e)})"
    s"(${d(m(0)(0))} * ${minor(m(1)(1), m(2)(2), m(1)(2), m(2)(1))}" +
      s" - ${d(m(0)(1))} * ${minor(m(1)(0), m(2)(2), m(1)(2), m(2)(0))}" +
      s" + ${d(m(0)(2))} * ${minor(m(1)(0), m(2)(1), m(1)(1), m(2)(0))})"
  }

  private val X = Array(
    Array("n", "sd", "sw"),
    Array("sd", "sdd", "sdw"),
    Array("sw", "sdw", "sww"))
  private def replaceCol(col: Int, rhs: Array[String]) =
    X.zipWithIndex.map { case (row, i) =>
      row.zipWithIndex.map { case (v, j) => if (j == col) rhs(i) else v } }
  private val Rhs = Array("sy", "sdy", "swy")

  /** x235: OLS y = β₀ + β₁·di + β₂·weekend over the ≤-1997 daily
    * revenue series. The normal-equation matrix entries are exact
    * integer sums (whole dollars; the weekend dummy is the x218 slot
    * convention, so no engine-divergent calendar call); Cramer's rule
    * expands the four 3×3 determinants in ONE shared string per
    * determinant — double products of exact integers in a fixed
    * association — and each β quantizes once at the end. R² comes
    * from the fitted-value moments, all still closed-form.
    *
    * Scale: one date-grain aggregate and one 8-moment reduction —
    * the fit never materializes anything data-sized; adding features
    * grows the moment vector quadratically, not the data passes. */
  def olsMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") <= 1997)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" + 0.5).cast("long")).as("y"))
      .select($"di", $"y",
        when(pmod($"di", lit(7L)) >= 5L, 1L).otherwise(0L).as("w"))
    val m = daily.agg(
      count(lit(1)).as("n"), sum($"di").as("sd"), sum($"w").as("sw"),
      sum($"di" * $"di").as("sdd"), sum($"di" * $"w").as("sdw"),
      sum($"w" * $"w").as("sww"), sum($"y").as("sy"),
      sum($"di" * $"y").as("sdy"), sum($"w" * $"y").as("swy"),
      sum($"y" * $"y").as("syy"))
    val det = det3(X)
    val d0 = det3(replaceCol(0, Rhs))
    val d1 = det3(replaceCol(1, Rhs))
    val d2 = det3(replaceCol(2, Rhs))
    // R² = 1 − SSE/SST with SSE = syy − β₀sy − β₁sdy − β₂swy (the
    // normal-equation identity), every β the unquantized double ratio.
    val sse = s"(CAST(syy AS DOUBLE) - ($d0 / $det) * CAST(sy AS DOUBLE)" +
      s" - ($d1 / $det) * CAST(sdy AS DOUBLE)" +
      s" - ($d2 / $det) * CAST(swy AS DOUBLE))"
    val sst = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)" +
      " / CAST(n AS DOUBLE))"
    m.select($"n",
      expr(s"CAST(floor($d0 / $det * 100 + 0.5) AS BIGINT)").as("b0_d100"),
      expr(s"CAST(floor($d1 / $det * 10000 + 0.5) AS BIGINT)").as("b1_d10000"),
      expr(s"CAST(floor($d2 / $det * 100 + 0.5) AS BIGINT)").as("b2_d100"),
      expr(s"CAST(floor((1.0 - $sse / $sst) * 1000000 + 0.5) AS BIGINT)")
        .as("r2_fp"))
  }

  private val olsOracle = {
    val det = det3(X)
    val d0 = det3(replaceCol(0, Rhs))
    val d1 = det3(replaceCol(1, Rhs))
    val d2 = det3(replaceCol(2, Rhs))
    val sse = s"(CAST(syy AS DOUBLE) - ($d0 / $det) * CAST(sy AS DOUBLE)" +
      s" - ($d1 / $det) * CAST(sdy AS DOUBLE)" +
      s" - ($d2 / $det) * CAST(swy AS DOUBLE))"
    val sst = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)" +
      " / CAST(n AS DOUBLE))"
    s"""WITH daily AS (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |              AS BIGINT) AS di,
       |         CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       |f AS (SELECT di, y, CASE WHEN ((di % 7) + 7) % 7 >= 5 THEN 1 ELSE 0 END AS w
       |      FROM daily),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(di) AS BIGINT) AS sd,
       |         CAST(sum(w) AS BIGINT) AS sw, CAST(sum(di * di) AS BIGINT) AS sdd,
       |         CAST(sum(di * w) AS BIGINT) AS sdw,
       |         CAST(sum(w * w) AS BIGINT) AS sww, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(di * y) AS BIGINT) AS sdy,
       |         CAST(sum(w * y) AS BIGINT) AS swy,
       |         CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM f)
       |SELECT n,
       |       CAST(floor($d0 / $det * 100 + 0.5) AS BIGINT) AS b0_d100,
       |       CAST(floor($d1 / $det * 10000 + 0.5) AS BIGINT) AS b1_d10000,
       |       CAST(floor($d2 / $det * 100 + 0.5) AS BIGINT) AS b2_d100,
       |       CAST(floor((1.0 - $sse / $sst) * 1000000 + 0.5) AS BIGINT) AS r2_fp
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- x263

  /** x263: Theil–Sen robust trend — per customer nation, the MEDIAN of
    * all pairwise slopes between monthly revenue points (integer cents
    * over integer month indexes). Up to 29.3% of the months can be
    * corrupted before the estimate moves, versus a single outlier for
    * q70's OLS line. Slopes are exact rationals `num/den` (den > 0);
    * the ordering key is the IEEE double num/den — correctly-rounded
    * division of identical integers, engine-stable — with (num, den) as
    * the deterministic tie-break, and the lower median is selected by
    * rank so no cross-pair averaging ever happens. The median pair's
    * exact (num, den) is emitted alongside the quantized slope.
    *
    * Scale: the corpus-sized stage is the orders→monthly aggregation
    * (one hash agg); the pair self-join is bounded by the CALENDAR per
    * group (80 months ⇒ ≤3,160 pairs/nation regardless of row count),
    * so the quadratic stage never touches corpus-sized data. */
  def theilSenX263(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".cast("long").as("ck"),
        ((year($"o_orderdate") - 1995) * 12 + month($"o_orderdate") - 1)
          .cast("long").as("m"),
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy($"ck", $"m").agg(sum($"cents").as("y"))
      .localCheckpoint(true)
    val a = monthly.select($"ck", $"m".as("m1"), $"y".as("y1"))
    val b = monthly.select($"ck".as("ck2"), $"m".as("m2"), $"y".as("y2"))
    val pairs = a.join(broadcast(b), $"ck" === $"ck2" && $"m1" < $"m2")
      .select($"ck", ($"y2" - $"y1").as("num"), ($"m2" - $"m1").as("den"))
      .withColumn("sd", $"num".cast("double") / $"den".cast("double"))
    val w = Window.partitionBy($"ck")
    val rk = pairs
      .withColumn("rn", row_number().over(w.orderBy($"sd", $"num", $"den")))
      .withColumn("np", count(lit(1)).over(w))
      .filter($"rn" === expr("(np + 1) DIV 2"))
    val months = monthly.groupBy($"ck").agg(count(lit(1)).as("n_months"))
    rk.join(broadcast(months), "ck")
      .join(broadcast(Tables.nation(spark, dir)), $"ck" === $"n_nationkey")
      .select($"ck".as("nationkey"), $"n_name", $"n_months",
        $"np".as("n_pairs"), $"num".as("med_num"), $"den".as("med_den"),
        QueryUtil.halfUp4($"sd").as("slope_cents"))
      .orderBy("nationkey")
  }

  private val theilSenOracleX263 =
    """WITH monthly AS MATERIALIZED (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS ck,
      |         CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
      |              AS BIGINT) AS m,
      |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      |              AS BIGINT) AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.ck, b.y - a.y AS num, b.m - a.m AS den,
      |         CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS sd
      |  FROM monthly a JOIN monthly b ON a.ck = b.ck AND a.m < b.m),
      |rk AS (
      |  SELECT ck, num, den, sd,
      |         row_number() OVER (PARTITION BY ck ORDER BY sd, num, den) AS rn,
      |         CAST(count(*) OVER (PARTITION BY ck) AS BIGINT) AS np
      |  FROM pairs),
      |mo AS (SELECT ck, CAST(count(*) AS BIGINT) AS n_months
      |       FROM monthly GROUP BY ck)
      |SELECT r.ck AS nationkey, n.n_name, mo.n_months, r.np AS n_pairs,
      |       r.num AS med_num, r.den AS med_den,
      |       floor(r.sd * 10000 + 0.5) / 10000.0 AS slope_cents
      |FROM rk r JOIN mo ON mo.ck = r.ck JOIN nation n ON n.n_nationkey = r.ck
      |WHERE r.rn = (r.np + 1) // 2
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- x266

  /** x266: cross-shard quantile normalization — the batch-effect
    * corrector for corpora assembled from heterogeneous sources: each
    * document's length is replaced by the POOLED value at the same
    * relative rank within its shard (`k = ceil(rank·N/n_shard)`), so
    * every shard's post-normalization distribution is the pooled one.
    * All rank arithmetic is exact integer; the audit emits per-shard
    * mean/median before and after (the "after" columns converging
    * across shards is the operator's contract).
    *
    * Scale: one per-shard rank (partitioned window), one pooled rank (a
    * global range-partitioned sort — TeraSort-shaped, and the x260
    * histogram drill-down is the sort-free alternative when only fixed
    * quantiles are needed), one equi-join on the computed rank. No
    * stage is quadratic. */
  def quantileNormalizeX266(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"source", $"doc_id", $"n_chars".cast("long").as("v"))
      .localCheckpoint(true)
    val pooled = docs
      .withColumn("rp", row_number().over(Window.orderBy($"v", $"doc_id"))
        .cast("long"))
      .select($"rp", $"v".as("pv"))
    val nn = docs.agg(count(lit(1)).as("n_total"))
    val shard = docs
      .withColumn("rs", row_number().over(
        Window.partitionBy($"source").orderBy($"v", $"doc_id")).cast("long"))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy($"source")))
      .crossJoin(broadcast(nn))
      .withColumn("k", expr("(rs * n_total + ns - 1) DIV ns"))
    val normed = shard.join(pooled, $"k" === $"rp")
    normed.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        QueryUtil.halfUp4(avg($"v")).as("mean_before"),
        max(when($"rs" === expr("(ns + 1) DIV 2"), $"v")).as("p50_before"),
        QueryUtil.halfUp4(avg($"pv")).as("mean_after"),
        max(when($"rs" === expr("(ns + 1) DIV 2"), $"pv")).as("p50_after"),
        max($"n_total").as("n_total"))
      .orderBy($"source")
  }

  private val quantileNormalizeOracle =
    """WITH docs AS MATERIALIZED (
      |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v
      |  FROM documents WHERE n_chars > 0),
      |pooled AS MATERIALIZED (
      |  SELECT CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT) AS rp,
      |         v AS pv
      |  FROM docs),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM docs),
      |shard AS (
      |  SELECT source, v,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY v, doc_id)
      |              AS BIGINT) AS rs,
      |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
      |  FROM docs),
      |shardk AS (
      |  SELECT s.*, nn.n_total, (s.rs * nn.n_total + s.ns - 1) // s.ns AS k
      |  FROM shard s, nn),
      |normed AS (
      |  SELECT sk.source, sk.v, sk.rs, sk.ns, sk.n_total, p.pv
      |  FROM shardk sk JOIN pooled p ON sk.k = p.rp)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       floor(avg(v) * 10000 + 0.5) / 10000.0 AS mean_before,
      |       max(CASE WHEN rs = (ns + 1) // 2 THEN v END) AS p50_before,
      |       floor(avg(pv) * 10000 + 0.5) / 10000.0 AS mean_after,
      |       max(CASE WHEN rs = (ns + 1) // 2 THEN pv END) AS p50_after,
      |       max(n_total) AS n_total
      |FROM normed
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- x270

  /** x270: Mann–Whitney rank-sum test with exact tie handling — does
    * the length distribution of `en` documents differ in location from
    * the rest of the corpus? Average ranks over tie groups are exact
    * half-integers derived from per-VALUE counts (group by value, one
    * running sum over the value-ordered census — never a per-row global
    * sort), so `2·R_A` and `2·U` are exact BIGINTs; the tie-corrected
    * variance uses the exact `Σ(t³−t)` BIGINT; the z-score is the only
    * double (IEEE-exact sqrt/divide of identical integers).
    *
    * Delta vs q79 (which already ships MW per return flag): q79's rank
    * window runs over the RAW combined sample — O(rows) per partition;
    * here the entire rank computation runs on the value CENSUS
    * (average ranks reconstructed from per-value counts + one running
    * sum over |distinct| rows), the formulation that stays cheap when
    * one partition holds 10⁹ rows over 10⁴ distinct values.
    *
    * Scale: the corpus pass is one group-by-value census; everything
    * after runs on |distinct values| rows. */
  def mannWhitneyX270(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"n_chars".cast("long").as("v"),
        when($"lang" === "en", 1L).otherwise(0L).as("a"))
      .groupBy($"v").agg(count(lit(1)).as("t"), sum($"a").as("ta"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"v").rowsBetween(Long.MinValue, -1)
    val ranked = census
      .withColumn("cum_before", coalesce(sum($"t").over(w), lit(0L)))
      // 2 * average rank of the tie group = 2*cum_before + t + 1 (exact)
      .withColumn("r2", lit(2L) * $"cum_before" + $"t" + 1L)
    val agg = ranked.agg(
      sum($"t").as("n"), sum($"ta").as("na"),
      sum($"ta" * $"r2").as("ra2"),
      sum($"t" * $"t" * $"t" - $"t").as("tie3"))
    agg.select(
      $"n", $"na", ($"n" - $"na").as("nb"), $"ra2", $"tie3",
      // 2U = 2*R_A - nA*(nA+1)
      ($"ra2" - $"na" * ($"na" + 1L)).as("u2"))
      .select($"n", $"na", $"nb", $"ra2", $"tie3", $"u2",
        ($"u2".cast("double") / 2.0).as("u"),
        // mean(U) = nA*nB/2; var(U) = nA*nB/12 * ((n+1) - tie3/(n(n-1)))
        QueryUtil.halfUp4(
          ($"u2".cast("double") / 2.0
            - $"na".cast("double") * $"nb".cast("double") / 2.0)
            / sqrt($"na".cast("double") * $"nb".cast("double") / 12.0
              * (($"n" + 1L).cast("double")
                - $"tie3".cast("double")
                  / ($"n".cast("double") * ($"n" - 1L).cast("double")))))
          .as("z"))
  }

  private val mannWhitneyOracleX270 =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS t,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ta
      |  FROM documents WHERE n_chars > 0 GROUP BY 1),
      |ranked AS (
      |  SELECT v, t, ta,
      |         COALESCE(sum(t) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM census),
      |agg AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n, CAST(sum(ta) AS BIGINT) AS na,
      |         CAST(sum(ta * (2 * cum_before + t + 1)) AS BIGINT) AS ra2,
      |         CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      |  FROM ranked)
      |SELECT n, na, n - na AS nb, ra2, tie3,
      |       ra2 - na * (na + 1) AS u2,
      |       CAST(ra2 - na * (na + 1) AS DOUBLE) / 2.0 AS u,
      |       floor((CAST(ra2 - na * (na + 1) AS DOUBLE) / 2.0
      |              - CAST(na AS DOUBLE) * CAST(n - na AS DOUBLE) / 2.0)
      |             / sqrt(CAST(na AS DOUBLE) * CAST(n - na AS DOUBLE) / 12.0
      |                    * (CAST(n + 1 AS DOUBLE)
      |                       - CAST(tie3 AS DOUBLE)
      |                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
      |             * 10000 + 0.5) / 10000.0 AS z
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- x280

  /** x280: distribution-free median confidence interval — the
    * order-statistic method: the 95% CI for the population median is
    * [X_(lo), X_(hi)] with `lo = floor((n − 1.96√n)/2)` and
    * `hi = ceil(1 + (n + 1.96√n)/2)` (normal approximation to the
    * binomial(n, ½) rank distribution). No resampling: the ranks are
    * integers from one deterministic formula (floor/ceil of identical
    * doubles), and the order statistics are read from the VALUE CENSUS
    * by cumulative counts — never a row-level global sort (the x270
    * recipe).
    *
    * Scale: one group-by-value census + a |values|-row running sum; at
    * 100 TB this is how you attach honest uncertainty to a median
    * without a terabyte sort or bootstrap replicas. */
  def medianCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.lineitem(spark, dir)
      .select(floor($"l_extendedprice" * 100.0 + 0.5).cast("long").as("v"))
      .groupBy($"v").agg(count(lit(1)).as("t"))
      .localCheckpoint(true)
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = census
      .withColumn("cum", sum($"t").over(w))
      .withColumn("before", $"cum" - $"t")
    val ranks = census.agg(sum($"t").as("n"))
      .select($"n",
        greatest(lit(1L),
          floor(($"n".cast("double") - lit(1.96) * sqrt($"n".cast("double"))) / 2.0)
            .cast("long")).as("lo_rank"),
        expr("(n + 1) DIV 2").as("med_rank"),
        least($"n",
          ceil(lit(1.0) + ($"n".cast("double") + lit(1.96) * sqrt($"n".cast("double"))) / 2.0)
            .cast("long")).as("hi_rank"))
    val picks = ranks.select($"n", explode(array(
        struct(lit("lo").as("which"), $"lo_rank".as("k")),
        struct(lit("med").as("which"), $"med_rank".as("k")),
        struct(lit("hi").as("which"), $"hi_rank".as("k")))).as("p"))
      .select($"n", $"p.which".as("which"), $"p.k".as("k"))
    cum.join(broadcast(picks), $"before" < $"k" && $"cum" >= $"k")
      .select($"which", $"n", $"k", $"v".as("value_cents"),
        ($"v" / 100.0).as("value"))
      .orderBy($"which")
  }

  private val medianCiOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
      |         CAST(count(*) AS BIGINT) AS t
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT v, t,
      |         CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |           AS BIGINT) AS cum
      |  FROM census),
      |nn AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM census),
      |ranks AS (
      |  SELECT n, which, k FROM nn, LATERAL (
      |    SELECT * FROM (VALUES
      |      ('lo', greatest(1, CAST(floor((CAST(n AS DOUBLE)
      |              - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))),
      |      ('med', (n + 1) // 2),
      |      ('hi', least(n, CAST(ceil(1.0 + (CAST(n AS DOUBLE)
      |              + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)))
      |    ) t(which, k)))
      |SELECT r.which, r.n, r.k, c.v AS value_cents, c.v / 100.0 AS value
      |FROM ranks r JOIN cum c ON c.cum - c.t < r.k AND c.cum >= r.k
      |ORDER BY r.which""".stripMargin

  /* The exact two-sample Kolmogorov–Smirnov
   * test — x270's Mann–Whitney asks "is one sample shifted?"; KS asks
   * "do the two distributions differ ANYWHERE?". The statistic, its
   * argmax location, and the α=0.05 decision are all exact integer
   * arithmetic over the value census (D as a cross-multiplied BIGINT
   * numerator over the common denominator n₁·n₂; the decision squares
   * it against 1.358²·(n₁+n₂)·n₁·n₂ in DECIMAL(38)/HUGEINT).
   */

  /** KS α=0.05 coefficient: c(α)² = 1.358² as an exact rational,
    * reduced to lowest terms (1844164/1000000, gcd 4) so the
    * cross-multiplied predicate carries a 4× smaller left factor. */
  private val KsC2Num = 461041L
  private val KsC2Den = 250000L

  // ---------------------------------------------------------------- x285

  /** x285: exact two-sample KS — `en` vs non-`en` document lengths.
    * One census pass (value → per-sample counts), one running-sum
    * window, then `D·n₁·n₂ = max_v |F₁num(v)·n₂ − F₂num(v)·n₁|` as an
    * exact BIGINT with the smallest attaining value as the
    * deterministic argmax; reject at 5% iff
    * `(D·n₁·n₂)²·25·10⁴ > 461041·n₁·n₂·(n₁+n₂)` — one cross-multiplied
    * DECIMAL(38)/HUGEINT predicate, no sqrt, no float accumulation.
    *
    * Exact-arithmetic validity bound: the left side is `dnum²·2.5e5`
    * with `dnum ≤ n₁·n₂`, so DECIMAL(38) (≤ ~1e38) holds it exactly
    * while `n₁·n₂ ≤ 2·10¹⁶` — i.e. up to ~1.4·10⁸ documents per class
    * (DuckDB's HUGEINT bound is the same order). Beyond that the
    * predicate needs arbitrary precision (a BigInt typed aggregate on
    * the one surviving row); the statistic D itself never overflows
    * since dnum stays a BIGINT product of two in-range counts
    *.
    *
    * Delta vs q80 (which already ships the per-return-flag D
    * statistic): this adds what a DECISION needs and q80 does not emit
    * — the exact argmax LOCATION (where the distributions diverge
    * most, the actionable part of a drift alarm) and the α=0.05
    * accept/reject evaluated entirely in integer arithmetic, the same
    * exact-predicate discipline as q104/x281.
    *
    * Scale: the census recipe — the corpus pass is one group-by, the
    * sup runs over |distinct values| rows. */
  def ksTestX285(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"n_chars".cast("long").as("v"),
        when($"lang" === "en", 1L).otherwise(0L).as("is1"))
      .groupBy($"v").agg(sum($"is1").as("c1"),
        sum(lit(1L) - $"is1").as("c2"))
      .localCheckpoint(true)
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val tot = census.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    val cum = census
      .withColumn("f1", sum($"c1").over(w))
      .withColumn("f2", sum($"c2").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("dnum", abs($"f1" * $"n2" - $"f2" * $"n1"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    cum
      .withColumn("rn", row_number().over(Window.orderBy($"dnum".desc, $"v")))
      .filter($"rn" === 1)
      .select($"n1", $"n2", $"dnum".as("d_num"), $"v".as("at_value"),
        QueryUtil.halfUp($"dnum".cast("double")
          / ($"n1".cast("double") * $"n2".cast("double")), 6).as("d"),
        (dec($"dnum") * dec($"dnum") * lit(KsC2Den)
          > lit(KsC2Num) * dec($"n1") * dec($"n2") * (dec($"n1") + dec($"n2")))
          .cast("long").as("reject_5pct"))
  }

  private val ksTestOracleX285 =
    s"""WITH census AS MATERIALIZED (
       |  SELECT CAST(n_chars AS BIGINT) AS v,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS c2
       |  FROM documents WHERE n_chars > 0 GROUP BY 1),
       |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
       |               CAST(sum(c2) AS BIGINT) AS n2 FROM census),
       |cum AS (
       |  SELECT v,
       |         CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |           AS BIGINT) AS f1,
       |         CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |           AS BIGINT) AS f2,
       |         n1, n2
       |  FROM census, tot),
       |scored AS (
       |  SELECT v, n1, n2, abs(f1 * n2 - f2 * n1) AS dnum,
       |         row_number() OVER (ORDER BY abs(f1 * n2 - f2 * n1) DESC, v) AS rn
       |  FROM cum)
       |SELECT n1, n2, dnum AS d_num, v AS at_value,
       |       floor(CAST(dnum AS DOUBLE)
       |             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS d,
       |       CAST(CASE WHEN CAST(dnum AS HUGEINT) * CAST(dnum AS HUGEINT)
       |                      * $KsC2Den
       |                    > $KsC2Num * CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT)
       |                      * (CAST(n1 AS HUGEINT) + CAST(n2 AS HUGEINT))
       |                 THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
       |FROM scored WHERE rn = 1""".stripMargin

  /* Exact resampling inference (permutation test +
   * Benjamini–Hochberg FDR over exact integer p-values), consistent-hash
   * shard rebalancing (HRW), margin-based bitext mining, and the
   * padding-vs-packing waste audit.
   * Elsewhere: x295 and x304 (RelationalQueries); x297
   * (SimilarityQueries); x298 and x302 (PipelineQueries); x301
   * (GraphQueries); x299, x300, x303 and x306 (StreamingQueries); x305
   * (MultimodalQueries); x307 and x309 (DedupQueries).
   */

  // ---------------------------------------------------------------- x293

  /** Rows per group for the exact permutation enumeration (first
    * [[PermN]] orders per nation by orderkey; C(12,6) = 924 splits). */
  private val PermN = 12
  private val PermK = 6

  /** Shared per-nation exact permutation p-values: observed statistic is
    * |sum(first 6) − sum(last 6)| of the first 12 orders' total prices
    * (cents); the null enumerates ALL C(12,6) equal-split relabelings.
    * Everything is BIGINT: d = |2·sumA − S| compares exactly, and
    * p = p_num/924 is a ratio of counts — the only resampling scheme
    * that can be oracle-paired bit-for-bit, and the reason x294 can run
    * BH on EXACT rationals. */
  private def permPvalues(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select($"c_nationkey".as("nationkey"), $"o_orderkey",
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"nationkey").orderBy($"o_orderkey")))
      .filter($"rk" <= PermN)
    val groups = ranked.groupBy($"nationkey")
      .agg(count(lit(1)).as("nrows"),
        expr("transform(sort_array(collect_list(struct(o_orderkey, cents))), x -> x.cents)")
          .as("vals"),
        sum(when($"rk" <= PermK, $"cents").otherwise(0L)).as("sum_a_obs"),
        sum($"cents").as("s"))
      .filter($"nrows" === PermN) // only full groups enumerate
      .withColumn("d_obs", abs($"sum_a_obs" * 2 - $"s"))
    // 2^12 masks; popcount via the same fold both engines run (no reliance
    // on a bit_count builtin parity)
    val masks = spark.range(0L, 1L << PermN).toDF("mask")
      .filter(expr(s"aggregate(sequence(0, ${PermN - 1}), 0L, " +
        s"(acc, i) -> acc + (shiftright(mask, i) & 1)) = $PermK"))
    groups.crossJoin(broadcast(masks))
      .withColumn("sum_a", expr(
        s"aggregate(sequence(0, ${PermN - 1}), 0L, (acc, i) -> " +
          "acc + IF((shiftright(mask, i) & 1) = 1, element_at(vals, i + 1), 0L))"))
      .withColumn("d", abs($"sum_a" * 2 - $"s"))
      .groupBy($"nationkey", $"d_obs")
      .agg(sum(when($"d" >= $"d_obs", 1L).otherwise(0L)).as("p_num"),
        count(lit(1)).as("p_den"))
  }

  /** The identical pipeline as DuckDB CTEs ending in
    * `perm_p(nationkey, d_obs, p_num, p_den)`. */
  private val permPvaluesCtes =
    s"""ranked AS (
       |  SELECT c_nationkey AS nationkey, o_orderkey,
       |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       |         row_number() OVER (PARTITION BY c_nationkey ORDER BY o_orderkey) AS rk
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |grp AS (
       |  SELECT nationkey,
       |         list(cents ORDER BY o_orderkey) AS vals,
       |         CAST(sum(CASE WHEN rk <= $PermK THEN cents ELSE 0 END) AS BIGINT) AS sum_a_obs,
       |         CAST(sum(cents) AS BIGINT) AS s
       |  FROM ranked WHERE rk <= $PermN
       |  GROUP BY nationkey HAVING count(*) = $PermN),
       |gobs AS (SELECT nationkey, vals, s, abs(sum_a_obs * 2 - s) AS d_obs FROM grp),
       |msk AS (SELECT k AS mask FROM range(0, ${1 << PermN}) t(k)
       |        WHERE list_sum(list_transform(range(0, $PermN),
       |                i -> (k >> i) & 1)) = $PermK),
       |perm AS (
       |  SELECT nationkey, d_obs,
       |         abs(2 * list_sum(list_transform(range(0, $PermN),
       |               i -> CASE WHEN ((mask >> i) & 1) = 1
       |                         THEN vals[i + 1] ELSE 0 END)) - s) AS d
       |  FROM gobs, msk),
       |perm_p AS (
       |  SELECT nationkey, d_obs,
       |         CAST(sum(CASE WHEN d >= d_obs THEN 1 ELSE 0 END) AS BIGINT) AS p_num,
       |         CAST(count(*) AS BIGINT) AS p_den
       |  FROM perm GROUP BY nationkey, d_obs)""".stripMargin

  /** x293: exact two-sample permutation test per nation — the
    * distribution-free significance test whose p-value is a RATIO OF
    * COUNTS, enumerated completely (no RNG, no Monte-Carlo): the only
    * resampling scheme an oracle-paired engine can ship bit-exact.
    * Observed split = first [[PermK]] vs last of the first [[PermN]]
    * orders per nation (by orderkey); statistic |2·sumA − S| in BIGINT
    * cents.
    *
    * Scale: the corpus pass is one ranked top-[[PermN]] per group; the
    * enumeration is groups × C(12,6) = bounded lattice rows, never
    * corpus-shaped — exactly how an exact test stays feasible at 100 TB
    * (enumerate per GROUP over a fixed panel, not per row). */
  def permTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    permPvalues(spark, dir)
      .select($"nationkey", $"d_obs", $"p_num", $"p_den",
        QueryUtil.halfUp($"p_num".cast("double") / $"p_den", 6).as("p"))
      .orderBy($"nationkey")
  }

  private val permTestOracle =
    s"""WITH $permPvaluesCtes
       |SELECT nationkey, d_obs, p_num, p_den,
       |       floor(CAST(p_num AS DOUBLE) / p_den * 1000000 + 0.5) / 1000000.0 AS p
       |FROM perm_p
       |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- x294

  /** BH level α = 1/20. */
  private val BhAlphaDen = 20L

  /** x294: Benjamini–Hochberg FDR control over x293's EXACT p-values —
    * the multiple-testing step every per-group significance sweep needs
    * (25 nations tested at once inflate false positives). Because the
    * p-values are exact rationals with one shared denominator, the BH
    * predicate `p_(k) ≤ α·k/m` cross-multiplies to pure BIGINTs:
    * `p_num·m·$BhAlphaDen ≤ p_den·k` — no float thresholds anywhere.
    * `k_max` is the largest passing rank; rejected = rank ≤ k_max (the
    * step-up rule, including non-passing ranks below k_max).
    *
    * Scale: runs on the per-GROUP p-value panel (|groups| rows), free at
    * any corpus size once x293's census is done. */
  def bhFdr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = permPvalues(spark, dir).localCheckpoint(true)
    val m = p.agg(count(lit(1)).as("m"))
    val ranked = p.crossJoin(broadcast(m))
      .withColumn("k", row_number().over(Window.orderBy($"p_num", $"nationkey")).cast("long"))
      .withColumn("pass", $"p_num" * $"m" * BhAlphaDen <= $"p_den" * $"k")
    val kmax = ranked.agg(max(when($"pass", $"k").otherwise(0L)).as("k_max"))
    ranked.crossJoin(broadcast(kmax))
      .select($"nationkey", $"p_num", $"p_den", $"k", $"m",
        $"pass".cast("long").as("pass"),
        ($"k" <= $"k_max").cast("long").as("rejected"))
      .orderBy($"nationkey")
  }

  private val bhFdrOracle =
    s"""WITH $permPvaluesCtes,
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM perm_p),
       |rk AS (
       |  SELECT nationkey, p_num, p_den, m,
       |         CAST(row_number() OVER (ORDER BY p_num, nationkey) AS BIGINT) AS k
       |  FROM perm_p, mm),
       |fl AS (SELECT *, (p_num * m * $BhAlphaDen <= p_den * k) AS pass FROM rk),
       |km AS (SELECT max(CASE WHEN pass THEN k ELSE 0 END) AS k_max FROM fl)
       |SELECT nationkey, p_num, p_den, k, m,
       |       CAST(CASE WHEN pass THEN 1 ELSE 0 END AS BIGINT) AS pass,
       |       CAST(CASE WHEN k <= k_max THEN 1 ELSE 0 END AS BIGINT) AS rejected
       |FROM fl, km
       |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- x296

  /** x296: Hodges–Lehmann pseudo-median per return flag — the robust
    * location ESTIMATOR associated with x270's Mann–Whitney test (the
    * test says "shifted?"; this says "by how much"): the median of all
    * n(n+1)/2 pairwise Walsh averages (xᵢ+xⱼ)/2, i ≤ j. Computed
    * entirely on the VALUE CENSUS: pair SUMS come from the census
    * self-join (v ≤ w with multiplicity c·d, and c·(c+1)/2 on the
    * diagonal), the median is read off cumulative pair counts (x280's
    * rank recipe) — never an n²-row expansion. Median convention: the
    * TEXTBOOK estimator — with an even pair count the two middle Walsh
    * averages are mid-averaged (the lower-median shortcut
    * can sit half a step off). All of it stays BIGINT-exact: `hl4` is
    * the sum of the doubled Walsh sums at ranks ⌈n/2⌉ and ⌊n/2⌋+1
    * (equal when n_pairs is odd), and the published estimate is
    * hl4/4 with half-up rounding.
    *
    * Scale: |distinct values|² census pairs per group (quantities have
    * ~50 distinct values regardless of corpus size) while the pair
    * COUNT n(n+1)/2 only appears as arithmetic — the reason a
    * pairwise-defined estimator is still computable on 10¹¹-row
    * groups. */
  def hodgesLehmann(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("grp"), $"l_quantity".cast("long").as("v"))
      .groupBy($"grp", $"v").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val pairs = census.toDF("grp", "v", "c")
      .join(census.toDF("grp", "w", "d"), Seq("grp"))
      .filter($"v" <= $"w")
      .select($"grp", ($"v" + $"w").as("hl2"),
        expr("CASE WHEN v < w THEN c * d ELSE c * (c + 1) DIV 2 END").as("cnt"))
      .groupBy($"grp", $"hl2").agg(sum($"cnt").as("cnt"))
    val w = Window.partitionBy($"grp").orderBy($"hl2")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = pairs
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("before", $"cum" - $"cnt")
    val ranks = pairs.groupBy($"grp").agg(sum($"cnt").as("n_pairs"))
      .withColumn("k_lo", expr("(n_pairs + 1) DIV 2"))
      .withColumn("k_hi", expr("n_pairs DIV 2 + 1"))
    cum.join(broadcast(ranks), "grp")
      .filter(($"before" < $"k_lo" && $"cum" >= $"k_lo") ||
        ($"before" < $"k_hi" && $"cum" >= $"k_hi"))
      .groupBy($"grp", $"n_pairs")
      .agg(
        (max(when($"before" < $"k_lo" && $"cum" >= $"k_lo", $"hl2")) +
          max(when($"before" < $"k_hi" && $"cum" >= $"k_hi", $"hl2"))).as("hl4"))
      .select($"grp", $"n_pairs", $"hl4",
        QueryUtil.halfUp($"hl4".cast("double") / 4.0, 6).as("hl"))
      .orderBy($"grp")
  }

  private val hodgesLehmannOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.grp, a.v + b.v AS hl2,
      |         CAST(sum(CASE WHEN a.v < b.v THEN a.c * b.c
      |                       ELSE a.c * (a.c + 1) // 2 END) AS BIGINT) AS cnt
      |  FROM census a JOIN census b ON a.grp = b.grp AND a.v <= b.v
      |  GROUP BY a.grp, a.v + b.v),
      |cum AS (
      |  SELECT grp, hl2, cnt,
      |         CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY hl2
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM pairs),
      |rk AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_pairs,
      |              (sum(cnt) + 1) // 2 AS k_lo,
      |              sum(cnt) // 2 + 1 AS k_hi
      |       FROM pairs GROUP BY grp),
      |mid AS (
      |  SELECT c.grp, r.n_pairs,
      |         CAST(max(CASE WHEN c.cum - c.cnt < r.k_lo AND c.cum >= r.k_lo
      |                       THEN c.hl2 END) +
      |              max(CASE WHEN c.cum - c.cnt < r.k_hi AND c.cum >= r.k_hi
      |                       THEN c.hl2 END) AS BIGINT) AS hl4
      |  FROM cum c JOIN rk r ON r.grp = c.grp
      |  WHERE (c.cum - c.cnt < r.k_lo AND c.cum >= r.k_lo)
      |     OR (c.cum - c.cnt < r.k_hi AND c.cum >= r.k_hi)
      |  GROUP BY c.grp, r.n_pairs)
      |SELECT grp, n_pairs, hl4,
      |       floor(CAST(hl4 AS DOUBLE) / 4.0 * 1000000 + 0.5) / 1000000.0 AS hl
      |FROM mid
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------- x308

  /** χ²₁(0.05) = 3.841459 as an exact rational. */
  private val CaChi2Num = 3841459L
  private val CaChi2Den = 1000000L

  /** x308: Cochran–Armitage trend test — the ordered-category companion
    * to q71's chi-square independence: does return probability TREND
    * with line number (scores w_i = i)? The statistic is exact integer
    * arithmetic over the 7-row category census:
    * `U = N·Σwᵢaᵢ − A·Σwᵢnᵢ`,
    * `Z² = U²·N / (A·(N−A)·(N·Σwᵢ²nᵢ − (Σwᵢnᵢ)²))`, and the α=0.05
    * decision cross-multiplies against 3841459/10⁶ in DECIMAL(38)/
    * HUGEINT — same discipline as x285's KS decision, same documented
    * validity bound style (U²·N·10⁶ ≤ ~10³⁸ holds through ~10⁷ rows per
    * weight unit; beyond that the one surviving row needs BigInt).
    *
    * Scale: one group-by census (|categories| rows), then scalar
    * arithmetic — the trend alarm for ordinal drift at any corpus
    * size. */
  def trendTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.lineitem(spark, dir)
      .select($"l_linenumber".cast("long").as("w"),
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("y"))
      .groupBy($"w").agg(count(lit(1)).as("n"), sum($"y").as("a"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    census.agg(
        sum($"n").as("nn"), sum($"a").as("aa"),
        sum($"w" * $"n").as("swn"), sum($"w" * $"a").as("swa"),
        sum($"w" * $"w" * $"n").as("sw2n"))
      .select($"nn".as("n"), $"aa".as("a"),
        ($"nn" * $"swa" - $"aa" * $"swn").as("u_num"),
        QueryUtil.halfUp(
          ($"nn" * $"swa" - $"aa" * $"swn").cast("double")
            * ($"nn" * $"swa" - $"aa" * $"swn").cast("double")
            * $"nn".cast("double")
            / ($"aa".cast("double") * ($"nn" - $"aa").cast("double")
              * ($"nn" * $"sw2n" - $"swn" * $"swn").cast("double")), 6).as("z2"),
        (dec($"nn" * $"swa" - $"aa" * $"swn") * dec($"nn" * $"swa" - $"aa" * $"swn")
          * dec($"nn") * lit(CaChi2Den)
          > lit(CaChi2Num) * dec($"aa") * dec($"nn" - $"aa")
            * dec($"nn" * $"sw2n" - $"swn" * $"swn"))
          .cast("long").as("reject_5pct"))
  }

  private val trendTestOracle =
    s"""WITH census AS (
       |  SELECT CAST(l_linenumber AS BIGINT) AS w,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS a
       |  FROM lineitem GROUP BY 1),
       |s AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(a) AS BIGINT) AS aa,
       |             CAST(sum(w * n) AS BIGINT) AS swn,
       |             CAST(sum(w * a) AS BIGINT) AS swa,
       |             CAST(sum(w * w * n) AS BIGINT) AS sw2n
       |      FROM census)
       |SELECT nn AS n, aa AS a,
       |       nn * swa - aa * swn AS u_num,
       |       floor(CAST(nn * swa - aa * swn AS DOUBLE)
       |             * CAST(nn * swa - aa * swn AS DOUBLE)
       |             * CAST(nn AS DOUBLE)
       |             / (CAST(aa AS DOUBLE) * CAST(nn - aa AS DOUBLE)
       |                * CAST(nn * sw2n - swn * swn AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS z2,
       |       CAST(CASE WHEN CAST(nn * swa - aa * swn AS HUGEINT)
       |                      * CAST(nn * swa - aa * swn AS HUGEINT)
       |                      * CAST(nn AS HUGEINT) * $CaChi2Den
       |                    > $CaChi2Num * CAST(aa AS HUGEINT)
       |                      * CAST(nn - aa AS HUGEINT)
       |                      * CAST(nn * sw2n - swn * swn AS HUGEINT)
       |                 THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
       |FROM s""".stripMargin

  /* The remaining classical exact-rank inference
   * battery over value censuses — Kruskal–Wallis (k-group rank ANOVA),
   * Wilcoxon signed-rank (paired), McNemar (paired binary), and
   * Jonckheere–Terpstra (ordered-alternative trend across k groups).
   * All four follow the x270 Mann–Whitney contract: every rank/count
   * statistic is BIGINT-exact off the value census (doubled ranks for
   * half-integer ties), and the normal/χ² approximations are computed
   * from those integers with IEEE-deterministic double expressions
   * written identically in both engines (sqrt/÷/× are correctly rounded;
   * only libm transcendentals diverge), then halfUp-quantized.
   */

  // ---------------------------------------------------------------- x310

  /** x310: Kruskal–Wallis H across the three return flags on quantity —
    * does at least one flag's quantity distribution sit shifted? Ranks
    * come from the 50-value census (doubled average ranks, BIGINT);
    * the three per-group doubled rank sums pivot into ONE row (the
    * fixture's flag domain is exactly {A,N,R} — the x277 known-domain
    * pivot contract), so the cross-group Σ R_g²/n_g happens as scalar
    * double arithmetic in a single projection, never a
    * partial-aggregation-order-dependent double sum. Tie-corrected:
    * H / (1 − Σ(t³−t)/(N³−N)). Significance is the unquantized-double
    * compare against χ²₀.₀₅,₂ = 5.991464547 — identical doubles on both
    * engines make the flag deterministic.
    *
    * Scale: the census is ≤50 rows regardless of corpus size; the only
    * full-data pass is the map-side-combinable groupBy(v). Doubled rank
    * sums stay < 2N² (exact in BIGINT and in double up to N ≈ 6·10⁷). */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.lineitem(spark, dir)
      .select($"l_quantity".cast("long").as("v"), $"l_returnflag".as("g"))
      .groupBy($"v")
      .agg(count(lit(1)).as("t"),
        sum(when($"g" === "A", 1L).otherwise(0L)).as("ca"),
        sum(when($"g" === "N", 1L).otherwise(0L)).as("cn"),
        sum(when($"g" === "R", 1L).otherwise(0L)).as("cr"))
    val w = Window.orderBy($"v").rowsBetween(Long.MinValue, -1)
    val ranked = census
      .withColumn("r2", lit(2L) * coalesce(sum($"t").over(w), lit(0L)) + $"t" + 1L)
    val agg = ranked.agg(
      sum($"t").as("n"),
      sum($"ca").as("na"), sum($"cn").as("nn"), sum($"cr").as("nr"),
      sum($"ca" * $"r2").as("r2a"), sum($"cn" * $"r2").as("r2n"),
      sum($"cr" * $"r2").as("r2r"),
      sum($"t" * $"t" * $"t" - $"t").as("tie3"))
    def d(c: Column) = c.cast("double")
    val hUnc = (lit(3.0) * (d($"r2a") * d($"r2a") / d($"na")
      + d($"r2n") * d($"r2n") / d($"nn")
      + d($"r2r") * d($"r2r") / d($"nr"))
      / (d($"n") * d($"n" + 1L))
      - lit(3.0) * d($"n" + 1L))
    val corr = lit(1.0) - d($"tie3") / (d($"n") * d($"n") * d($"n") - d($"n"))
    agg.select($"n", $"na", $"nn", $"nr", $"r2a", $"r2n", $"r2r", $"tie3",
      QueryUtil.halfUp4(hUnc / corr).as("h"),
      when(hUnc / corr > 5.991464547, 1L).otherwise(0L).as("sig"))
  }

  private val kruskalWallisOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS t,
      |         CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
      |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT *, 2 * COALESCE(sum(t) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
      |  FROM census),
      |agg AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n,
      |         CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cn) AS BIGINT) AS nn,
      |         CAST(sum(cr) AS BIGINT) AS nr,
      |         CAST(sum(ca * r2) AS BIGINT) AS r2a,
      |         CAST(sum(cn * r2) AS BIGINT) AS r2n,
      |         CAST(sum(cr * r2) AS BIGINT) AS r2r,
      |         CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      |  FROM ranked),
      |h AS (
      |  SELECT *,
      |         (3.0 * (CAST(r2a AS DOUBLE) * CAST(r2a AS DOUBLE) / CAST(na AS DOUBLE)
      |                 + CAST(r2n AS DOUBLE) * CAST(r2n AS DOUBLE) / CAST(nn AS DOUBLE)
      |                 + CAST(r2r AS DOUBLE) * CAST(r2r AS DOUBLE) / CAST(nr AS DOUBLE))
      |            / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |          - 3.0 * CAST(n + 1 AS DOUBLE))
      |         / (1.0 - CAST(tie3 AS DOUBLE)
      |                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |                     - CAST(n AS DOUBLE))) AS h_raw
      |  FROM agg)
      |SELECT n, na, nn, nr, r2a, r2n, r2r, tie3,
      |       floor(h_raw * 10000 + 0.5) / 10000.0 AS h,
      |       CAST(CASE WHEN h_raw > 5.991464547 THEN 1 ELSE 0 END AS BIGINT) AS sig
      |FROM h""".stripMargin

  // ---------------------------------------------------------------- x311

  /** Pairing cut for the signed-rank halves (ship years 1995–97 vs
    * 1998–2001). */
  private val WsrCut = "1998-01-01 00:00:00"

  /** x311: Wilcoxon signed-rank — did per-part shipped quantity shift
    * between the two halves of the shipdate range? One paired
    * difference per part (BIGINT quantity sums), zeros dropped per the
    * textbook procedure, |d| ranked through the census with doubled
    * average ranks, W⁺ kept doubled (w2p). The z-score uses the
    * tie-corrected variance n(n+1)(2n+1)/24 − Σ(t³−t)/48 with the
    * continuity-free form, computed as identical doubles.
    *
    * Scale: one groupBy(partkey) pass over the fact table, then a
    * census over |d| (bounded by the part count, itself census-shaped);
    * no pairwise anything. */
  def wilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val diffs = Tables.lineitem(spark, dir)
      .select($"l_partkey",
        when($"l_shipdate" < lit(WsrCut).cast("timestamp"),
          $"l_quantity".cast("long")).otherwise(0L).as("q1"),
        when($"l_shipdate" >= lit(WsrCut).cast("timestamp"),
          $"l_quantity".cast("long")).otherwise(0L).as("q2"))
      .groupBy($"l_partkey")
      .agg((sum($"q1") - sum($"q2")).as("d"))
      .filter($"d" =!= 0L)
    val census = diffs
      .select(abs($"d").as("a"), when($"d" > 0L, 1L).otherwise(0L).as("pos"))
      .groupBy($"a").agg(count(lit(1)).as("t"), sum($"pos").as("tp"))
    val w = Window.orderBy($"a").rowsBetween(Long.MinValue, -1)
    val ranked = census
      .withColumn("r2", lit(2L) * coalesce(sum($"t").over(w), lit(0L)) + $"t" + 1L)
    val agg = ranked.agg(
      sum($"t").as("n"), sum($"tp" * $"r2").as("w2p"),
      sum($"t" * $"t" * $"t" - $"t").as("tie3"))
    def d(c: Column) = c.cast("double")
    agg.select($"n", $"w2p", $"tie3",
      QueryUtil.halfUp4(
        (d($"w2p") / 2.0 - d($"n") * d($"n" + 1L) / 4.0)
          / sqrt(d($"n") * d($"n" + 1L) * d(lit(2L) * $"n" + 1L) / 24.0
            - d($"tie3") / 48.0)).as("z"))
  }

  private val wilcoxonOracle =
    s"""WITH diffs AS MATERIALIZED (
       |  SELECT l_partkey,
       |         CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '$WsrCut'
       |                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
       |              - sum(CASE WHEN l_shipdate >= TIMESTAMP '$WsrCut'
       |                         THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
       |              AS BIGINT) AS d
       |  FROM lineitem GROUP BY 1),
       |census AS (
       |  SELECT abs(d) AS a, CAST(count(*) AS BIGINT) AS t,
       |         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
       |  FROM diffs WHERE d <> 0 GROUP BY 1),
       |ranked AS (
       |  SELECT *, 2 * COALESCE(sum(t) OVER (ORDER BY a
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
       |  FROM census),
       |agg AS (
       |  SELECT CAST(sum(t) AS BIGINT) AS n,
       |         CAST(sum(tp * r2) AS BIGINT) AS w2p,
       |         CAST(sum(t * t * t - t) AS BIGINT) AS tie3
       |  FROM ranked)
       |SELECT n, w2p, tie3,
       |       floor((CAST(w2p AS DOUBLE) / 2.0
       |              - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
       |             / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
       |                    * CAST(2 * n + 1 AS DOUBLE) / 24.0
       |                    - CAST(tie3 AS DOUBLE) / 48.0)
       |             * 10000 + 0.5) / 10000.0 AS z
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------- x312

  /** Timeline split for the paired binary outcome. */
  private val McnCut = "2024-01-16 00:00:00"

  /** Outcome rarity threshold (purchase value). */
  private val McnValue = 100.0

  /** x312: McNemar's test on paired binary outcomes — did users'
    * HIGH-VALUE purchase behavior (value > [[McnValue]]) change between
    * the first and second half of the event window? (Plain "any
    * purchase" is degenerate on this fixture — every user buys in both
    * halves — so the outcome is the rarer event that actually has
    * discordant cells at every SF.) Each user contributes one
    * (before, after) bit pair;
    * only the discordant cells b (yes→no) and c (no→yes) carry signal:
    * χ² = (b−c)²/(b+c), an exact rational. Significance is decided by
    * the EXACT cross-multiplied integer predicate
    * (b−c)²·10⁴ > 38415·(b+c) (χ²₀.₀₅,₁ = 3.8415), so the flag never
    * rides a double.
    *
    * Scale: one groupBy(user) over events with map-side max() partials,
    * then a 4-cell count — nothing grows with the corpus but the first
    * shuffle's key count. */
  def mcnemar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.events(spark, dir)
      .select($"user_id",
        when($"event_type" === "purchase" && $"value" > McnValue &&
          $"ts" < lit(McnCut).cast("timestamp_ntz"), 1L).otherwise(0L).as("p1"),
        when($"event_type" === "purchase" && $"value" > McnValue &&
          $"ts" >= lit(McnCut).cast("timestamp_ntz"), 1L).otherwise(0L).as("p2"))
      .groupBy($"user_id")
      .agg(max($"p1").as("h1"), max($"p2").as("h2"))
    val cells = pairs.agg(
      sum(when($"h1" === 1L && $"h2" === 1L, 1L).otherwise(0L)).as("yy"),
      sum(when($"h1" === 1L && $"h2" === 0L, 1L).otherwise(0L)).as("b"),
      sum(when($"h1" === 0L && $"h2" === 1L, 1L).otherwise(0L)).as("c"),
      sum(when($"h1" === 0L && $"h2" === 0L, 1L).otherwise(0L)).as("nn"))
    cells.select($"yy", $"b", $"c", $"nn",
      when($"b" + $"c" > 0L,
        QueryUtil.halfUp(($"b" - $"c").cast("double") * ($"b" - $"c").cast("double")
          / ($"b" + $"c").cast("double"), 6)).as("chi2"),
      when(($"b" - $"c") * ($"b" - $"c") * 10000L > lit(38415L) * ($"b" + $"c"), 1L)
        .otherwise(0L).as("sig"))
  }

  private val mcnemarOracle =
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT user_id,
       |         max(CASE WHEN event_type = 'purchase' AND value > $McnValue
       |                   AND ts < TIMESTAMP '$McnCut' THEN 1 ELSE 0 END) AS h1,
       |         max(CASE WHEN event_type = 'purchase' AND value > $McnValue
       |                   AND ts >= TIMESTAMP '$McnCut' THEN 1 ELSE 0 END) AS h2
       |  FROM events GROUP BY 1),
       |cells AS (
       |  SELECT CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS yy,
       |         CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |         CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |         CAST(sum(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn
       |  FROM pairs)
       |SELECT yy, b, c, nn,
       |       CASE WHEN b + c > 0 THEN
       |         floor(CAST(b - c AS DOUBLE) * CAST(b - c AS DOUBLE)
       |               / CAST(b + c AS DOUBLE) * 1000000 + 0.5) / 1000000.0
       |       END AS chi2,
       |       CAST(CASE WHEN (b - c) * (b - c) * 10000 > 38415 * (b + c)
       |                 THEN 1 ELSE 0 END AS BIGINT) AS sig
       |FROM cells""".stripMargin

  // ---------------------------------------------------------------- x313

  /** x313: Jonckheere–Terpstra — do order totals TREND with priority
    * (1-URGENT < 2-HIGH < … < 5-LOW is a genuine ordinal scale)? The
    * statistic is Σ over ordered group pairs g<h of the Mann–Whitney
    * count #{x_g < x_h} (+½ ties, kept doubled). Computed WITHOUT any
    * pair join: prices bucket to whole-dollar-÷100 values, the census
    * pivots to the five known priority columns, one cumulative window
    * per group gives #{x_g < v}, and all ten (g,h) U-counts are linear
    * sums over the census. E[2JT] = Σ_{g<h} n_g·n_h = (N² − Σn_g²)/2
    * (the ordered-pair count halved — exactly even, so the division is
    * lossless; an earlier draft used the UNhalved count and inflated
    * |z| ~40×, caught by a direct pair-fraction probe, not by the
    * oracle, which shared the bug — the parity gate proves Spark ==
    * DuckDB, never that either is the textbook). The z uses the
    * standard no-tie null variance [N²(2N+3) − Σn_g²(2n_g+3)]/72 —
    * documented approximation: bucketing introduces ties the classical
    * variance ignores (the exact integer 2jt/e2jt columns carry the
    * tie-free part of the contract).
    *
    * Scale: census size = price buckets (~5k), window + projection on
    * the census only; the full-table pass is one map-side-combinable
    * groupBy. */
  def jonckheere(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.orders(spark, dir)
      .select(expr("CAST(floor(o_totalprice) AS BIGINT) DIV 100").as("v"),
        substring($"o_orderpriority", 1, 1).as("g"))
      .groupBy($"v")
      .agg(sum(when($"g" === "1", 1L).otherwise(0L)).as("c1"),
        sum(when($"g" === "2", 1L).otherwise(0L)).as("c2"),
        sum(when($"g" === "3", 1L).otherwise(0L)).as("c3"),
        sum(when($"g" === "4", 1L).otherwise(0L)).as("c4"),
        sum(when($"g" === "5", 1L).otherwise(0L)).as("c5"))
    val w = Window.orderBy($"v").rowsBetween(Long.MinValue, -1)
    def cum(c: Column) = coalesce(sum(c).over(w), lit(0L))
    val cumd = census
      .withColumn("b1", cum($"c1")).withColumn("b2", cum($"c2"))
      .withColumn("b3", cum($"c3")).withColumn("b4", cum($"c4"))
    // doubled U_gh contribution at value v: c_h·(2·#{x_g < v} + c_g(v))
    val u = cumd.select(
      ($"c2" * (lit(2L) * $"b1" + $"c1") + $"c3" * (lit(2L) * $"b1" + $"c1")
        + $"c4" * (lit(2L) * $"b1" + $"c1") + $"c5" * (lit(2L) * $"b1" + $"c1")
        + $"c3" * (lit(2L) * $"b2" + $"c2") + $"c4" * (lit(2L) * $"b2" + $"c2")
        + $"c5" * (lit(2L) * $"b2" + $"c2")
        + $"c4" * (lit(2L) * $"b3" + $"c3") + $"c5" * (lit(2L) * $"b3" + $"c3")
        + $"c5" * (lit(2L) * $"b4" + $"c4")).as("u2v"),
      ($"c1" + $"c2" + $"c3" + $"c4" + $"c5").as("tv"),
      $"c1", $"c2", $"c3", $"c4", $"c5")
    val agg = u.agg(sum($"u2v").as("jt2"), sum($"tv").as("n"),
      sum($"c1").as("n1"), sum($"c2").as("n2"), sum($"c3").as("n3"),
      sum($"c4").as("n4"), sum($"c5").as("n5"))
    def d(c: Column) = c.cast("double")
    val sumSq = $"n1" * $"n1" + $"n2" * $"n2" + $"n3" * $"n3" +
      $"n4" * $"n4" + $"n5" * $"n5"
    val sumCube = $"n1" * $"n1" * (lit(2L) * $"n1" + 3L) +
      $"n2" * $"n2" * (lit(2L) * $"n2" + 3L) +
      $"n3" * $"n3" * (lit(2L) * $"n3" + 3L) +
      $"n4" * $"n4" * (lit(2L) * $"n4" + 3L) +
      $"n5" * $"n5" * (lit(2L) * $"n5" + 3L)
    val e2jt = ($"n" * $"n" - sumSq) / lit(2L) // exact: ordered pairs are even
    agg.select($"n", $"jt2", e2jt.cast("long").as("e2jt"),
      QueryUtil.halfUp4(
        (d($"jt2") - d(e2jt)) / 2.0
          / sqrt((d($"n") * d($"n") * d(lit(2L) * $"n" + 3L) - d(sumCube)) / 72.0))
        .as("z"))
  }

  private val jonckheereOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(floor(o_totalprice) AS BIGINT) // 100 AS v,
      |         CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN o_orderpriority LIKE '2%' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |         CAST(sum(CASE WHEN o_orderpriority LIKE '3%' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
      |         CAST(sum(CASE WHEN o_orderpriority LIKE '4%' THEN 1 ELSE 0 END) AS BIGINT) AS c4,
      |         CAST(sum(CASE WHEN o_orderpriority LIKE '5%' THEN 1 ELSE 0 END) AS BIGINT) AS c5
      |  FROM orders GROUP BY 1),
      |cumd AS (
      |  SELECT *,
      |         COALESCE(sum(c1) OVER wb, 0) AS b1, COALESCE(sum(c2) OVER wb, 0) AS b2,
      |         COALESCE(sum(c3) OVER wb, 0) AS b3, COALESCE(sum(c4) OVER wb, 0) AS b4
      |  FROM census
      |  WINDOW wb AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |agg AS (
      |  SELECT CAST(sum(c2 * (2 * b1 + c1) + c3 * (2 * b1 + c1)
      |             + c4 * (2 * b1 + c1) + c5 * (2 * b1 + c1)
      |             + c3 * (2 * b2 + c2) + c4 * (2 * b2 + c2) + c5 * (2 * b2 + c2)
      |             + c4 * (2 * b3 + c3) + c5 * (2 * b3 + c3)
      |             + c5 * (2 * b4 + c4)) AS BIGINT) AS jt2,
      |         CAST(sum(c1 + c2 + c3 + c4 + c5) AS BIGINT) AS n,
      |         CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
      |         CAST(sum(c3) AS BIGINT) AS n3, CAST(sum(c4) AS BIGINT) AS n4,
      |         CAST(sum(c5) AS BIGINT) AS n5
      |  FROM cumd)
      |SELECT n, jt2,
      |       (n * n - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)) // 2 AS e2jt,
      |       floor((CAST(jt2 AS DOUBLE)
      |              - CAST((n * n - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)) // 2
      |                     AS DOUBLE)) / 2.0
      |             / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(2 * n + 3 AS DOUBLE)
      |                     - CAST(n1*n1*(2*n1+3) + n2*n2*(2*n2+3) + n3*n3*(2*n3+3)
      |                            + n4*n4*(2*n4+3) + n5*n5*(2*n5+3) AS DOUBLE)) / 72.0)
      |             * 10000 + 0.5) / 10000.0 AS z
      |FROM agg""".stripMargin

  /* Cliff's delta (the ordinal effect size that
   * completes x270's Mann–Whitney "is it shifted?" with "by how much, in
   * rank terms"), and the APPEND-mode dynamic-gap session parity — x319
   * pinned cross-batch dynamic-window MERGE under complete mode; this
   * pins the production emission contract (watermark-gated finalization).
   * Elsewhere: x323 (StreamingQueries).
   */

  /** Shared en-vs-rest n_chars value census: (v, ta = en count,
    * tb = non-en count). One definition feeds x322 (Cliff's delta),
    * x325 (energy statistic), and x326 (Gini stump) so a fixture or
    * normalization change can never drift the paired statistics apart
    * (r13 code-review: this was copy-pasted three times). */
  private[queries] def enCharsCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"n_chars".cast("long").as("v"),
        when($"lang" === "en", 1L).otherwise(0L).as("a"))
      .groupBy($"v")
      .agg(sum($"a").as("ta"), sum(lit(1L) - $"a").as("tb"))
  }

  // ---------------------------------------------------------------- x322

  /** x322: Cliff's delta between en and non-en document lengths —
    * δ = (#(a>b) − #(a<b)) / (n_a·n_b), the ordinal effect size paired
    * with x270's U test (same census, same cumulative recipe): gt/lt/tie
    * pair counts are exact BIGINTs off the n_chars census, δ is the one
    * quantized ratio, and the conventional magnitude band (Romano et
    * al. thresholds 0.147/0.33/0.474) is decided by CROSS-MULTIPLIED
    * integer predicates — |num|·1000 vs den·147 etc. — so the label
    * never rides a double.
    *
    * Scale: identical to x270 — one census groupBy, one cumulative
    * window over ≤|distinct lengths| rows, one scalar projection. */
  def cliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = enCharsCensus(spark, dir)
    val w = Window.orderBy($"v").rowsBetween(Long.MinValue, -1)
    val ranked = census
      .withColumn("cumb", coalesce(sum($"tb").over(w), lit(0L)))
    val agg = ranked.agg(
      sum($"ta").as("na"), sum($"tb").as("nb"),
      sum($"ta" * $"cumb").as("gt"),
      sum($"ta" * $"tb").as("ties"))
    agg.select($"na", $"nb", $"gt",
      ($"na" * $"nb" - $"gt" - $"ties").as("lt"), $"ties")
      .withColumn("num", $"gt" - $"lt")
      .withColumn("den", $"na" * $"nb")
      .select($"na", $"nb", $"gt", $"lt", $"ties",
        QueryUtil.halfUp($"num".cast("double") / $"den".cast("double"), 6)
          .as("delta"),
        when(abs($"num") * 1000L < $"den" * 147L, "negligible")
          .when(abs($"num") * 1000L < $"den" * 330L, "small")
          .when(abs($"num") * 1000L < $"den" * 474L, "medium")
          .otherwise("large").as("band"))
  }

  private val cliffsDeltaOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(n_chars AS BIGINT) AS v,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS tb
      |  FROM documents WHERE n_chars > 0 GROUP BY 1),
      |ranked AS (
      |  SELECT *, COALESCE(sum(tb) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM census),
      |agg AS (
      |  SELECT CAST(sum(ta) AS BIGINT) AS na, CAST(sum(tb) AS BIGINT) AS nb,
      |         CAST(sum(ta * cumb) AS BIGINT) AS gt,
      |         CAST(sum(ta * tb) AS BIGINT) AS ties
      |  FROM ranked),
      |d AS (
      |  SELECT na, nb, gt, na * nb - gt - ties AS lt, ties,
      |         gt - (na * nb - gt - ties) AS num, na * nb AS den
      |  FROM agg)
      |SELECT na, nb, gt, lt, ties,
      |       floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000.0 AS delta,
      |       CASE WHEN abs(num) * 1000 < den * 147 THEN 'negligible'
      |            WHEN abs(num) * 1000 < den * 330 THEN 'small'
      |            WHEN abs(num) * 1000 < den * 474 THEN 'medium'
      |            ELSE 'large' END AS band
      |FROM d""".stripMargin

  /* Holm's step-down procedure on x293's exact
   * permutation p-values (completing the multiple-testing family x294's
   * BH opened), the two-sample ENERGY statistic from census prefix sums
   * (a pairwise-defined distance computed without a pair join), and the
   * Gini decision stump (the tree-learner split primitive as an exact
   * census argmin).
   * Elsewhere: x326 (TrainingQueries).
   */

  // ---------------------------------------------------------------- x324

  /** Holm α numerator/denominator (α = 1/20). */
  private val HolmAlphaDen = 20L

  /** x324: Holm–Bonferroni step-down on the x293 exact permutation
    * p-values — the FWER-controlling counterpart of x294's FDR: sort
    * the m p-values, reject the k-th iff EVERY j ≤ k satisfies
    * p_(j) ≤ α/(m−j+1). With exact rationals p = p_num/924 the
    * pointwise test is the integer predicate
    * p_num·(m−k+1)·20 ≤ p_den, and the step-down gate is "k below the
    * first failure" — min() over an exact flag, so the whole procedure
    * is float-free (the x294 contract; the two differ exactly where
    * FWER vs FDR differ, which is the point of pairing them).
    *
    * Scale: m = one p-value per nation; everything after the (already
    * bounded) permutation enumeration is arithmetic on m rows. */
  def holmStepDown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = permPvalues(spark, dir)
    val m = Window.partitionBy(lit(1))
    val ranked = p
      .withColumn("k", row_number().over(
        Window.partitionBy(lit(1)).orderBy($"p_num", $"nationkey")).cast("long"))
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("pass",
        $"p_num" * ($"m" - $"k" + 1L) * HolmAlphaDen <= $"p_den")
    val kFail = ranked
      .agg(min(when(!$"pass", $"k")).as("k_fail"), max($"m").as("mm"))
    ranked.crossJoin(broadcast(kFail))
      .select($"nationkey", $"p_num", $"p_den", $"k", $"m",
        $"pass".cast("long").as("pass"),
        when($"k" < coalesce($"k_fail", $"mm" + 1L), 1L).otherwise(0L)
          .as("rejected"))
      .orderBy($"nationkey")
  }

  private val holmOracle =
    s"""WITH ${permPvaluesCtes},
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM perm_p),
       |rk AS (
       |  SELECT nationkey, p_num, p_den, m,
       |         CAST(row_number() OVER (ORDER BY p_num, nationkey) AS BIGINT) AS k
       |  FROM perm_p, mm),
       |fl AS (SELECT *,
       |         (p_num * (m - k + 1) * $HolmAlphaDen <= p_den) AS pass FROM rk),
       |kf AS (SELECT min(CASE WHEN NOT pass THEN k END) AS k_fail,
       |              max(m) AS mm2 FROM fl)
       |SELECT nationkey, p_num, p_den, k, m,
       |       CAST(CASE WHEN pass THEN 1 ELSE 0 END AS BIGINT) AS pass,
       |       CAST(CASE WHEN k < COALESCE(k_fail, mm2 + 1) THEN 1 ELSE 0 END
       |            AS BIGINT) AS rejected
       |FROM fl, kf
       |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- x325

  /** x325: two-sample ENERGY statistic between en and non-en document
    * lengths — E = 2·E|X−Y| − E|X−X′| − E|Y−Y′|, the
    * distribution-sensitive test that sees SHAPE differences rank tests
    * miss (it is zero iff the distributions are equal). Each pairwise
    * expectation is Σ|v−w|·counts — a PAIR-DEFINED quantity computed
    * WITHOUT a pair join: over the sorted value census,
    * Σ_{w<v} (v−w)·c(w) = v·cnt_before − sum_before, so three
    * cumulative window sums give all three BIGINT-exact pair masses in
    * one pass. The scaled test statistic T = (n_a·n_b/(n_a+n_b))·E is
    * the permutation-testable form.
    *
    * Scale: one census groupBy over the corpus, one O(|distinct
    * lengths|) window pass. Pair masses are bounded by v_max·n²
    * (DECIMAL swap documented for n beyond ~10⁷ at this v_max). */
  def energyDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = enCharsCensus(spark, dir)
    val w = Window.orderBy($"v").rowsBetween(Long.MinValue, -1)
    val cum = census
      .withColumn("ca", coalesce(sum($"ta").over(w), lit(0L)))
      .withColumn("sa", coalesce(sum($"ta" * $"v").over(w), lit(0L)))
      .withColumn("cb", coalesce(sum($"tb").over(w), lit(0L)))
      .withColumn("sb", coalesce(sum($"tb" * $"v").over(w), lit(0L)))
    val agg = cum.agg(
      sum($"ta").as("na"), sum($"tb").as("nb"),
      // cross pairs |v-w| over BOTH orders of (a,b) membership
      sum($"ta" * ($"v" * $"cb" - $"sb") + $"tb" * ($"v" * $"ca" - $"sa"))
        .as("sxy"),
      // within-group ORDERED pair masses (x2: |v-w| counted both ways)
      (sum($"ta" * ($"v" * $"ca" - $"sa")) * 2L).as("sxx"),
      (sum($"tb" * ($"v" * $"cb" - $"sb")) * 2L).as("syy"))
    def d(c: Column) = c.cast("double")
    agg.select($"na", $"nb", $"sxy", $"sxx", $"syy",
      QueryUtil.halfUp(
        lit(2.0) * d($"sxy") / (d($"na") * d($"nb"))
          - d($"sxx") / (d($"na") * d($"na"))
          - d($"syy") / (d($"nb") * d($"nb")), 6).as("e_stat"),
      QueryUtil.halfUp(
        (d($"na") * d($"nb") / (d($"na") + d($"nb")))
          * (lit(2.0) * d($"sxy") / (d($"na") * d($"nb"))
            - d($"sxx") / (d($"na") * d($"na"))
            - d($"syy") / (d($"nb") * d($"nb"))), 4).as("t_stat"))
  }

  private val energyOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(n_chars AS BIGINT) AS v,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS tb
      |  FROM documents WHERE n_chars > 0 GROUP BY 1),
      |cum AS (
      |  SELECT *,
      |         COALESCE(sum(ta) OVER wb, 0) AS ca,
      |         COALESCE(sum(ta * v) OVER wb, 0) AS sa,
      |         COALESCE(sum(tb) OVER wb, 0) AS cb,
      |         COALESCE(sum(tb * v) OVER wb, 0) AS sb
      |  FROM census
      |  WINDOW wb AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |agg AS (
      |  SELECT CAST(sum(ta) AS BIGINT) AS na, CAST(sum(tb) AS BIGINT) AS nb,
      |         CAST(sum(ta * (v * cb - sb) + tb * (v * ca - sa)) AS BIGINT) AS sxy,
      |         CAST(sum(ta * (v * ca - sa)) * 2 AS BIGINT) AS sxx,
      |         CAST(sum(tb * (v * cb - sb)) * 2 AS BIGINT) AS syy
      |  FROM cum)
      |SELECT na, nb, sxy, sxx, syy,
      |       floor((2.0 * CAST(sxy AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |              - CAST(sxx AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE))
      |              - CAST(syy AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)))
      |             * 1000000 + 0.5) / 1000000.0 AS e_stat,
      |       floor((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      |             * (2.0 * CAST(sxy AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |                - CAST(sxx AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE))
      |                - CAST(syy AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)))
      |             * 10000 + 0.5) / 10000.0 AS t_stat
      |FROM agg""".stripMargin

  /* The BLOCKED-design inference pair that completes
   * the exact-rank battery (x310–x313, x322) — Friedman's rank test
   * (k correlated treatments over b blocks) and Cochran's Q (its binary
   * special case, the k-treatment generalization of x312 McNemar).
   * Same x270 contract: every rank/count statistic is a BIGINT census sum
   * (doubled ranks for half-integer ties), the χ² statistic is one final
   * double projection written identically in both engines, and the
   * significance flag compares the UNQUANTIZED double against a literal
   * critical value so the flag is engine-deterministic.
   */

  /** The fixture's closed event-type domain (x277 known-domain contract —
    * completing the block×treatment frame needs the full treatment list
    * even when a block never saw a type). */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  /** χ²(k−1 = 4, 0.05) upper critical value. */
  private val Chi2Crit4 = 9.487729037

  // ---------------------------------------------------------------- x331

  /** x331: Friedman test — do the five event types keep the same activity
    * ordering across the seven weekdays, or does at least one type's
    * traffic rank shift by weekday? Blocks = weekday, treatments = event
    * type, response = event count. The block×treatment frame is COMPLETED
    * (cross join of observed weekdays × the closed type domain, absent
    * cells at n = 0 — the q105 complete-the-frame rule) so every block
    * ranks exactly k = 5 treatments. Within-block ties get doubled
    * average ranks off the per-(dow, n) census: r2 = 2·|smaller| +
    * |tied| + 1. With doubled ranks the tie-robust Conover form
    *   T = (k−1)·(ΣⱼR2ⱼ² − b²k(k+1)²) / (Σᵢⱼr2ᵢⱼ² − bk(k+1)²)
    * is PURE BIGINT in numerator and denominator (the 1/4 factors
    * cancel); the division is the only double op. sig compares T against
    * χ²₀.₀₅,₄ = 9.487729037.
    *
    * Scale: one map-side-combinable groupBy(dow, type) pass over the
    * corpus; everything after runs on a ≤ 7·5-row frame. The doubled
    * rank sums are bounded by 2bk — overflow-free at any corpus size. */
  def friedman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(dayofweek($"ts").cast("long").as("dow"), $"event_type")
    val census = ev.groupBy($"dow", $"event_type").agg(count(lit(1)).as("n"))
    val frame = ev.select($"dow").distinct()
      .crossJoin(EventTypes.toDF("event_type"))
      .join(census, Seq("dow", "event_type"), "left")
      .select($"dow", $"event_type", coalesce($"n", lit(0L)).as("n"))
    val byN = frame.groupBy($"dow", $"n").agg(count(lit(1)).as("t"))
    val w = Window.partitionBy($"dow").orderBy($"n").rowsBetween(Long.MinValue, -1)
    val r2n = byN.withColumn(
      "r2", lit(2L) * coalesce(sum($"t").over(w), lit(0L)) + $"t" + 1L)
    val ranked = frame.join(r2n, Seq("dow", "n"))
    def r2of(tp: String) =
      sum(when($"event_type" === tp, $"r2").otherwise(0L)).as(s"r2_$tp")
    val agg = ranked.agg(
      countDistinct($"dow").as("b"),
      sum($"r2" * $"r2").as("a2"),
      r2of("click"), r2of("error"), r2of("purchase"), r2of("signup"), r2of("view"))
    def d(c: Column) = c.cast("double")
    val k = lit(5L)
    val sumR2sq = d($"r2_click") * d($"r2_click") + d($"r2_error") * d($"r2_error") +
      d($"r2_purchase") * d($"r2_purchase") + d($"r2_signup") * d($"r2_signup") +
      d($"r2_view") * d($"r2_view")
    val tUnc = d(k - 1L) * (sumR2sq - d($"b" * $"b") * d(k) * lit(36.0)) /
      (d($"a2") - d($"b") * d(k) * lit(36.0))
    agg.select($"b", $"a2",
      $"r2_click", $"r2_error", $"r2_purchase", $"r2_signup", $"r2_view",
      QueryUtil.halfUp4(tUnc).as("t_stat"),
      when(tUnc > Chi2Crit4, 1L).otherwise(0L).as("sig"))
  }

  private val friedmanOracle =
    s"""WITH ev AS MATERIALIZED (
       |  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, event_type FROM events),
       |census AS (
       |  SELECT dow, event_type, CAST(count(*) AS BIGINT) AS n
       |  FROM ev GROUP BY 1, 2),
       |frame AS (
       |  SELECT d.dow, t.event_type, COALESCE(c.n, 0) AS n
       |  FROM (SELECT DISTINCT dow FROM ev) d
       |  CROSS JOIN (VALUES ('click'), ('error'), ('purchase'), ('signup'),
       |              ('view')) t(event_type)
       |  LEFT JOIN census c ON c.dow = d.dow AND c.event_type = t.event_type),
       |by_n AS (
       |  SELECT dow, n, CAST(count(*) AS BIGINT) AS t FROM frame GROUP BY 1, 2),
       |r2n AS (
       |  SELECT *, 2 * COALESCE(sum(t) OVER (PARTITION BY dow ORDER BY n
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
       |  FROM by_n),
       |ranked AS (
       |  SELECT f.dow, f.event_type, r.r2
       |  FROM frame f JOIN r2n r ON r.dow = f.dow AND r.n = f.n),
       |agg AS (
       |  SELECT CAST(count(DISTINCT dow) AS BIGINT) AS b,
       |         CAST(sum(r2 * r2) AS BIGINT) AS a2,
       |         CAST(sum(CASE WHEN event_type = 'click' THEN r2 ELSE 0 END) AS BIGINT) AS r2_click,
       |         CAST(sum(CASE WHEN event_type = 'error' THEN r2 ELSE 0 END) AS BIGINT) AS r2_error,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN r2 ELSE 0 END) AS BIGINT) AS r2_purchase,
       |         CAST(sum(CASE WHEN event_type = 'signup' THEN r2 ELSE 0 END) AS BIGINT) AS r2_signup,
       |         CAST(sum(CASE WHEN event_type = 'view' THEN r2 ELSE 0 END) AS BIGINT) AS r2_view
       |  FROM ranked),
       |stat AS (
       |  SELECT *,
       |         4.0 * (CAST(r2_click AS DOUBLE) * CAST(r2_click AS DOUBLE)
       |                + CAST(r2_error AS DOUBLE) * CAST(r2_error AS DOUBLE)
       |                + CAST(r2_purchase AS DOUBLE) * CAST(r2_purchase AS DOUBLE)
       |                + CAST(r2_signup AS DOUBLE) * CAST(r2_signup AS DOUBLE)
       |                + CAST(r2_view AS DOUBLE) * CAST(r2_view AS DOUBLE)
       |                - CAST(b * b AS DOUBLE) * 5.0 * 36.0)
       |         / (CAST(a2 AS DOUBLE) - CAST(b AS DOUBLE) * 5.0 * 36.0) AS t_raw
       |  FROM agg)
       |SELECT b, a2, r2_click, r2_error, r2_purchase, r2_signup, r2_view,
       |       floor(t_raw * 10000 + 0.5) / 10000.0 AS t_stat,
       |       CAST(CASE WHEN t_raw > $Chi2Crit4 THEN 1 ELSE 0 END AS BIGINT) AS sig
       |FROM stat""".stripMargin

  // ---------------------------------------------------------------- x332

  /** x332: Cochran's Q — for each user (block) mark each event type
    * (treatment) as an above-average habit (binary success: 5·c_ut >
    * Σc_u, a cross-multiplied integer predicate so the threshold is
    * exact and scale-free), then ask whether the five types have equal
    * success probability across users. Q = (k−1)(kΣⱼCⱼ² − N²) /
    * (kN − ΣᵢRᵢ²) — every term a BIGINT census sum (blocks with all-0 or
    * all-k rows cancel from the denominator automatically: kRᵢ − Rᵢ² =
    * 0). sig vs χ²₀.₀₅,₄. This is x312 McNemar generalized from 2
    * matched treatments to k = 5.
    *
    * Scale: one groupBy(user, type) pass, then a groupBy(user) over the
    * (users × 5)-row frame — both map-side combinable; no joins. */
  def cochranQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def c(tp: String) =
      sum(when($"event_type" === tp, 1L).otherwise(0L)).as(s"c_$tp")
    val perUser = Tables.events(spark, dir)
      .select($"user_id", $"event_type")
      .groupBy($"user_id")
      .agg(c("click"), c("error"), c("purchase"), c("signup"), c("view"))
    val tot = $"c_click" + $"c_error" + $"c_purchase" + $"c_signup" + $"c_view"
    def x(tp: String) =
      when(col(s"c_$tp") * 5L > tot, 1L).otherwise(0L)
    val bin = perUser.select(
      x("click").as("x_click"), x("error").as("x_error"),
      x("purchase").as("x_purchase"), x("signup").as("x_signup"),
      x("view").as("x_view"))
      .withColumn("r", $"x_click" + $"x_error" + $"x_purchase" + $"x_signup" + $"x_view")
    val agg = bin.agg(
      count(lit(1)).as("b"),
      sum($"x_click").as("c_click"), sum($"x_error").as("c_error"),
      sum($"x_purchase").as("c_purchase"), sum($"x_signup").as("c_signup"),
      sum($"x_view").as("c_view"),
      sum($"r").as("n_succ"), sum($"r" * $"r").as("rsq"))
    def d(col0: Column) = col0.cast("double")
    val sumCsq = d($"c_click") * d($"c_click") + d($"c_error") * d($"c_error") +
      d($"c_purchase") * d($"c_purchase") + d($"c_signup") * d($"c_signup") +
      d($"c_view") * d($"c_view")
    val qUnc = lit(4.0) * (lit(5.0) * sumCsq - d($"n_succ") * d($"n_succ")) /
      (lit(5.0) * d($"n_succ") - d($"rsq"))
    agg.select($"b", $"n_succ", $"rsq",
      $"c_click", $"c_error", $"c_purchase", $"c_signup", $"c_view",
      QueryUtil.halfUp4(qUnc).as("q_stat"),
      when(qUnc > Chi2Crit4, 1L).otherwise(0L).as("sig"))
  }

  private val cochranQOracle =
    s"""WITH per_user AS MATERIALIZED (
       |  SELECT user_id,
       |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c_click,
       |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS c_error,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c_purchase,
       |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS c_signup,
       |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c_view
       |  FROM events GROUP BY 1),
       |bin AS (
       |  SELECT CASE WHEN c_click * 5 > c_click + c_error + c_purchase + c_signup + c_view THEN 1 ELSE 0 END AS x_click,
       |         CASE WHEN c_error * 5 > c_click + c_error + c_purchase + c_signup + c_view THEN 1 ELSE 0 END AS x_error,
       |         CASE WHEN c_purchase * 5 > c_click + c_error + c_purchase + c_signup + c_view THEN 1 ELSE 0 END AS x_purchase,
       |         CASE WHEN c_signup * 5 > c_click + c_error + c_purchase + c_signup + c_view THEN 1 ELSE 0 END AS x_signup,
       |         CASE WHEN c_view * 5 > c_click + c_error + c_purchase + c_signup + c_view THEN 1 ELSE 0 END AS x_view
       |  FROM per_user),
       |rows_ AS (
       |  SELECT *, x_click + x_error + x_purchase + x_signup + x_view AS r FROM bin),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS b,
       |         CAST(sum(x_click) AS BIGINT) AS c_click,
       |         CAST(sum(x_error) AS BIGINT) AS c_error,
       |         CAST(sum(x_purchase) AS BIGINT) AS c_purchase,
       |         CAST(sum(x_signup) AS BIGINT) AS c_signup,
       |         CAST(sum(x_view) AS BIGINT) AS c_view,
       |         CAST(sum(r) AS BIGINT) AS n_succ,
       |         CAST(sum(r * r) AS BIGINT) AS rsq
       |  FROM rows_),
       |stat AS (
       |  SELECT *,
       |         4.0 * (5.0 * (CAST(c_click AS DOUBLE) * CAST(c_click AS DOUBLE)
       |                       + CAST(c_error AS DOUBLE) * CAST(c_error AS DOUBLE)
       |                       + CAST(c_purchase AS DOUBLE) * CAST(c_purchase AS DOUBLE)
       |                       + CAST(c_signup AS DOUBLE) * CAST(c_signup AS DOUBLE)
       |                       + CAST(c_view AS DOUBLE) * CAST(c_view AS DOUBLE))
       |                - CAST(n_succ AS DOUBLE) * CAST(n_succ AS DOUBLE))
       |         / (5.0 * CAST(n_succ AS DOUBLE) - CAST(rsq AS DOUBLE)) AS q_raw
       |  FROM agg)
       |SELECT b, n_succ, rsq, c_click, c_error, c_purchase, c_signup, c_view,
       |       floor(q_raw * 10000 + 0.5) / 10000.0 AS q_stat,
       |       CAST(CASE WHEN q_raw > $Chi2Crit4 THEN 1 ELSE 0 END AS BIGINT) AS sig
       |FROM stat""".stripMargin

  /* Two residual-shaped diagnostics that round out
   * the inference battery — Brown–Forsythe (the robust Levene variant:
   * variance homogeneity via absolute deviations from the group MEDIAN)
   * and Durbin–Watson (first-order serial correlation of regression
   * residuals). Contract as ever: group medians, deviation sums and
   * residuals are exact integers (doubled medians for half-integer
   * middles, micro-quantized residuals via truncating division with
   * DECIMAL(38)/HUGEINT intermediates — the x330 overflow rule), and the
   * F/DW statistic is one identical double projection.
   * Elsewhere: x334 (TimeSeriesQueries).
   */

  /** χ²(2, 0.05)/2 — the large-sample F(2, ∞) critical value; the sig
    * flag is documented as the asymptotic approximation. */
  private val FCrit2Inf = 2.9957323735

  // ---------------------------------------------------------------- x333

  /** x333: Brown–Forsythe test — do the three return flags have equal
    * quantity SPREAD (not location)? z_ij = |x_ij − median_g| with the
    * group median taken off the 50-value census as a DOUBLED median
    * (lo-rank + hi-rank value, so half-integer medians stay integer);
    * z2 = |2v − m2_g| is then BIGINT per census row, and the one-way
    * ANOVA F over z is computed from the per-group (n, Σz2, Σz2²)
    * census sums — between = ΣS_g²/n_g − (ΣS)²/N, within = ΣQ − ΣS_g²/n_g,
    * F = (between/2)/(within/(N−3)) — as one double projection (the
    * doubling cancels in the ratio). sig compares F against the
    * F(2, ∞) = χ²₂/2 asymptote, engine-deterministic on identical
    * doubles.
    *
    * Scale: the only corpus pass is the map-side-combinable value
    * census; medians, deviations and the F arithmetic run on ≤ 50 rows
    * (broadcast cross joins of one-row scalar frames). */
  def brownForsythe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.lineitem(spark, dir)
      .select($"l_quantity".cast("long").as("v"), $"l_returnflag".as("g"))
      .groupBy($"v")
      .agg(sum(when($"g" === "A", 1L).otherwise(0L)).as("ca"),
        sum(when($"g" === "N", 1L).otherwise(0L)).as("cn"),
        sum(when($"g" === "R", 1L).otherwise(0L)).as("cr"))
    val w = Window.orderBy($"v").rowsBetween(Long.MinValue, 0)
    val cum = census
      .withColumn("cuma", sum($"ca").over(w))
      .withColumn("cumn", sum($"cn").over(w))
      .withColumn("cumr", sum($"cr").over(w))
    val tot = census.agg(sum($"ca").as("na"), sum($"cn").as("nn"), sum($"cr").as("nr"))
    def m2(cumc: String, nc: String) =
      (min(when(col(cumc) >= expr(s"($nc + 1) DIV 2"), $"v")) +
        min(when(col(cumc) >= expr(s"($nc + 2) DIV 2"), $"v")))
    val med = cum.crossJoin(broadcast(tot)).agg(
      first($"na").as("na"), first($"nn").as("nn"), first($"nr").as("nr"),
      m2("cuma", "na").as("m2a"), m2("cumn", "nn").as("m2n"), m2("cumr", "nr").as("m2r"))
    val dev = census.crossJoin(broadcast(med))
      .select($"na", $"nn", $"nr",
        $"m2a", $"m2n", $"m2r",
        ($"ca" * abs(lit(2L) * $"v" - $"m2a")).as("za"),
        ($"cn" * abs(lit(2L) * $"v" - $"m2n")).as("zn"),
        ($"cr" * abs(lit(2L) * $"v" - $"m2r")).as("zr"),
        ($"ca" * abs(lit(2L) * $"v" - $"m2a") * abs(lit(2L) * $"v" - $"m2a")).as("qa"),
        ($"cn" * abs(lit(2L) * $"v" - $"m2n") * abs(lit(2L) * $"v" - $"m2n")).as("qn"),
        ($"cr" * abs(lit(2L) * $"v" - $"m2r") * abs(lit(2L) * $"v" - $"m2r")).as("qr"))
    val agg = dev.groupBy($"na", $"nn", $"nr", $"m2a", $"m2n", $"m2r").agg(
      sum($"za").as("sa"), sum($"zn").as("sn"), sum($"zr").as("sr"),
      sum($"qa").as("q_a"), sum($"qn").as("q_n"), sum($"qr").as("q_r"))
    def d(c: Column) = c.cast("double")
    val n = d($"na") + d($"nn") + d($"nr")
    val ssg = d($"sa") * d($"sa") / d($"na") + d($"sn") * d($"sn") / d($"nn") +
      d($"sr") * d($"sr") / d($"nr")
    val stot = d($"sa") + d($"sn") + d($"sr")
    val between = ssg - stot * stot / n
    val within = d($"q_a") + d($"q_n") + d($"q_r") - ssg
    val fUnc = (between / lit(2.0)) / (within / (n - lit(3.0)))
    agg.select($"na", $"nn", $"nr", $"m2a", $"m2n", $"m2r",
      $"sa", $"sn", $"sr", $"q_a", $"q_n", $"q_r",
      QueryUtil.halfUp4(fUnc).as("f_stat"),
      when(fUnc > FCrit2Inf, 1L).otherwise(0L).as("sig"))
  }

  private val brownForsytheOracle =
    s"""WITH census AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS v,
       |         CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
       |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT *,
       |         sum(ca) OVER (ORDER BY v) AS cuma,
       |         sum(cn) OVER (ORDER BY v) AS cumn,
       |         sum(cr) OVER (ORDER BY v) AS cumr
       |  FROM census),
       |tot AS (SELECT sum(ca) AS na, sum(cn) AS nn, sum(cr) AS nr FROM census),
       |med AS (
       |  SELECT CAST(any_value(na) AS BIGINT) AS na,
       |         CAST(any_value(nn) AS BIGINT) AS nn,
       |         CAST(any_value(nr) AS BIGINT) AS nr,
       |         CAST(min(CASE WHEN cuma >= (na + 1) // 2 THEN v END)
       |            + min(CASE WHEN cuma >= (na + 2) // 2 THEN v END) AS BIGINT) AS m2a,
       |         CAST(min(CASE WHEN cumn >= (nn + 1) // 2 THEN v END)
       |            + min(CASE WHEN cumn >= (nn + 2) // 2 THEN v END) AS BIGINT) AS m2n,
       |         CAST(min(CASE WHEN cumr >= (nr + 1) // 2 THEN v END)
       |            + min(CASE WHEN cumr >= (nr + 2) // 2 THEN v END) AS BIGINT) AS m2r
       |  FROM cum CROSS JOIN tot),
       |agg AS (
       |  SELECT na, nn, nr, m2a, m2n, m2r,
       |         CAST(sum(ca * abs(2 * v - m2a)) AS BIGINT) AS sa,
       |         CAST(sum(cn * abs(2 * v - m2n)) AS BIGINT) AS sn,
       |         CAST(sum(cr * abs(2 * v - m2r)) AS BIGINT) AS sr,
       |         CAST(sum(ca * abs(2 * v - m2a) * abs(2 * v - m2a)) AS BIGINT) AS q_a,
       |         CAST(sum(cn * abs(2 * v - m2n) * abs(2 * v - m2n)) AS BIGINT) AS q_n,
       |         CAST(sum(cr * abs(2 * v - m2r) * abs(2 * v - m2r)) AS BIGINT) AS q_r
       |  FROM census CROSS JOIN med
       |  GROUP BY 1, 2, 3, 4, 5, 6),
       |stat AS (
       |  SELECT *,
       |         ((CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
       |           + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
       |           + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)
       |           - (CAST(sa AS DOUBLE) + CAST(sn AS DOUBLE) + CAST(sr AS DOUBLE))
       |             * (CAST(sa AS DOUBLE) + CAST(sn AS DOUBLE) + CAST(sr AS DOUBLE))
       |             / (CAST(na AS DOUBLE) + CAST(nn AS DOUBLE) + CAST(nr AS DOUBLE))) / 2.0)
       |         / ((CAST(q_a AS DOUBLE) + CAST(q_n AS DOUBLE) + CAST(q_r AS DOUBLE)
       |             - (CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
       |                + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
       |                + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)))
       |            / (CAST(na AS DOUBLE) + CAST(nn AS DOUBLE) + CAST(nr AS DOUBLE) - 3.0)) AS f_raw
       |  FROM agg)
       |SELECT na, nn, nr, m2a, m2n, m2r, sa, sn, sr, q_a, q_n, q_r,
       |       floor(f_raw * 10000 + 0.5) / 10000.0 AS f_stat,
       |       CAST(CASE WHEN f_raw > $FCrit2Inf THEN 1 ELSE 0 END AS BIGINT) AS sig
       |FROM stat""".stripMargin

  /* Stratified-association and multi-rater-agreement
   * statistics — the Mantel–Haenszel pooled odds ratio with its χ² test
   * (the epidemiology/experimentation standard for combining 2×2 tables
   * across confounder strata, here ship-year strata) and Fleiss' kappa
   * (chance-corrected agreement for ≥ 3 raters, generalizing x114's
   * two-rater Cohen kappa). MH's per-stratum rational terms are
   * micro-quantized with truncating division (x330 convention, products
   * in DECIMAL(38)/HUGEINT); Fleiss runs on pure BIGINT censuses.
   * Elsewhere: x336 (CurationQueries).
   */

  /** χ²(1, 0.05) critical value for the MH test. */
  private val Chi2Crit1 = 3.841458821
  /** Fixed-point scale for the MH rational terms (micro-units). */
  private val MhScale = 1000000L

  // ---------------------------------------------------------------- x335

  /** x335: Mantel–Haenszel — is a deep discount (> 0.05) associated with
    * returns (flag 'R'), pooled across ship-year strata so a year-level
    * confounder (campaign years with both more discounts and more
    * returns) cannot fake the association? Per-stratum 2×2 cells
    * (a = discounted∧returned … d) are census counts; the MH terms
    * aᵢdᵢ/nᵢ, bᵢcᵢ/nᵢ, the expectation (a+b)(a+c)/nᵢ and the variance
    * (a+b)(c+d)(a+c)(b+d)/(nᵢ²(nᵢ−1)) are quantized to micro-units with
    * truncating division — every product in DECIMAL(38)/HUGEINT since
    * the 4-way variance product overflows BIGINT at ~10⁵ rows/stratum.
    * OR_MH = Σad/n ÷ Σbc/n; χ²_MH = (Σa·10⁶ − ΣE_q)²/(10⁶·ΣV_q)
    * (no continuity correction), flagged against χ²₀.₀₅,₁.
    *
    * Scale: one map-side-combinable groupBy(year) corpus pass; the MH
    * algebra runs on the ≤ 7-row stratum frame with window-sums. */
  def mantelHaenszel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.lineitem(spark, dir)
      .select(year($"l_shipdate").cast("long").as("yr"),
        ($"l_discount" > 0.05).as("e"), ($"l_returnflag" === "R").as("o"))
      .groupBy($"yr").agg(
        sum(when($"e" && $"o", 1L).otherwise(0L)).as("a"),
        sum(when($"e" && !$"o", 1L).otherwise(0L)).as("b"),
        sum(when(!$"e" && $"o", 1L).otherwise(0L)).as("c"),
        sum(when(!$"e" && !$"o", 1L).otherwise(0L)).as("d"))
      .withColumn("n", $"a" + $"b" + $"c" + $"d")
      // a 1-row stratum has Var = x/0: Spark DIV yields null while DuckDB
      // // errors — exclude degenerate strata identically on both sides
      .filter($"n" >= 2L)
    def dec(s: String) = s"CAST($s AS DECIMAL(38,0))"
    val terms = cells
      .withColumn("adn", expr(
        s"CAST((${dec("a")} * ${dec("d")} * $MhScale) DIV ${dec("n")} AS BIGINT)"))
      .withColumn("bcn", expr(
        s"CAST((${dec("b")} * ${dec("c")} * $MhScale) DIV ${dec("n")} AS BIGINT)"))
      .withColumn("e_q", expr(
        s"CAST((${dec("a + b")} * ${dec("a + c")} * $MhScale) DIV ${dec("n")} AS BIGINT)"))
      .withColumn("v_q", expr(
        s"CAST((${dec("a + b")} * ${dec("c + d")} * ${dec("a + c")} * ${dec("b + d")} * $MhScale)" +
          s" DIV (${dec("n")} * ${dec("n")} * ${dec("n - 1")}) AS BIGINT)"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val g = terms
      .withColumn("s_adn", sum($"adn").over(wAll))
      .withColumn("s_bcn", sum($"bcn").over(wAll))
      .withColumn("s_a", sum($"a").over(wAll))
      .withColumn("s_e", sum($"e_q").over(wAll))
      .withColumn("s_v", sum($"v_q").over(wAll))
    def db(c: Column) = c.cast("double")
    val orMh = db($"s_adn") / db($"s_bcn")
    val diff = db($"s_a") * lit(MhScale.toDouble) - db($"s_e")
    val chi2 = diff * diff / (lit(MhScale.toDouble) * db($"s_v"))
    g.select($"yr", $"a", $"b", $"c", $"d", $"adn", $"bcn", $"e_q", $"v_q",
      QueryUtil.halfUp4(orMh).as("or_mh"),
      QueryUtil.halfUp4(chi2).as("chi2_mh"),
      when(chi2 > Chi2Crit1, 1L).otherwise(0L).as("sig"))
      .orderBy($"yr")
  }

  private val mantelHaenszelOracle =
    s"""WITH cells AS MATERIALIZED (
       |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
       |         CAST(sum(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |         CAST(sum(CASE WHEN l_discount > 0.05 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |         CAST(sum(CASE WHEN l_discount <= 0.05 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |         CAST(sum(CASE WHEN l_discount <= 0.05 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM lineitem GROUP BY 1
       |  HAVING a + b + c + d >= 2),
       |terms AS (
       |  SELECT *, a + b + c + d AS n,
       |         CAST((CAST(a AS HUGEINT) * d * $MhScale) // (a + b + c + d) AS BIGINT) AS adn,
       |         CAST((CAST(b AS HUGEINT) * c * $MhScale) // (a + b + c + d) AS BIGINT) AS bcn,
       |         CAST((CAST(a + b AS HUGEINT) * (a + c) * $MhScale) // (a + b + c + d) AS BIGINT) AS e_q,
       |         CAST((CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d) * $MhScale)
       |              // (CAST(a + b + c + d AS HUGEINT) * (a + b + c + d) * (a + b + c + d - 1)) AS BIGINT) AS v_q
       |  FROM cells),
       |g AS (
       |  SELECT *,
       |         sum(adn) OVER () AS s_adn, sum(bcn) OVER () AS s_bcn,
       |         sum(a) OVER () AS s_a, sum(e_q) OVER () AS s_e, sum(v_q) OVER () AS s_v
       |  FROM terms),
       |stat AS (
       |  SELECT *,
       |         CAST(s_adn AS DOUBLE) / CAST(s_bcn AS DOUBLE) AS or_raw,
       |         (CAST(s_a AS DOUBLE) * $MhScale.0 - CAST(s_e AS DOUBLE))
       |         * (CAST(s_a AS DOUBLE) * $MhScale.0 - CAST(s_e AS DOUBLE))
       |         / ($MhScale.0 * CAST(s_v AS DOUBLE)) AS chi2_raw
       |  FROM g)
       |SELECT yr, a, b, c, d, adn, bcn, e_q, v_q,
       |       floor(or_raw * 10000 + 0.5) / 10000.0 AS or_mh,
       |       floor(chi2_raw * 10000 + 0.5) / 10000.0 AS chi2_mh,
       |       CAST(CASE WHEN chi2_raw > $Chi2Crit1 THEN 1 ELSE 0 END AS BIGINT) AS sig
       |FROM stat ORDER BY yr""".stripMargin

  /* The rank-based SCALE test (Ansari–Bradley —
   * the nonparametric sibling of x333's Brown–Forsythe: do two groups
   * differ in dispersion?) and the sort-order advisor (which clustering
   * key minimizes the table's total RLE footprint — the layout DECISION
   * on top of x338's per-column encoding census; q81's z-order kin).
   * Elsewhere: x352 (EngineOpsQueries).
   */

  /** Two-sided normal critical value at α = 0.05. */
  private val ZCrit = 1.959963985

  // ---------------------------------------------------------------- x351

  /** x351: Ansari–Bradley test on quantity dispersion, flag 'A' vs 'R'.
    * AB scores rank from BOTH ends (score(r) = min(r, N+1−r)); tie
    * blocks take the block-average score. Everything stays exact off the
    * value census: a tie block occupying ranks [lo, hi] has a CLOSED-FORM
    * integer score sum (ascending arm Σr up to ⌊(N+1)/2⌋, descending arm
    * Σ(N+1−r) after it — consecutive-integer sums, so the DIV 2 is
    * lossless), and the per-group score mass W = Σ cₐ·blockSum/t
    * (MILLI-quantized) plus the squared mass Σ blockSum²/t
    * (KILO-quantized) with truncating division and DECIMAL(38)/HUGEINT
    * products — bs²·10⁶ blows 2⁶³ already at sf0.01, so the scales are
    * sized for the SUMS to stay BIGINT at GenScale sf1 (the x330 rule).
    * z = (W − nₐ·S/N) / √(nₐ·n_r·(N·Σs² − S²)/(N²(N−1))) as identical
    * doubles, two-sided flag at 1.96.
    *
    * Scale: the only corpus pass is the map-side-combinable value
    * census (≤ 50 rows); the score algebra never leaves it. */
  def ansariBradley(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.lineitem(spark, dir)
      .filter($"l_returnflag".isin("A", "R"))
      .select($"l_quantity".cast("long").as("v"), $"l_returnflag".as("g"))
      .groupBy($"v")
      .agg(sum(when($"g" === "A", 1L).otherwise(0L)).as("ca"),
        sum(when($"g" === "R", 1L).otherwise(0L)).as("cr"))
      .withColumn("t", $"ca" + $"cr")
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
    val tot = census.agg(sum($"t").as("nn"), sum($"ca").as("na"), sum($"cr").as("nr"))
    val blocks = census
      .withColumn("lo", coalesce(sum($"t").over(w), lit(0L)) + 1L)
      .withColumn("hi", coalesce(sum($"t").over(w), lit(0L)) + $"t")
      .crossJoin(broadcast(tot))
      // ascending arm [lo, min(hi, c)] with c = (nn+1) DIV 2, then the
      // descending arm [max(lo, c+1), hi] scoring nn+1-r
      .withColumn("c", expr("(nn + 1) DIV 2"))
      .withColumn("b1", least($"hi", $"c"))
      .withColumn("a2", greatest($"lo", $"c" + 1L))
      .withColumn("s1", when($"b1" >= $"lo",
        expr("(b1 * (b1 + 1) - (lo - 1) * lo) DIV 2")).otherwise(0L))
      .withColumn("s2", when($"hi" >= $"a2",
        ($"hi" - $"a2" + 1L) * ($"nn" + 1L) -
          expr("(hi * (hi + 1) - (a2 - 1) * a2) DIV 2")).otherwise(0L))
      .withColumn("bs", $"s1" + $"s2")
    // bs ~ t·N/4, so bs²·10⁶ blows 2⁶³ already at sf0.01 — products run
    // in DECIMAL(38) and the quantization scales are sized so the SUMS
    // stay in BIGINT at GenScale sf1: W in milli-units, Σs² in kilo-units
    val agg = blocks.groupBy($"nn", $"na", $"nr").agg(
      sum($"bs").as("stot"),
      sum(expr("CAST((CAST(ca AS DECIMAL(38,0)) * bs * 1000) DIV t AS BIGINT)")).as("wq"),
      sum(expr("CAST((CAST(bs AS DECIMAL(38,0)) * bs) DIV (CAST(t AS DECIMAL(38,0)) * 1000) AS BIGINT)")).as("s2q"))
    def d(c: Column) = c.cast("double")
    val wA = d($"wq") / 1e3
    val e0 = d($"na") * d($"stot") / d($"nn")
    val varW = d($"na") * d($"nr") *
      (d($"nn") * (d($"s2q") * 1e3) - d($"stot") * d($"stot")) /
      (d($"nn") * d($"nn") * (d($"nn") - 1.0))
    val z = (wA - e0) / sqrt(varW)
    agg.select($"nn", $"na", $"nr", $"stot", $"wq", $"s2q",
      QueryUtil.halfUp4(z).as("z"),
      when(abs(z) > ZCrit, 1L).otherwise(0L).as("sig"))
  }

  private val ansariBradleyOracle =
    s"""WITH census AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS v,
       |         CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
       |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
       |cum AS (
       |  SELECT *, ca + cr AS t,
       |         COALESCE(sum(ca + cr) OVER (ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
       |  FROM census),
       |tot AS (SELECT CAST(sum(ca + cr) AS BIGINT) AS nn, CAST(sum(ca) AS BIGINT) AS na,
       |               CAST(sum(cr) AS BIGINT) AS nr FROM census),
       |blocks AS (
       |  SELECT ca, cr, t, prev + 1 AS lo, prev + t AS hi, nn, na, nr,
       |         (nn + 1) // 2 AS c
       |  FROM cum CROSS JOIN tot),
       |scored AS (
       |  SELECT *,
       |         CASE WHEN least(hi, c) >= lo
       |              THEN (least(hi, c) * (least(hi, c) + 1) - (lo - 1) * lo) // 2
       |              ELSE 0 END
       |       + CASE WHEN hi >= greatest(lo, c + 1)
       |              THEN (hi - greatest(lo, c + 1) + 1) * (nn + 1)
       |                   - (hi * (hi + 1) - (greatest(lo, c + 1) - 1) * greatest(lo, c + 1)) // 2
       |              ELSE 0 END AS bs
       |  FROM blocks),
       |agg AS (
       |  SELECT nn, na, nr,
       |         CAST(sum(bs) AS BIGINT) AS stot,
       |         CAST(sum((CAST(ca AS HUGEINT) * bs * 1000) // t) AS BIGINT) AS wq,
       |         CAST(sum((CAST(bs AS HUGEINT) * bs) // (CAST(t AS HUGEINT) * 1000)) AS BIGINT) AS s2q
       |  FROM scored GROUP BY 1, 2, 3),
       |stat AS (
       |  SELECT *,
       |         (CAST(wq AS DOUBLE) / 1e3
       |          - CAST(na AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(nn AS DOUBLE))
       |         / sqrt(CAST(na AS DOUBLE) * CAST(nr AS DOUBLE)
       |                * (CAST(nn AS DOUBLE) * (CAST(s2q AS DOUBLE) * 1e3)
       |                   - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
       |                / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
       |                   * (CAST(nn AS DOUBLE) - 1.0))) AS z_raw
       |  FROM agg)
       |SELECT nn, na, nr, stot, wq, s2q,
       |       floor(z_raw * 10000 + 0.5) / 10000.0 AS z,
       |       CAST(CASE WHEN abs(z_raw) > $ZCrit THEN 1 ELSE 0 END AS BIGINT) AS sig
       |FROM stat""".stripMargin

  // ---------------------------------------------------------------- x354

  /** x354: Somers' D — does the discount LEVEL (ordinal X, cents) predict
    * the quantity (ordinal Y)? D_yx = (C − D)/(C + D + T_Y): concordant,
    * discordant and tied-on-Y-only pair counts, ALL computed from the
    * (discount, quantity) 2-D census — the pair "join" is census², a few
    * hundred cells, never row pairs (the same trick as x325's energy
    * statistic). Exact BIGINT counts; the ratio is one double division
    * plus halfUp4. The asymmetric denominator (penalizing only Y-ties)
    * is what distinguishes D from x234's tau-a and x322's Cliff delta.
    *
    * Scale: one map-side-combinable groupBy census; the cell-pair join
    * is |X domain|·|Y domain| squared — constants. */
  def somersD(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.lineitem(spark, dir)
      .select(floor($"l_discount" * 100 + 0.5).cast("long").as("x"),
        $"l_quantity".cast("long").as("y"))
      .groupBy($"x", $"y").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val pairs = cells.toDF("x1", "y1", "n1")
      .crossJoin(cells.toDF("x2", "y2", "n2"))
    // every predicate uses x1 < x2, so each unordered pair is counted
    // exactly ONCE — the first cut used the symmetric x1 <> x2 for the
    // Y-tie term, double-counting T_Y against single-counted C/D and
    // deflating D toward (C−D)/(C+D+2T_Y); caught by the r13 review
    val agg = pairs.agg(
      sum(when($"x1" < $"x2" && $"y1" < $"y2", $"n1" * $"n2").otherwise(0L)).as("nc"),
      sum(when($"x1" < $"x2" && $"y1" > $"y2", $"n1" * $"n2").otherwise(0L)).as("nd"),
      sum(when($"x1" < $"x2" && $"y1" === $"y2", $"n1" * $"n2").otherwise(0L)).as("ty"))
    agg.select($"nc", $"nd", $"ty",
      QueryUtil.halfUp4(($"nc" - $"nd").cast("double") /
        ($"nc" + $"nd" + $"ty").cast("double")).as("somers_d"))
  }

  private val somersDOracle =
    """WITH cells AS MATERIALIZED (
      |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
      |         CAST(l_quantity AS BIGINT) AS y,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN a.x < b.x AND a.y < b.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS nc,
      |    CAST(sum(CASE WHEN a.x < b.x AND a.y > b.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS nd,
      |    CAST(sum(CASE WHEN a.x < b.x AND a.y = b.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS ty
      |  FROM cells a CROSS JOIN cells b)
      |SELECT nc, nd, ty,
      |       floor((CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
      |             / (CAST(nc AS DOUBLE) + CAST(nd AS DOUBLE) + CAST(ty AS DOUBLE))
      |             * 10000 + 0.5) / 10000.0 AS somers_d
      |FROM agg""".stripMargin

  /* Three census-shaped statistics rounding
   * out their families — Mood's median test (k-group location via the
   * global-median dichotomy; the coarse, assumption-free sibling of
   * x310's Kruskal–Wallis), partial correlation (the x235 moment-algebra
   * machinery extended to a third controlled variable), and the
   * Nelson–Aalen cumulative-hazard estimator (the counting-process
   * companion to x197's Kaplan–Meier).
   * Elsewhere: x358 (ExperimentQueries).
   */

  /** χ²(2, 0.05). */
  private val Chi2Crit2 = 5.991464547

  // ---------------------------------------------------------------- x356

  /** x356: Mood's median test — do the three return flags share a common
    * quantity median? The GLOBAL doubled median comes off the value
    * census (lo+hi rank values, exact); each group then splits into
    * above (2v > m2) vs not-above, and the 2×3 table's χ² = Σ(O−E)²/E is
    * computed from the six BIGINT cell counts with expectations
    * E = rowTotal·colTotal/N as identical doubles. sig at χ²₀.₀₅,₂.
    *
    * Scale: one map-side-combinable value census; the dichotomy and the
    * χ² run on ≤ 50 rows. */
  def moodsMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.lineitem(spark, dir)
      .select($"l_quantity".cast("long").as("v"), $"l_returnflag".as("g"))
      .groupBy($"v")
      .agg(sum(when($"g" === "A", 1L).otherwise(0L)).as("ca"),
        sum(when($"g" === "N", 1L).otherwise(0L)).as("cn"),
        sum(when($"g" === "R", 1L).otherwise(0L)).as("cr"))
      .withColumn("t", $"ca" + $"cn" + $"cr")
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = census.withColumn("cumt", sum($"t").over(w))
    val tot = census.agg(sum($"t").as("nn"))
    val med = cum.crossJoin(broadcast(tot)).agg(
      first($"nn").as("nn"),
      (min(when($"cumt" >= expr("(nn + 1) DIV 2"), $"v")) +
        min(when($"cumt" >= expr("(nn + 2) DIV 2"), $"v"))).as("m2"))
    val cells = census.crossJoin(broadcast(med)).agg(
      first($"nn").as("nn"), first($"m2").as("m2"),
      sum(when(lit(2L) * $"v" > $"m2", $"ca").otherwise(0L)).as("a_ab"),
      sum(when(lit(2L) * $"v" > $"m2", $"cn").otherwise(0L)).as("n_ab"),
      sum(when(lit(2L) * $"v" > $"m2", $"cr").otherwise(0L)).as("r_ab"),
      sum($"ca").as("a_tot"), sum($"cn").as("n_tot"), sum($"cr").as("r_tot"))
    def d(c: Column) = c.cast("double")
    val abTot = d($"a_ab") + d($"n_ab") + d($"r_ab")
    val nn = d($"nn")
    def cellChi(o: Column, rowT: Column, colT: Column) = {
      val e = rowT * colT / nn
      (d(o) - e) * (d(o) - e) / e
    }
    val chi2 = cellChi($"a_ab", abTot, d($"a_tot")) +
      cellChi($"n_ab", abTot, d($"n_tot")) +
      cellChi($"r_ab", abTot, d($"r_tot")) +
      cellChi($"a_tot" - $"a_ab", nn - abTot, d($"a_tot")) +
      cellChi($"n_tot" - $"n_ab", nn - abTot, d($"n_tot")) +
      cellChi($"r_tot" - $"r_ab", nn - abTot, d($"r_tot"))
    cells.select($"nn", $"m2", $"a_ab", $"n_ab", $"r_ab",
      $"a_tot", $"n_tot", $"r_tot",
      QueryUtil.halfUp4(chi2).as("chi2"),
      when(chi2 > Chi2Crit2, 1L).otherwise(0L).as("sig"))
  }

  private val moodsMedianOracle =
    s"""WITH census AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS v,
       |         CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
       |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT *, ca + cn + cr AS t,
       |         sum(ca + cn + cr) OVER (ORDER BY v) AS cumt
       |  FROM census),
       |tot AS (SELECT CAST(sum(ca + cn + cr) AS BIGINT) AS nn FROM census),
       |med AS (
       |  SELECT CAST(any_value(nn) AS BIGINT) AS nn,
       |         CAST(min(CASE WHEN cumt >= (nn + 1) // 2 THEN v END)
       |            + min(CASE WHEN cumt >= (nn + 2) // 2 THEN v END) AS BIGINT) AS m2
       |  FROM cum CROSS JOIN tot),
       |cells AS (
       |  SELECT any_value(m.nn) AS nn, any_value(m.m2) AS m2,
       |         CAST(sum(CASE WHEN 2 * v > m.m2 THEN ca ELSE 0 END) AS BIGINT) AS a_ab,
       |         CAST(sum(CASE WHEN 2 * v > m.m2 THEN cn ELSE 0 END) AS BIGINT) AS n_ab,
       |         CAST(sum(CASE WHEN 2 * v > m.m2 THEN cr ELSE 0 END) AS BIGINT) AS r_ab,
       |         CAST(sum(ca) AS BIGINT) AS a_tot, CAST(sum(cn) AS BIGINT) AS n_tot,
       |         CAST(sum(cr) AS BIGINT) AS r_tot
       |  FROM census CROSS JOIN med m),
       |stat AS (
       |  SELECT *,
       |    (CAST(a_ab AS DOUBLE) + CAST(n_ab AS DOUBLE) + CAST(r_ab AS DOUBLE)) AS ab_tot
       |  FROM cells),
       |chi AS (
       |  SELECT *,
       |    (CAST(a_ab AS DOUBLE) - ab_tot * CAST(a_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * (CAST(a_ab AS DOUBLE) - ab_tot * CAST(a_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      / (ab_tot * CAST(a_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |  + (CAST(n_ab AS DOUBLE) - ab_tot * CAST(n_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * (CAST(n_ab AS DOUBLE) - ab_tot * CAST(n_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      / (ab_tot * CAST(n_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |  + (CAST(r_ab AS DOUBLE) - ab_tot * CAST(r_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * (CAST(r_ab AS DOUBLE) - ab_tot * CAST(r_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      / (ab_tot * CAST(r_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |  + (CAST(a_tot - a_ab AS DOUBLE) - (CAST(nn AS DOUBLE) - ab_tot) * CAST(a_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * (CAST(a_tot - a_ab AS DOUBLE) - (CAST(nn AS DOUBLE) - ab_tot) * CAST(a_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      / ((CAST(nn AS DOUBLE) - ab_tot) * CAST(a_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |  + (CAST(n_tot - n_ab AS DOUBLE) - (CAST(nn AS DOUBLE) - ab_tot) * CAST(n_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * (CAST(n_tot - n_ab AS DOUBLE) - (CAST(nn AS DOUBLE) - ab_tot) * CAST(n_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      / ((CAST(nn AS DOUBLE) - ab_tot) * CAST(n_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |  + (CAST(r_tot - r_ab AS DOUBLE) - (CAST(nn AS DOUBLE) - ab_tot) * CAST(r_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * (CAST(r_tot - r_ab AS DOUBLE) - (CAST(nn AS DOUBLE) - ab_tot) * CAST(r_tot AS DOUBLE) / CAST(nn AS DOUBLE))
       |      / ((CAST(nn AS DOUBLE) - ab_tot) * CAST(r_tot AS DOUBLE) / CAST(nn AS DOUBLE)) AS chi2_raw
       |  FROM stat)
       |SELECT nn, m2, a_ab, n_ab, r_ab, a_tot, n_tot, r_tot,
       |       floor(chi2_raw * 10000 + 0.5) / 10000.0 AS chi2,
       |       CAST(CASE WHEN chi2_raw > $Chi2Crit2 THEN 1 ELSE 0 END AS BIGINT) AS sig
       |FROM chi""".stripMargin

  // ---------------------------------------------------------------- x357

  /** x357: partial correlation r_xy·z — is quantity still correlated
    * with line revenue once the DISCOUNT level is controlled for? The
    * sufficient statistic is the exact BIGINT moment census (n, Σ, Σ²
    * and cross-sums of x = quantity, y = revenue DOLLARS — floored to
    * keep Σy² within 2⁶³ at GenScale sf1 — z = discount cents); the
    * three pairwise Pearson r's and the partial
    * (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) are one identical double
    * projection. Extends x235's multi-OLS moment algebra to the
    * control-variable question.
    *
    * Scale: a single map-side-combinable aggregate — no joins at all. */
  def partialCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir).select(
      $"l_quantity".cast("long").as("x"),
      floor($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("long").as("y"),
      floor($"l_discount" * 100 + 0.5).cast("long").as("z"))
    val m = base.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"), sum($"z").as("sz"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"), sum($"z" * $"z").as("szz"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"z").as("sxz"), sum($"y" * $"z").as("syz"))
    def d(c: Column) = c.cast("double")
    def r(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column) =
      (d($"n") * d(sab) - d(sa) * d(sb)) /
        sqrt((d($"n") * d(saa) - d(sa) * d(sa)) * (d($"n") * d(sbb) - d(sb) * d(sb)))
    val rxy = r($"sxy", $"sx", $"sy", $"sxx", $"syy")
    val rxz = r($"sxz", $"sx", $"sz", $"sxx", $"szz")
    val ryz = r($"syz", $"sy", $"sz", $"syy", $"szz")
    val partial = (rxy - rxz * ryz) / sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    m.select($"n", $"sx", $"sy", $"sz", $"sxy", $"sxz", $"syz",
      QueryUtil.halfUp4(rxy).as("r_xy"), QueryUtil.halfUp4(rxz).as("r_xz"),
      QueryUtil.halfUp4(ryz).as("r_yz"), QueryUtil.halfUp4(partial).as("r_xy_z"))
  }

  private val partialCorrOracle = {
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      s"""(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE) - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE))
         | / sqrt((CAST(n AS DOUBLE) * CAST($saa AS DOUBLE) - CAST($sa AS DOUBLE) * CAST($sa AS DOUBLE))
         |        * (CAST(n AS DOUBLE) * CAST($sbb AS DOUBLE) - CAST($sb AS DOUBLE) * CAST($sb AS DOUBLE)))""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS x,
       |         CAST(floor(l_extendedprice * (1.0 - l_discount)) AS BIGINT) AS y,
       |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
       |  FROM lineitem),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(z) AS BIGINT) AS sz,
       |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
       |         CAST(sum(z * z) AS BIGINT) AS szz,
       |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * z) AS BIGINT) AS sxz,
       |         CAST(sum(y * z) AS BIGINT) AS syz
       |  FROM base),
       |rr AS (
       |  SELECT *,
       |         ${r("sxy", "sx", "sy", "sxx", "syy")} AS rxy,
       |         ${r("sxz", "sx", "sz", "sxx", "szz")} AS rxz,
       |         ${r("syz", "sy", "sz", "syy", "szz")} AS ryz
       |  FROM m)
       |SELECT n, sx, sy, sz, sxy, sxz, syz,
       |       floor(rxy * 10000 + 0.5) / 10000.0 AS r_xy,
       |       floor(rxz * 10000 + 0.5) / 10000.0 AS r_xz,
       |       floor(ryz * 10000 + 0.5) / 10000.0 AS r_yz,
       |       floor((rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
       |             * 10000 + 0.5) / 10000.0 AS r_xy_z
       |FROM rr""".stripMargin
  }

  /* Sequential experimentation + forecast-quality
   * decomposition — Wald's SPRT over event streams (batch x373, streaming
   * twin x375 through transformWithState ValueState) and the Murphy
   * decomposition of the Brier score (x374), all exact-integer /
   * fixed-point so both engines agree bit-for-bit.
   * Elsewhere: x374 (TrainingQueries); x375 (StreamingQueries).
   */

  /** SPRT constants, 1e-6 fixed point: testing Bernoulli p1=0.6 vs
    * p0=0.4. Per-observation LLR = ±ln(1.5); boundaries ±ln((1-β)/α)
    * with α=β=0.05 → ±ln 19. Literal integers, so the random walk is
    * exact BIGINT arithmetic in both engines. */
  private[queries] val StepFp = 405465L      // floor(ln(1.5) * 1e6 + 0.5)
  private[queries] val BoundFp = 2944439L    // floor(ln(19) * 1e6 + 0.5)
  /** Success threshold on `value` (median ≈ 35.7, so p sits near 0.5 and
    * the walk genuinely wanders before deciding). */
  private[queries] val SprtThresh = 35.0

  /** x373: Wald SPRT boundary audit — per event type, walk the events in
    * (ts, event_id) order, add ±ln(1.5) per observation (value >= 35 is
    * a success), and report the FIRST boundary crossing: accept_h1 at
    * +ln 19, accept_h0 at −ln 19, else `continue` with the final state.
    * The sequential-testing primitive an experimentation platform runs
    * instead of fixed-horizon tests; one window cumsum + one argmin, no
    * iterative pass. */
  def sprtBoundary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"sec", $"event_id")
    val walk = Tables.events(spark, dir)
      .select($"event_type", $"event_id",
        expr("unix_timestamp(cast(date_trunc('second', ts) as timestamp))")
          .cast("long").as("sec"),
        when($"value" >= SprtThresh, lit(StepFp)).otherwise(lit(-StepFp)).as("step"))
      .withColumn("n", row_number().over(w))
      .withColumn("llr", sum($"step").over(w))
      .localCheckpoint(true) // three consumers (crossed, totals, llr join)
    val crossed = walk.filter(abs($"llr") >= BoundFp)
      .groupBy($"event_type").agg(min($"n").as("n_dec"))
    val tot = walk.groupBy($"event_type")
      .agg(max($"n").as("n_total"), max(struct($"n", $"llr")).as("fin"))
      .select($"event_type", $"n_total", $"fin.llr".as("llr_final"))
    tot.join(crossed, Seq("event_type"), "left")
      .join(walk.select($"event_type", $"n".as("n_dec"), $"llr".as("llr_dec")),
        Seq("event_type", "n_dec"), "left")
      .select($"event_type",
        when($"n_dec".isNull, "continue")
          .when($"llr_dec" >= BoundFp, "accept_h1")
          .otherwise("accept_h0").as("decision"),
        coalesce($"n_dec", $"n_total").as("n_at_decision"),
        coalesce($"llr_dec", $"llr_final").as("llr_fp"),
        $"n_total")
      .orderBy("event_type")
  }

  private val sprtOracle =
    s"""WITH e AS (SELECT event_type, event_id,
       |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
       |             CASE WHEN value >= $SprtThresh THEN $StepFp ELSE -$StepFp END AS step
       |           FROM events),
       |walk AS (SELECT event_type, event_id,
       |           row_number() OVER w AS n,
       |           sum(step) OVER w AS llr
       |         FROM e
       |         WINDOW w AS (PARTITION BY event_type ORDER BY sec, event_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |crossed AS (SELECT event_type, min(n) AS n_dec FROM walk
       |            WHERE abs(llr) >= $BoundFp GROUP BY event_type),
       |tot AS (SELECT event_type, max(n) AS n_total,
       |          max_by(llr, n) AS llr_final
       |        FROM walk GROUP BY event_type)
       |SELECT t.event_type,
       |       CASE WHEN c.n_dec IS NULL THEN 'continue'
       |            WHEN wd.llr >= $BoundFp THEN 'accept_h1'
       |            ELSE 'accept_h0' END AS decision,
       |       CAST(coalesce(c.n_dec, t.n_total) AS BIGINT) AS n_at_decision,
       |       CAST(coalesce(wd.llr, t.llr_final) AS BIGINT) AS llr_fp,
       |       CAST(t.n_total AS BIGINT) AS n_total
       |FROM tot t
       |LEFT JOIN crossed c ON c.event_type = t.event_type
       |LEFT JOIN walk wd ON wd.event_type = t.event_type AND wd.n = c.n_dec
       |ORDER BY t.event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q54_winsorize",
      "exact order-statistic winsorization per group (integer rank bounds, cents-exact mean)",
      winsorize, Some(winsorizeOracle)),
    QueryDef("q90_hill_tail",
      "Hill tail-index over top-k order values (fixed-point log-excess sum, Pareto alpha)",
      hillTail, Some(hillTailOracle)),
    QueryDef("q86_equidepth",
      "Equi-depth (quantile) histogram: deterministic ntile buckets with exact cents boundaries",
      equiDepth, Some(equiDepthOracle)),
    QueryDef("q87_runs_test",
      "Wald-Wolfowitz runs test on daily revenue vs lower median (exact counts, IEEE sqrt z)",
      runsTest, Some(runsTestOracle)),
    QueryDef("q79_mann_whitney",
      "Mann-Whitney U rank-sum test per return flag (doubled average ranks, tie-corrected z)",
      mannWhitney, Some(mannWhitneyOracle)),
    QueryDef("q80_ks_test",
      "Kolmogorov-Smirnov two-sample test per return flag (exact integer ECDF-gap maximum)",
      ksTest, Some(ksTestOracle)),
    QueryDef("q75_welch_ttest",
      "Welch two-sample t-test per return flag (exact moments, IEEE-exact t/df)",
      welchTTest, Some(welchTTestOracle)),
    QueryDef("q76_mann_kendall",
      "Mann-Kendall trend test on monthly order counts per nation (exact S and tie-corrected var)",
      mannKendall, Some(mannKendallOracle)),
    QueryDef("q77_spearman",
      "Spearman rank correlation acctbal vs order count per nation (integer doubled average ranks)",
      spearman, Some(spearmanOracle)),
    QueryDef("q78_hampel",
      "Hampel rolling-7 median/MAD outlier filter on monthly revenue (integer threshold predicate)",
      hampel, Some(hampelOracle)),
    QueryDef("q82_theil_sen",
      "Theil-Sen robust trend per priority: median pairwise slope + median-residual intercept",
      theilSen, Some(theilSenOracle)),
    QueryDef("x195_quantile_normalize",
      "rank/quantile normalization via histogram prefix-sum (window over distinct values, not rows); per-lang decile uniformity",
      quantileNormalize, Some(quantileOracle)),
    QueryDef("x201_anova",
      "one-way ANOVA F-test of order value across priorities: per-group integer moments, group-quantized SS, spelled-out F and eta2",
      anova, Some(anovaOracle)),
    QueryDef("x204_isotonic",
      "isotonic calibration of urgent-rate vs order value via the exact minimax identity over quantized interval averages",
      isotonic, Some(isotonicOracle)),
    QueryDef("x205_wasserstein",
      "1-D Wasserstein-1 distance between 1995 and 1996 order-value histograms: integer shares, one cumulative window, dollar-scaled",
      wasserstein, Some(wassersteinOracle)),
    QueryDef("x233_pinball",
      "pinball loss of exact train quantiles (tau 0.1/0.5/0.9) on the 1998 holdout: integer per-mille losses plus coverage",
      pinball, Some(pinballOracle)),
    QueryDef("x234_kendall_tau",
      "Kendall tau-b between 1995/1996 part-revenue rankings over the 1995 top-100: bounded pair join, exact concordance counts",
      kendallTau, Some(kendallOracle)),
    QueryDef("x235_ols_multi",
      "3-feature OLS (intercept, trend, weekend dummy) by Cramer's rule on exact integer moments; engine-shared determinant strings",
      olsMulti, Some(olsOracle)),
    QueryDef("x263_theil_sen",
      "Theil-Sen robust trend: exact-rational median of pairwise monthly slopes per nation",
      theilSenX263, Some(theilSenOracleX263)),
    QueryDef("x266_quantile_normalize",
      "cross-shard quantile normalization onto pooled ranks with before/after audit",
      quantileNormalizeX266, Some(quantileNormalizeOracle)),
    QueryDef("x270_mann_whitney",
      "Mann-Whitney rank-sum via value census (exact half-integer ranks, BIGINT tie correction)",
      mannWhitneyX270, Some(mannWhitneyOracleX270)),
    QueryDef("x280_median_ci",
      "distribution-free median CI by order statistics over the value census",
      medianCi, Some(medianCiOracle)),
    QueryDef("x285_ks_test",
      "exact two-sample Kolmogorov-Smirnov over the value census with HUGEINT decision",
      ksTestX285, Some(ksTestOracleX285)),
    QueryDef("x293_perm_test",
      "exact two-sample permutation test: complete C(12,6) enumeration, integer p-values",
      permTest, Some(permTestOracle)),
    QueryDef("x294_bh_fdr",
      "Benjamini-Hochberg FDR over exact permutation p-values (pure BIGINT step-up rule)",
      bhFdr, Some(bhFdrOracle)),
    QueryDef("x296_hodges_lehmann",
      "Hodges-Lehmann pseudo-median from the value census: pairwise Walsh-average median without n^2 rows",
      hodgesLehmann, Some(hodgesLehmannOracle)),
    QueryDef("x308_trend_test",
      "Cochran-Armitage trend test over ordered categories: exact integer statistic + cross-multiplied decision",
      trendTest, Some(trendTestOracle)),
    QueryDef("x310_kruskal_wallis",
      "Kruskal-Wallis H across return flags via the 50-value census: BIGINT doubled rank sums pivoted to one row, tie-corrected, exact sig flag",
      kruskalWallis, Some(kruskalWallisOracle)),
    QueryDef("x311_wilcoxon_signed_rank",
      "Wilcoxon signed-rank on per-part quantity shift between shipdate halves: census-ranked |d|, doubled W+, tie-corrected z",
      wilcoxonSignedRank, Some(wilcoxonOracle)),
    QueryDef("x312_mcnemar",
      "McNemar paired-binary test on per-user purchase flips across the timeline split: exact discordant cells, cross-multiplied sig",
      mcnemar, Some(mcnemarOracle)),
    QueryDef("x313_jonckheere",
      "Jonckheere-Terpstra ordered trend across the five priorities: ten pairwise U-counts as linear census sums, no pair join",
      jonckheere, Some(jonckheereOracle)),
    QueryDef("x322_cliffs_delta",
      "Cliff's delta effect size between en/non-en doc lengths: exact census pair counts, cross-multiplied magnitude band",
      cliffsDelta, Some(cliffsDeltaOracle)),
    QueryDef("x324_holm_stepdown",
      "Holm-Bonferroni step-down on exact permutation p-values: float-free FWER control paired with x294's BH-FDR",
      holmStepDown, Some(holmOracle)),
    QueryDef("x325_energy_distance",
      "two-sample energy statistic from census prefix sums: pairwise expectations without a pair join, exact BIGINT pair masses",
      energyDistance, Some(energyOracle)),
    QueryDef("x331_friedman",
      "Friedman blocked rank test (weekday blocks x event-type treatments): doubled-rank BIGINT census, tie-robust Conover form",
      friedman, Some(friedmanOracle)),
    QueryDef("x332_cochran_q",
      "Cochran's Q over per-user binary habit indicators: k-treatment McNemar generalization, pure BIGINT census sums",
      cochranQ, Some(cochranQOracle)),
    QueryDef("x333_brown_forsythe",
      "Brown-Forsythe variance-homogeneity test: doubled group medians off the value census, ANOVA-F on BIGINT deviation sums",
      brownForsythe, Some(brownForsytheOracle)),
    QueryDef("x335_mantel_haenszel",
      "Mantel-Haenszel pooled odds ratio + chi2 across ship-year strata: micro-quantized rational terms, HUGEINT products",
      mantelHaenszel, Some(mantelHaenszelOracle)),
    QueryDef("x351_ansari_bradley",
      "Ansari-Bradley rank scale test: both-end scores with closed-form integer tie-block sums off the value census",
      ansariBradley, Some(ansariBradleyOracle)),
    QueryDef("x354_somers_d",
      "Somers' D of discount level predicting quantity: asymmetric concordance from the 2-D census, no row-pair join",
      somersD, Some(somersDOracle)),
    QueryDef("x356_moods_median",
      "Mood's median test: global doubled median off the value census, 2x3 dichotomy chi-square from BIGINT cells",
      moodsMedian, Some(moodsMedianOracle)),
    QueryDef("x357_partial_corr",
      "partial correlation r_xy.z from the exact BIGINT moment census: revenue-quantity association controlling for discount",
      partialCorr, Some(partialCorrOracle)),
    QueryDef("x373_sprt_boundary",
      "Wald SPRT boundary audit per event type: exact fixed-point LLR walk, first crossing or continue (stats)",
      sprtBoundary, Some(sprtOracle)))
}
