package graft.queries

import graft.{QueryDef, Tables}
import QueryUtil.{halfUp, halfUp4}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series topic of the stats family: smoothing and forecasting
  * recurrences (EWMA, Holt, Holt-Winters, Croston), forecast backtests,
  * seasonal decomposition, autocorrelation diagnostics, changepoint and
  * drift detectors, interpolation and robust line fits over daily or
  * monthly series. Integer recurrences use truncating division, which
  * matches DuckDB's `//`. */
object TimeSeriesQueries {

  /** ACF lag range (1..MaxLag). */
  private val MaxLag = 7

  /** q85: autocorrelation function — daily revenue (exact cents) ACF at
    * lags 1..7, the seasonality screen a forecasting pipeline runs before
    * model choice. The global mean never materializes as a float: with
    * S = Σy and n days, n²·r_k's numerator is Σ(n·y_t − S)(n·y_{t+k} − S)
    * and its denominator Σ(n·y_t − S)², both exact decimal(38,0)/HUGEINT
    * sums converted to double once for the final division. Calendar gaps
    * drop pairs (join on day index + k), identically in both engines.
    * Scale: one partial-aggregated scan to daily cents; everything after
    * runs on the ~2.4k-row series — the 7 lag joins are equi-joins on
    * the tiny frame with the totals broadcast. */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val c = daily.crossJoin(broadcast(tot))
      .select($"di", ($"n".cast(StatsQueries.dec) * $"y".cast(StatsQueries.dec) - $"s".cast(StatsQueries.dec)).as("cy"))
    val den = c.agg(sum($"cy" * $"cy").as("dd"))
    val lags = spark.range(1, MaxLag + 1).select($"id".cast("long").as("lag"))
    val pairs = c.select($"di", $"cy").crossJoin(broadcast(lags))
      .join(c.select($"di".as("dj"), $"cy".as("cz")),
        $"dj" === $"di" + $"lag")
    pairs.groupBy($"lag")
      .agg(count(lit(1)).as("n_pairs"), sum($"cy" * $"cz").as("num"))
      .crossJoin(broadcast(den))
      .select($"lag", $"n_pairs",
        halfUp($"num".cast("double") / $"dd".cast("double"), 6).as("acf"))
      .orderBy("lag")
  }

  private val acfOracle =
    s"""WITH daily AS (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
       |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT count(*) AS n, sum(y) AS s FROM daily),
       |c AS (SELECT di, CAST(n AS HUGEINT) * y - s AS cy FROM daily, tot),
       |den AS (SELECT sum(cy * cy) AS dd FROM c),
       |lags AS (SELECT CAST(range + 1 AS BIGINT) AS lag FROM range($MaxLag))
       |SELECT lag, count(*) AS n_pairs,
       |       floor((CAST(sum(a.cy * b.cy) AS DOUBLE) / CAST(dd AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS acf
       |FROM c a JOIN lags ON true JOIN c b ON b.di = a.di + lag, den
       |GROUP BY lag, dd
       |ORDER BY lag""".stripMargin

  /** EWMA window depth (terms t-0 .. t-(EwmaTerms-1)). */
  private val EwmaTerms = 8

  /** q88: exponentially weighted moving average — the classic smoothing
    * pass over the daily-revenue series, made bit-deterministic by
    * construction: the decay is α = 1/2, so each term y_{t-k}·2^{-k} is
    * an exact dyadic rational (cents ≤ 2^45 divided by ≤ 2^7 — exactly
    * representable), and the 8-term numerator/denominator are summed in
    * ONE fixed left-to-right association order spelled out identically
    * in both engines. Ragged starts renormalize: the denominator only
    * counts terms that exist. No quantization tricks needed — every
    * intermediate is IEEE-exact. Scale: one keyed aggregate to the day
    * series, then a single ordered window pass over the ~2.4k-row
    * frame with 8 lags sharing one sort. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
    val w = Window.orderBy($"di")
    val lags = (0 until EwmaTerms).map(k => lag($"y", k).over(w))
    val num = lags.zipWithIndex
      .map { case (l, k) => coalesce(l.cast("double"), lit(0.0)) / (1L << k) }
      .reduceLeft(_ + _)
    val den = lags.zipWithIndex
      .map { case (l, k) => when(l.isNotNull, lit(1.0) / (1L << k)).otherwise(0.0) }
      .reduceLeft(_ + _)
    daily
      .select($"di", $"y", (num / den).as("e"))
      .select($"di", $"y", halfUp($"e" / 100.0, 2).as("ewma"))
      .orderBy("di")
  }

  private val ewmaOracle = {
    val numSql = (0 until EwmaTerms)
      .map(k => s"coalesce(CAST(lag(y, $k) OVER w AS DOUBLE), 0.0) / ${1L << k}")
      .mkString(" + ")
    val denSql = (0 until EwmaTerms)
      .map(k => s"CASE WHEN lag(y, $k) OVER w IS NOT NULL THEN 1.0 / ${1L << k} ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH daily AS (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
       |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |e AS (
       |  SELECT di, y, ($numSql) / ($denSql) AS e
       |  FROM daily WINDOW w AS (ORDER BY di))
       |SELECT di, y, floor((e / 100.0) * 100 + 0.5) / 100.0 AS ewma
       |FROM e
       |ORDER BY di""".stripMargin
  }

  /** q101: rolling z-score anomaly flags over the per-(type, day) count
    * series — the monitoring primitive a pipeline health dashboard runs
    * over ingest volumes. The trailing window is the 7 calendar days
    * BEFORE each day (absent days count zero, denominator fixed at 7), and
    * the spike predicate |x − μ| > 2σ is evaluated as the cross-multiplied
    * EXACT-integer form (7x − S)² > 4·(7·SS − S²) with S = Σxᵢ,
    * SS = Σxᵢ² — no float mean, no float variance, no ulp drift between
    * engines. Days with an empty trailing window (σ = 0, S = 0) flag iff
    * x > 0: a first-ever burst IS an anomaly under this rule, and the
    * oracle agrees by construction.
    *
    * Scale: the series is a per-(type, day) count (one corpus-sized
    * aggregate); the trailing join is banded by the 7-day bound on the
    * tiny day-panel, same shape as x67's decay join. */
  def rollingZscore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dc = Tables.events(spark, dir)
      .groupBy($"event_type",
        datediff(to_date($"ts"), lit("2024-01-01")).as("dayn"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // both sides of the trailing-window join
    val past = dc.select($"event_type".as("p_type"), $"dayn".as("p_dayn"),
      $"cnt".as("p_cnt"))
    dc.join(past, $"event_type" === $"p_type" &&
        $"p_dayn" >= $"dayn" - 7 && $"p_dayn" <= $"dayn" - 1, "left")
      .groupBy($"event_type", $"dayn", $"cnt")
      .agg(coalesce(sum($"p_cnt"), lit(0L)).as("s"),
        coalesce(sum($"p_cnt" * $"p_cnt"), lit(0L)).as("ss"))
      .select($"event_type", $"dayn", $"cnt", $"s", $"ss",
        ((lit(7) * $"cnt" - $"s") * (lit(7) * $"cnt" - $"s") >
          lit(4) * (lit(7) * $"ss" - $"s" * $"s")).cast("int").as("is_spike"))
      .orderBy($"event_type", $"dayn")
  }

  private val rollingZscoreOracle =
    """WITH dc AS MATERIALIZED (
      |  SELECT event_type,
      |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dayn,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT c.event_type, c.dayn, c.cnt,
      |       CAST(coalesce(sum(p.cnt), 0) AS BIGINT) AS s,
      |       CAST(coalesce(sum(p.cnt * p.cnt), 0) AS BIGINT) AS ss,
      |       CAST((7 * c.cnt - coalesce(sum(p.cnt), 0))
      |              * (7 * c.cnt - coalesce(sum(p.cnt), 0))
      |            > 4 * (7 * coalesce(sum(p.cnt * p.cnt), 0)
      |                   - coalesce(sum(p.cnt), 0) * coalesce(sum(p.cnt), 0))
      |            AS INTEGER) AS is_spike
      |FROM dc c LEFT JOIN dc p
      |  ON c.event_type = p.event_type
      | AND p.dayn >= c.dayn - 7 AND p.dayn <= c.dayn - 1
      |GROUP BY c.event_type, c.dayn, c.cnt
      |ORDER BY c.event_type, c.dayn""".stripMargin

  /* Forecast backtesting — the time-series
   * capability the anomaly tier (q59/q60/q101) monitors but never
   * forecasts: evaluate baseline forecasters against realized values with
   * scale-free error metrics. */

  /** q110: seasonal-naive forecast backtest — the standard baseline panel
    * a forecasting service must beat: per event type and day, predict
    * ŷ(d) = y(d−7) (seasonal naive) and ŷ(d) = y(d−1) (naive-1), score
    * both by MAE over the days where BOTH forecasts exist (one shared
    * evaluation window, or the comparison is unfair), and report MASE =
    * MAE_seasonal / MAE_naive1 — the scale-free skill score (MASE < 1 ⟺
    * weekly seasonality carries signal). Absolute errors are exact
    * integer count differences; the single division is half-up rounded
    * once.
    *
    * Scale: the series is the per-(type, day) count panel; both
    * predictors are self-joins banded by fixed lags on that tiny panel —
    * the x67 shape, nothing corpus-sized after the first aggregate. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dc = Tables.events(spark, dir)
      .groupBy($"event_type",
        datediff(to_date($"ts"), lit("2024-01-01")).as("dayn"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // actuals + two lag joins
    def lagJoin(k: Int, name: String) = dc.select($"event_type",
      ($"dayn" + k).as("dayn"), $"cnt".as(name))
    dc.join(lagJoin(7, "p_seasonal"), Seq("event_type", "dayn"))
      .join(lagJoin(1, "p_naive1"), Seq("event_type", "dayn"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"cnt" - $"p_seasonal")).as("ae_seasonal"),
        sum(abs($"cnt" - $"p_naive1")).as("ae_naive1"))
      .select($"event_type", $"n_days", $"ae_seasonal", $"ae_naive1",
        halfUp4($"ae_seasonal".cast("double") / $"n_days".cast("double")).as("mae_seasonal"),
        halfUp4($"ae_naive1".cast("double") / $"n_days".cast("double")).as("mae_naive1"),
        when($"ae_naive1" > 0,
          halfUp4($"ae_seasonal".cast("double") / $"ae_naive1".cast("double")))
          .otherwise(lit(null).cast("double")).as("mase"),
        ($"ae_seasonal" < $"ae_naive1").cast("int").as("seasonal_wins"))
      .orderBy("event_type")
  }

  private val forecastBacktestOracle =
    """WITH dc AS MATERIALIZED (
      |  SELECT event_type,
      |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dayn,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |j AS (SELECT a.event_type, a.dayn, a.cnt,
      |        s.cnt AS p_seasonal, n.cnt AS p_naive1
      |      FROM dc a
      |      JOIN dc s ON s.event_type = a.event_type AND s.dayn = a.dayn - 7
      |      JOIN dc n ON n.event_type = a.event_type AND n.dayn = a.dayn - 1)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(abs(cnt - p_seasonal)) AS BIGINT) AS ae_seasonal,
      |       CAST(sum(abs(cnt - p_naive1)) AS BIGINT) AS ae_naive1,
      |       floor(CAST(sum(abs(cnt - p_seasonal)) AS DOUBLE) / count(*) * 10000 + 0.5)
      |         / 10000.0 AS mae_seasonal,
      |       floor(CAST(sum(abs(cnt - p_naive1)) AS DOUBLE) / count(*) * 10000 + 0.5)
      |         / 10000.0 AS mae_naive1,
      |       CASE WHEN sum(abs(cnt - p_naive1)) > 0
      |            THEN floor(CAST(sum(abs(cnt - p_seasonal)) AS DOUBLE)
      |                       / CAST(sum(abs(cnt - p_naive1)) AS DOUBLE) * 10000 + 0.5) / 10000.0
      |            END AS mase,
      |       CAST(sum(abs(cnt - p_seasonal)) < sum(abs(cnt - p_naive1)) AS INTEGER)
      |         AS seasonal_wins
      |FROM j
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- x206

  /** Holt smoothing weights: α = β = 1/4 (dyadic so the recursion is
    * integer-exact after one shared floor per step). */

  /** x206: Holt double exponential smoothing (level + trend) backtest —
    * the trend-aware upgrade of q88's EWMA and the model q110's
    * seasonal-naive baseline competes against. Train on the daily
    * revenue series through 1997, then forecast every 1998 day as
    * l + h·b from the FINAL train state (a true out-of-sample
    * multi-horizon test, no peeking). The recursion
    * l′ = ⌊(y + 3(l+b))/4⌋, b′ = ⌊((l′−l) + 3b)/4⌋ runs on exact
    * integers; the one floor per step uses floor(double/4.0) in BOTH
    * engines because Spark's `div` truncates toward zero while
    * DuckDB's `//` floors — they disagree exactly on the negative
    * trend values this recursion produces. Spark folds the train
    * array with `aggregate` (final state only, O(1) accumulator);
    * DuckDB walks the same grid with a recursive CTE.
    *
    * Scale: the data-sized work is one date-grain aggregate; the fold
    * input is the ~1.1k-day train series on one task, the holdout
    * projection a broadcast of a 2-value state. */
  def holtBacktest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"),
        year($"o_orderdate").as("yr"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
      .localCheckpoint(true)
    val state = daily.filter($"yr" <= 1997)
      .agg(sort_array(collect_list(struct($"di", $"y"))).as("rows"))
      .select(expr(
        """aggregate(rows,
          |  named_struct('l', CAST(-1 AS BIGINT), 'b', CAST(0 AS BIGINT),
          |               'di', CAST(0 AS BIGINT), 'y', CAST(0 AS BIGINT)),
          |  (acc, r) -> CASE WHEN acc.l = -1
          |    THEN named_struct('l', r.y, 'b', CAST(0 AS BIGINT), 'di', r.di, 'y', r.y)
          |    ELSE named_struct(
          |      'l', CAST(floor(CAST(r.y + 3 * (acc.l + acc.b) AS DOUBLE) / 4.0) AS BIGINT),
          |      'b', CAST(floor(CAST((CAST(floor(CAST(r.y + 3 * (acc.l + acc.b) AS DOUBLE) / 4.0) AS BIGINT) - acc.l) + 3 * acc.b AS DOUBLE) / 4.0) AS BIGINT),
          |      'di', r.di, 'y', r.y) END)
          |""".stripMargin).as("s"))
      .select($"s.l".as("l"), $"s.b".as("b"), $"s.di".as("last_di"),
        $"s.y".as("y_last"))
    daily.filter($"yr" === 1998)
      .crossJoin(broadcast(state))
      .select($"di", $"y",
        ($"l" + ($"di" - $"last_di") * $"b").as("f_holt"),
        $"y_last".as("f_naive"),
        abs($"y" - ($"l" + ($"di" - $"last_di") * $"b")).as("err_holt"),
        abs($"y" - $"y_last").as("err_naive"))
      .orderBy($"di")
  }

  private val holtOracle =
    """WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |              AS BIGINT) AS di,
      |         year(o_orderdate) AS yr,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |train AS MATERIALIZED (
      |  SELECT di, y, CAST(row_number() OVER (ORDER BY di) AS BIGINT) AS i
      |  FROM daily WHERE yr <= 1997),
      |n0 AS (SELECT max(i) AS nmax FROM train),
      |walk AS (
      |  SELECT i, y AS l, CAST(0 AS BIGINT) AS b, di, y FROM train WHERE i = 1
      |  UNION ALL
      |  SELECT t.i,
      |         CAST(floor(CAST(t.y + 3 * (w.l + w.b) AS DOUBLE) / 4.0) AS BIGINT),
      |         CAST(floor(CAST((CAST(floor(CAST(t.y + 3 * (w.l + w.b) AS DOUBLE) / 4.0) AS BIGINT) - w.l) + 3 * w.b AS DOUBLE) / 4.0) AS BIGINT),
      |         t.di, t.y
      |  FROM train t JOIN walk w ON t.i = w.i + 1),
      |state AS (
      |  SELECT w.l, w.b, w.di AS last_di, w.y AS y_last
      |  FROM walk w, n0 WHERE w.i = n0.nmax)
      |SELECT d.di, d.y,
      |       s.l + (d.di - s.last_di) * s.b AS f_holt,
      |       s.y_last AS f_naive,
      |       abs(d.y - (s.l + (d.di - s.last_di) * s.b)) AS err_holt,
      |       abs(d.y - s.y_last) AS err_naive
      |FROM daily d, state s WHERE d.yr = 1998
      |ORDER BY d.di""".stripMargin

  /* Time-series alignment and cooperative
   * attribution — dynamic time warping between two monthly revenue
   * curves (x208) and exact Shapley-value channel attribution (x209,
   * the axiomatic counterpart of x203's removal effects).
   * Elsewhere: x209 (ExperimentQueries).
   */

  /** DTW series length (months per compared year). */
  private val DtwLen = 12

  // ---------------------------------------------------------------- x208

  /** x208: dynamic time warping distance between the 1995 and 1996
    * monthly revenue curves (plus the lock-step L1 baseline the
    * warping must never exceed) — the alignment-tolerant series
    * distance behind "do these two seasons have the same shape,
    * shifted?". The DP recurrence D(i,j) = |a_i−b_j| +
    * min(D(i−1,j), D(i,j−1), D(i−1,j−1)) runs over the 12×12 grid in
    * row-major order as ONE exact-integer fold: Spark `aggregate` over
    * the 144 cell indices carrying the cost matrix as a flat array,
    * DuckDB a recursive CTE that re-emits the accumulated cells and
    * appends one per step. All costs are exact cents; no doubles
    * anywhere.
    *
    * Scale: the data-sized work is two month-grain aggregates; the DP
    * is a constant 144-step fold on one task regardless of corpus
    * size (series length is calendar-bounded). */
  def dtw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def monthly(yr: Int) = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") === yr)
      .groupBy(month($"o_orderdate").cast("long").as("m"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
    val a = monthly(1995).toDF("m", "ya")
    val b = monthly(1996).toDF("m", "yb")
    // Dense 1..12 grids (a month with no orders contributes 0 revenue).
    val grid = spark.range(1, DtwLen + 1).select($"id".as("m"))
      .join(a, Seq("m"), "left").join(b, Seq("m"), "left")
      .na.fill(0L, Seq("ya", "yb"))
    val folded = grid
      .agg(sort_array(collect_list(struct($"m", $"ya", $"yb"))).as("rows"))
      .select($"rows",
        expr(s"transform(rows, r -> r.ya)").as("va"),
        expr(s"transform(rows, r -> r.yb)").as("vb"))
      .select(
        expr(
          s"""aggregate(
             |  sequence(0, ${DtwLen * DtwLen - 1}),
             |  CAST(array() AS ARRAY<BIGINT>),
             |  (acc, t) -> concat(acc, array(
             |    abs(element_at(va, CAST(t div $DtwLen AS INT) + 1)
             |        - element_at(vb, CAST(t % $DtwLen AS INT) + 1))
             |    + CASE
             |        WHEN t div $DtwLen = 0 AND t % $DtwLen = 0 THEN CAST(0 AS BIGINT)
             |        WHEN t div $DtwLen = 0 THEN element_at(acc, CAST(t AS INT))
             |        WHEN t % $DtwLen = 0 THEN element_at(acc, CAST(t - $DtwLen AS INT) + 1)
             |        ELSE least(element_at(acc, CAST(t - $DtwLen AS INT) + 1),
             |                   element_at(acc, CAST(t AS INT)),
             |                   element_at(acc, CAST(t - $DtwLen AS INT)))
             |      END)))
             |""".stripMargin).as("d"),
        expr(s"aggregate(sequence(1, $DtwLen), CAST(0 AS BIGINT)," +
          s" (s, i) -> s + abs(element_at(va, CAST(i AS INT))" +
          s" - element_at(vb, CAST(i AS INT))))").as("l1_cents"))
      .select(expr(s"element_at(d, ${DtwLen * DtwLen})").as("dtw_cents"),
        $"l1_cents")
    folded
  }

  private val dtwOracle = {
    val n = DtwLen
    s"""WITH ma AS (
       |  SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
       |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |              AS BIGINT) AS y
       |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
       |mb AS (
       |  SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
       |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |              AS BIGINT) AS y
       |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
       |grid AS (
       |  SELECT g.m, COALESCE(ma.y, 0) AS ya, COALESCE(mb.y, 0) AS yb
       |  FROM (SELECT unnest(range(1, ${n + 1})) AS m) g
       |  LEFT JOIN ma ON ma.m = g.m LEFT JOIN mb ON mb.m = g.m),
       |vecs AS (
       |  SELECT list(ya ORDER BY m) AS va, list(yb ORDER BY m) AS vb
       |  FROM grid),
       |folded AS (
       |  SELECT list_reduce(
       |    list_prepend(CAST([] AS BIGINT[]),
       |                 [[CAST(t AS BIGINT)] FOR t IN range(0, ${n * n})]),
       |    (acc, x) -> list_append(acc,
       |       abs(va[CAST(x[1] // $n AS INT) + 1]
       |           - vb[CAST(x[1] % $n AS INT) + 1])
       |       + CASE
       |           WHEN x[1] // $n = 0 AND x[1] % $n = 0 THEN 0
       |           WHEN x[1] // $n = 0 THEN acc[CAST(x[1] AS INT)]
       |           WHEN x[1] % $n = 0 THEN acc[CAST(x[1] - $n AS INT) + 1]
       |           ELSE least(acc[CAST(x[1] - $n AS INT) + 1],
       |                      acc[CAST(x[1] AS INT)],
       |                      acc[CAST(x[1] - $n AS INT)])
       |         END)) AS d,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                  [abs(va[i] - vb[i]) FOR i IN range(1, ${n + 1})]),
       |                (s, x) -> s + x) AS l1_cents
       |  FROM vecs)
       |SELECT CAST(d[${n * n}] AS BIGINT) AS dtw_cents,
       |       CAST(l1_cents AS BIGINT) AS l1_cents
       |FROM folded""".stripMargin
  }

  /* Classical time-series structure —
   * moving-average seasonal decomposition (x218) and the lagged
   * cross-correlation function between two nations' revenue series
   * (x219). */

  /** Centered moving-average half-width for the trend (±14 ⇒ 29-day). */
  private val TrendHalf = 14

  /** Weekly season length (slots are di % 7 on the integer day index —
    * Spark's dayofweek is 1-based Sunday-first while DuckDB's is
    * 0-based, so the calendar functions are an oracle trap). */
  private val Season = 7

  // ---------------------------------------------------------------- x218

  /** x218: seasonal decomposition (STL-lite) of daily revenue (whole dollars so squared-moment sums stay in int64 past sf1):
    * trend = centered 29-day moving average (integer div of integer
    * sums — the window never leaves int64), seasonal = per-weekday-slot
    * mean of the detrended series (floor-double division: detrended
    * values go negative, where Spark's `div` and DuckDB's `//` round
    * differently), residual = remainder. Publishes the 7 seasonal
    * effects plus the replicated variance decomposition — the share of
    * variance each component explains, from exact integer moments.
    *
    * Scale: one date-grain aggregate then three window/group passes
    * over the ~1.1k-day frame; the decomposition is
    * calendar-bounded, not data-bounded. */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") <= 1997)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" + 0.5).cast("long")).as("y"))
      .localCheckpoint(true)
    val wT = Window.orderBy($"di").rowsBetween(-TrendHalf, TrendHalf)
    val trended = daily
      .select($"di", $"y", sum($"y").over(wT).as("tsum"),
        count(lit(1)).over(wT).as("tcnt"),
        pmod($"di", lit(Season.toLong)).as("slot"))
      .select($"di", $"y", $"slot",
        expr("CAST(floor(CAST(tsum AS DOUBLE) / CAST(tcnt AS DOUBLE))" +
          " AS BIGINT)").as("t"))
      .withColumn("d", $"y" - $"t")
    val base = trended.localCheckpoint(true)
    val seasonal = base.groupBy($"slot")
      .agg(count(lit(1)).as("n_days"), sum($"d").as("sd"))
      .select($"slot", $"n_days",
        expr("CAST(floor(CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE))" +
          " AS BIGINT)").as("s_fp"))
      .localCheckpoint(true)
    val withS = base.join(broadcast(seasonal.select($"slot", $"s_fp")), "slot")
      .select($"y", $"t", ($"d" - $"s_fp").as("r"), ($"t" + $"s_fp").as("fit"))
    val mom = withS.agg(count(lit(1)).as("n"),
      sum($"y").as("sy"), sum($"y" * $"y").as("syy"),
      sum($"r").as("sr"), sum($"r" * $"r").as("srr"))
    val panel = mom.select(
      expr("CAST(floor((1.0 - (CAST(srr AS DOUBLE) / CAST(n AS DOUBLE)" +
        " - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)))" +
        " / (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)" +
        " - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))" +
        " * 1000000 + 0.5) AS BIGINT)").as("explained_fp"))
    seasonal.crossJoin(broadcast(panel))
      .select($"slot", $"n_days", $"s_fp", $"explained_fp")
      .orderBy($"slot")
  }

  private val seasonalOracle =
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |              AS BIGINT) AS di,
       |         CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
       |              AS BIGINT) AS y
       |  FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       |trended AS MATERIALIZED (
       |  SELECT di, y, di % $Season AS slot,
       |         CAST(floor(CAST(sum(y) OVER w AS DOUBLE)
       |           / CAST(count(*) OVER w AS DOUBLE)) AS BIGINT) AS t
       |  FROM daily
       |  WINDOW w AS (ORDER BY di ROWS BETWEEN $TrendHalf PRECEDING
       |               AND $TrendHalf FOLLOWING)),
       |base AS MATERIALIZED (SELECT *, y - t AS d FROM trended),
       |seasonal AS MATERIALIZED (
       |  SELECT slot, CAST(count(*) AS BIGINT) AS n_days,
       |         CAST(floor(CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |              AS BIGINT) AS s_fp
       |  FROM base GROUP BY slot),
       |with_s AS (
       |  SELECT b.y, b.t, b.d - s.s_fp AS r
       |  FROM base b JOIN seasonal s ON s.slot = b.slot),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(r) AS BIGINT) AS sr,
       |         CAST(sum(r * r) AS BIGINT) AS srr
       |  FROM with_s),
       |panel AS (
       |  SELECT CAST(floor((1.0 - (CAST(srr AS DOUBLE) / CAST(n AS DOUBLE)
       |           - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
       |           * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)))
       |           / (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
       |           - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
       |           * 1000000 + 0.5) AS BIGINT) AS explained_fp
       |  FROM mom)
       |SELECT slot, n_days, s_fp, explained_fp
       |FROM seasonal, panel ORDER BY slot""".stripMargin

  // ---------------------------------------------------------------- x219

  /** CCF lag range (±[[CcfLags]] days). */
  private val CcfLags = 7

  /** x219: cross-correlation function between two nations' daily
    * customer revenue — does nation 0's demand lead or lag nation 1's?
    * Series align on the shared day grid (absent days are true zeros);
    * for each lag ∈ [−7, 7], Pearson r over the overlap from exact
    * integer moments with the one IEEE sqrt (the x211 recipe). The
    * lag join is an equi-join on di+lag — no window gymnastics, and
    * the same plan shape at any series length.
    *
    * Scale: one fact aggregate per nation (broadcast dimension
    * filters), a 15-row lag table cross join, and equi-joined moment
    * sums — everything map-side combinable. */
  def ccf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def series(nk: Int) = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .filter($"c_nationkey" === nk).select($"c_custkey")),
        $"o_custkey" === $"c_custkey")
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" + 0.5).cast("long")).as("y"))
    val a = series(0).toDF("di", "ya")
    val b = series(1).toDF("di", "yb")
    val grid = a.join(b, Seq("di"), "full")
      .na.fill(0L, Seq("ya", "yb"))
      .localCheckpoint(true)
    val lags = (-CcfLags to CcfLags).map(_.toLong).toDF("lag")
    val left = grid.select($"di", $"ya").crossJoin(broadcast(lags))
    val joined = left.join(grid.select($"di".as("dib"), $"yb"),
      left("di") - left("lag") === $"dib")
    joined.groupBy($"lag")
      .agg(count(lit(1)).as("n"), sum($"ya").as("sx"), sum($"yb").as("sy"),
        sum($"ya" * $"yb").as("sxy"), sum($"ya" * $"ya").as("sxx"),
        sum($"yb" * $"yb").as("syy"))
      .select($"lag", $"n",
        expr("CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0" +
          " THEN CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))" +
          " * 1000000 + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("r_fp"))
      .orderBy($"lag")
  }

  private val ccfOracle = {
    def seriesSql(nk: Int) =
      s"""SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         |            AS BIGINT) AS di,
         |       CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
         |            AS BIGINT) AS y
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_nationkey = $nk GROUP BY 1""".stripMargin
    s"""WITH a AS (${seriesSql(0)}),
       |b AS (${seriesSql(1)}),
       |grid AS MATERIALIZED (
       |  SELECT COALESCE(a.di, b.di) AS di, COALESCE(a.y, 0) AS ya,
       |         COALESCE(b.y, 0) AS yb
       |  FROM a FULL JOIN b ON a.di = b.di),
       |lags AS (SELECT CAST(unnest(range(-$CcfLags, ${CcfLags + 1})) AS BIGINT)
       |           AS lag),
       |joined AS (
       |  SELECT l.lag, g1.ya, g2.yb
       |  FROM grid g1 CROSS JOIN lags l
       |  JOIN grid g2 ON g2.di = g1.di - l.lag),
       |mom AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS n, CAST(sum(ya) AS BIGINT) AS sx,
       |         CAST(sum(yb) AS BIGINT) AS sy, CAST(sum(ya * yb) AS BIGINT) AS sxy,
       |         CAST(sum(ya * ya) AS BIGINT) AS sxx,
       |         CAST(sum(yb * yb) AS BIGINT) AS syy
       |  FROM joined GROUP BY lag)
       |SELECT lag, n,
       |       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
       |       THEN CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |         * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS r_fp
       |FROM mom
       |ORDER BY lag""".stripMargin
  }

  /* Multi-changepoint detection by binary
   * segmentation (x220) and the ABC/XYZ inventory classification matrix
   * (x221).
   * Elsewhere: x221 (AnalyticsQueries).
   */

  /** Minimum segment length either side of a split. */
  private val MinSeg = 30

  // ---------------------------------------------------------------- x220

  /** x220: binary-segmentation changepoints on daily revenue — q60's
    * CUSUM finds ONE shift; binary segmentation recurses: the best
    * split τ maximizes the SSE reduction
    * R(τ) = SSE[1,n] − SSE[1,τ] − SSE[τ+1,n], then each half is split
    * again (three changepoints total). All SSE terms come from two
    * prefix sums over whole-dollar integers; the gain is a ratio of
    * exact integers evaluated identically in both engines, so the
    * argmax (gain DESC, τ ASC) is engine-stable WITHOUT rounding the
    * ranking key (the r7 rule: never quantize an argmin/argmax key).
    * Publishes root/left/right splits with 1e-2-quantized gains.
    *
    * Scale: one date-grain aggregate, one prefix-sum window, three
    * rank-1 window passes over the ~1.1k-row candidate frame — the
    * recursion depth is fixed, not data-dependent. */
  def binsegChangepoints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") <= 1997)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" + 0.5).cast("long")).as("y"))
    val w = Window.orderBy($"di")
    val pre = daily.select($"di", $"y",
      row_number().over(w).cast("long").as("i"),
      sum($"y").over(w).as("p1"), sum($"y" * $"y").over(w).as("p2"))
      .localCheckpoint(true)
    val nRow = pre.agg(max($"i").as("n"), max($"p1").as("t1"),
      max($"p2").as("t2"))
    val rootGain =
      "(CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)" +
        " / CAST(n AS DOUBLE))" +
        " - (CAST(p2 AS DOUBLE) - CAST(p1 AS DOUBLE) * CAST(p1 AS DOUBLE)" +
        " / CAST(i AS DOUBLE))" +
        " - (CAST(t2 - p2 AS DOUBLE) - CAST(t1 - p1 AS DOUBLE)" +
        " * CAST(t1 - p1 AS DOUBLE) / CAST(n - i AS DOUBLE))"
    val root = pre.crossJoin(broadcast(nRow))
      .filter($"i" >= MinSeg && $"i" <= $"n" - MinSeg)
      .withColumn("gain", expr(rootGain))
      .withColumn("rk", row_number().over(Window.orderBy($"gain".desc, $"i")))
      .filter($"rk" === 1)
      .select($"i".as("tau_i"), $"di".as("tau_di"), $"gain")
      .localCheckpoint(true)
    // pp adds the virtual zero prefix so lo-1 = 0 resolves.
    val pp = pre.select($"i", $"p1", $"p2")
      .unionByName(spark.range(1).select(lit(0L).as("i"), lit(0L).as("p1"),
        lit(0L).as("p2")))
    // Two child segments [1, tau] and [tau+1, n], bounds joined from pp.
    val seg = root.crossJoin(broadcast(nRow))
      .select(explode(array(
        struct(lit("left").as("side"), lit(1L).as("lo"), $"tau_i".as("hi")),
        struct(lit("right").as("side"), ($"tau_i" + 1L).as("lo"),
          $"n".as("hi")))).as("s"))
      .select($"s.side".as("side"), $"s.lo".as("lo"), $"s.hi".as("hi"))
    val bounds = seg
      .join(pp.toDF("ilo", "b1", "b2"), $"ilo" === $"lo" - 1)
      .join(pp.toDF("ihi", "e1", "e2"), $"ihi" === $"hi")
      .select($"side", $"lo", $"hi", $"b1", $"b2", $"e1", $"e2")
    val childGain =
      "(CAST(e2 - b2 AS DOUBLE) - CAST(e1 - b1 AS DOUBLE)" +
        " * CAST(e1 - b1 AS DOUBLE) / CAST(hi - lo + 1 AS DOUBLE))" +
        " - (CAST(p2 - b2 AS DOUBLE) - CAST(p1 - b1 AS DOUBLE)" +
        " * CAST(p1 - b1 AS DOUBLE) / CAST(i - lo + 1 AS DOUBLE))" +
        " - (CAST(e2 - p2 AS DOUBLE) - CAST(e1 - p1 AS DOUBLE)" +
        " * CAST(e1 - p1 AS DOUBLE) / CAST(hi - i AS DOUBLE))"
    val children = pre.join(broadcast(bounds),
        $"i" >= $"lo" + (MinSeg - 1) && $"i" <= $"hi" - MinSeg)
      .withColumn("gain", expr(childGain))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"side").orderBy($"gain".desc, $"i")))
      .filter($"rk" === 1)
      .select($"side".as("phase"), $"di".as("tau_di"), $"gain")
    val childOut = children
      .select($"phase", $"tau_di",
        expr("CAST(floor(gain * 100 + 0.5) AS BIGINT)").as("gain_d100"))
    root.select(lit("root").as("phase"), $"tau_di",
        expr("CAST(floor(gain * 100 + 0.5) AS BIGINT)").as("gain_d100"))
      .unionByName(childOut)
      .orderBy($"phase")
  }

  private val binsegOracle = {
    val g = "(CAST(phi.p2 - plo.p2 AS DOUBLE) - CAST(phi.p1 - plo.p1 AS DOUBLE)" +
      " * CAST(phi.p1 - plo.p1 AS DOUBLE) / CAST(seg.hi - seg.lo + 1 AS DOUBLE))" +
      " - (CAST(c.p2 - plo.p2 AS DOUBLE) - CAST(c.p1 - plo.p1 AS DOUBLE)" +
      " * CAST(c.p1 - plo.p1 AS DOUBLE) / CAST(c.i - seg.lo + 1 AS DOUBLE))" +
      " - (CAST(phi.p2 - c.p2 AS DOUBLE) - CAST(phi.p1 - c.p1 AS DOUBLE)" +
      " * CAST(phi.p1 - c.p1 AS DOUBLE) / CAST(seg.hi - c.i AS DOUBLE))"
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |              AS BIGINT) AS di,
       |         CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       |p AS MATERIALIZED (
       |  SELECT di, y, CAST(row_number() OVER (ORDER BY di) AS BIGINT) AS i,
       |         CAST(sum(y) OVER (ORDER BY di) AS BIGINT) AS p1,
       |         CAST(sum(y * y) OVER (ORDER BY di) AS BIGINT) AS p2
       |  FROM daily),
       |pp AS MATERIALIZED (SELECT i, p1, p2 FROM p
       |                    UNION ALL SELECT 0, 0, 0),
       |nn AS (SELECT max(i) AS n, max(p1) AS t1, max(p2) AS t2 FROM p),
       |root AS MATERIALIZED (
       |  SELECT i AS tau_i, di AS tau_di, gain FROM (
       |    SELECT c.i, c.di,
       |           (CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
       |              / CAST(n AS DOUBLE))
       |         - (CAST(c.p2 AS DOUBLE) - CAST(c.p1 AS DOUBLE) * CAST(c.p1 AS DOUBLE)
       |              / CAST(c.i AS DOUBLE))
       |         - (CAST(t2 - c.p2 AS DOUBLE) - CAST(t1 - c.p1 AS DOUBLE)
       |              * CAST(t1 - c.p1 AS DOUBLE) / CAST(n - c.i AS DOUBLE)) AS gain
       |    FROM p c, nn
       |    WHERE c.i >= $MinSeg AND c.i <= n - $MinSeg) t
       |  ORDER BY gain DESC, tau_i LIMIT 1),
       |segs AS (
       |  SELECT 'left' AS side, CAST(1 AS BIGINT) AS lo, r.tau_i AS hi FROM root r
       |  UNION ALL
       |  SELECT 'right', r.tau_i + 1, nn.n FROM root r, nn),
       |child AS (
       |  SELECT side, tau_di, gain FROM (
       |    SELECT seg.side AS side, c.di AS tau_di, c.i,
       |           $g AS gain,
       |           row_number() OVER (PARTITION BY seg.side
       |             ORDER BY $g DESC, c.i) AS rk
       |    FROM segs seg
       |    JOIN pp plo ON plo.i = seg.lo - 1
       |    JOIN pp phi ON phi.i = seg.hi
       |    JOIN p c ON c.i >= seg.lo + ${MinSeg - 1}
       |            AND c.i <= seg.hi - $MinSeg) t
       |  WHERE rk = 1)
       |SELECT phase, tau_di, CAST(floor(gain * 100 + 0.5) AS BIGINT) AS gain_d100
       |FROM (
       |  SELECT 'root' AS phase, tau_di, gain FROM root
       |  UNION ALL SELECT side, tau_di, gain FROM child) u
       |ORDER BY phase""".stripMargin
  }

  /* Partial autocorrelation (x222) — the
   * AR-order diagnostic q85's ACF builds toward, via an unrolled
   * Durbin–Levinson recursion whose every formula string is SHARED
   * between the Spark plan and the DuckDB oracle. */

  /** PACF depth. */
  private val PacfMax = 5

  /** Durbin–Levinson step formulas, emitted once and spliced verbatim
    * into both engines (all double arithmetic on identical inputs in
    * an identical association order ⇒ bit-identical φ's).
    * Returns (colName, sqlExpr) in dependency order. */
  private val dlSteps: Seq[(String, String)] = {
    def dot(phis: Seq[String], rhos: Seq[String]): String =
      phis.zip(rhos).map { case (p, r) => s"$p * $r" }
        .reduceLeft((a, b) => s"($a + $b)")
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    steps += ("p11" -> "r1")
    for (k <- 2 to PacfMax) {
      val prev = (1 until k).map(j => s"p${k - 1}$j")
      val rhosDesc = (1 until k).map(j => s"r${k - j}")
      val rhosAsc = (1 until k).map(j => s"r$j")
      val num = s"(r$k - ${dot(prev, rhosDesc)})"
      val den = s"(1.0 - ${dot(prev, rhosAsc)})"
      steps += (s"p$k$k" -> s"CASE WHEN $den <> 0.0 THEN $num / $den ELSE 0.0 END")
      for (j <- 1 until k)
        steps += (s"p$k$j" -> s"p${k - 1}$j - p$k$k * p${k - 1}${k - j}")
    }
    steps.toSeq
  }

  /** x222: PACF(1..5) of the daily-revenue series — the diagnostic that
    * separates "AR(p) signal" from ACF carry-over: φ_kk is the
    * correlation at lag k AFTER regressing out lags 1..k−1. The ρ's
    * are q85's exact-moment ACF (decimal-centered integer sums cast to
    * double once); the Durbin–Levinson recursion then runs entirely in
    * doubles whose formula strings are generated ONCE in Scala and
    * spliced into both engines, so the recursion is bit-identical by
    * construction and only the published φ_kk quantize (half-up, 6dp).
    *
    * Scale: one date-grain aggregate, five lag self-joins on the
    * day-grain frame (broadcast lag table), then a 1-row scalar
    * pipeline — series length never matters past the first shuffle. */
  def pacf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val c = daily.crossJoin(broadcast(tot))
      .select($"di", ($"n".cast(dec) * $"y".cast(dec) - $"s".cast(dec)).as("cy"))
      .localCheckpoint(true)
    val den = c.agg(sum($"cy" * $"cy").as("dd"))
    val lags = spark.range(1, PacfMax + 1).select($"id".cast("long").as("lag"))
    val nums = c.select($"di", $"cy").crossJoin(broadcast(lags))
      .join(c.select($"di".as("dj"), $"cy".as("cz")), $"dj" === $"di" + $"lag")
      .groupBy($"lag").agg(sum($"cy" * $"cz").as("num"))
    val rhos = nums.crossJoin(broadcast(den))
      .select($"lag", ($"num".cast("double") / $"dd".cast("double")).as("rho"))
      .groupBy()
      .pivot("lag", (1 to PacfMax).map(_.toLong))
      .agg(first($"rho"))
      .toDF((1 to PacfMax).map(k => s"r$k"): _*)
    val withPhis = dlSteps.foldLeft(rhos) { case (df, (name, sql)) =>
      df.withColumn(name, expr(sql))
    }
    val stackExpr = (1 to PacfMax)
      .map(k => s"CAST($k AS BIGINT), CAST(floor(p$k$k * 1000000 + 0.5)" +
        " AS BIGINT)")
      .mkString(s"stack($PacfMax, ", ", ", ") AS (lag, pacf_fp)")
    withPhis.select(expr(stackExpr)).orderBy($"lag")
  }

  private val pacfOracle = {
    val phiCtes = {
      // Group the DL steps into one CTE per order k (each references the
      // previous CTE's columns).
      val byK = dlSteps.groupBy { case (name, _) => name.charAt(1) }
      (1 to PacfMax).map { k =>
        val cols = byK(('0' + k).toChar)
          .map { case (name, sql) => s"$sql AS $name" }
        val carry = if (k == 1) "rhos.*" else s"phi${k - 1}.*"
        // Columns of order k depend on each other (pkk feeds pkj): emit
        // pkk in an inner select, then the pkj's outside.
        val (diag, offdiag) = cols.partition(_.endsWith(s"p$k$k"))
        if (offdiag.isEmpty)
          s"phi$k AS (SELECT $carry, ${diag.head} FROM ${if (k == 1) "rhos" else s"phi${k - 1}"})"
        else
          s"""phi$k AS (
             |  SELECT *, ${offdiag.mkString(", ")} FROM (
             |    SELECT $carry, ${diag.head}
             |    FROM ${if (k == 1) "rhos" else s"phi${k - 1}"}) inner$k)""".stripMargin
      }.mkString(",\n")
    }
    val outRows = (1 to PacfMax)
      .map(k => s"SELECT CAST($k AS BIGINT) AS lag," +
        s" CAST(floor(p$k$k * 1000000 + 0.5) AS BIGINT) AS pacf_fp FROM phi$PacfMax")
      .mkString("\n  UNION ALL ")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |              AS BIGINT) AS di,
       |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |              AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT count(*) AS n, sum(y) AS s FROM daily),
       |c AS MATERIALIZED (SELECT di, CAST(n AS HUGEINT) * y - s AS cy
       |                   FROM daily, tot),
       |den AS (SELECT sum(cy * cy) AS dd FROM c),
       |lags AS (SELECT CAST(unnest(range(1, ${PacfMax + 1})) AS BIGINT) AS lag),
       |nums AS (
       |  SELECT l.lag, sum(a.cy * b.cz) AS num
       |  FROM c a CROSS JOIN lags l
       |  JOIN (SELECT di AS dj, cy AS cz FROM c) b ON b.dj = a.di + l.lag
       |  GROUP BY l.lag),
       |rhos AS (
       |  SELECT ${(1 to PacfMax).map(k =>
            s"max(CASE WHEN lag = $k THEN CAST(num AS DOUBLE)" +
              s" / CAST(dd AS DOUBLE) END) AS r$k").mkString(", ")}
       |  FROM nums, den),
       |$phiCtes
       |$outRows
       |ORDER BY lag""".stripMargin
  }

  /* Time-series structure operators — change-point
   * LOCALIZATION by binary segmentation (q60's CUSUM detects drift; this
   * finds WHERE the level shifted, by exact between-group sum-of-squares
   * over prefix sums) and an STL-lite seasonal decomposition (weekday
   * medians of the 7-scaled detrended series — every trend/seasonal/
   * residual value an exact integer, no float smoothing anywhere).
   */

  // ---------------------------------------------------------------- x271

  /** x271: change-point localization (one-split binary segmentation) on
    * the daily order-count series — the split t maximizing the
    * between-group sum of squares `(S1·n − S·n1)² / (n1·n2)` over all
    * candidate positions, computed from ONE prefix-sum pass: the
    * numerator root `S1·n − S·n1` is an exact BIGINT (≤ ~1.5e9 at
    * sf0.1), squared and divided in doubles derived from identical
    * integers (engine-stable), with (t) as the deterministic tie-break.
    * Emits the split date, both segment means, and the score.
    *
    * Scale: the corpus-sized stage is the per-day count; the candidate
    * scan is |days| rows through one running-sum window — binary
    * segmentation's recursive splits would repeat this O(log k) times,
    * never touching row-level data again. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .select(to_date($"o_orderdate").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("y"))
      .localCheckpoint(true)
    val tot = daily.agg(sum($"y").as("s"), count(lit(1)).as("n"))
    val wOrd = Window.orderBy($"day")
    val pre = daily
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("s1", sum($"y").over(wOrd.rowsBetween(Long.MinValue, 0)))
      .crossJoin(broadcast(tot))
      .filter($"t" < $"n") // a split needs a non-empty right segment
      .withColumn("diff", $"s1" * $"n" - $"s" * $"t")
      .withColumn("g",
        ($"diff".cast("double") * $"diff".cast("double"))
          / ($"t".cast("double") * ($"n" - $"t").cast("double")))
    pre
      .withColumn("rn", row_number().over(
        Window.orderBy($"g".desc, $"t")))
      .filter($"rn" === 1)
      .select($"day".as("split_day"), $"t".as("n_left"),
        ($"n" - $"t").as("n_right"), $"s1".as("sum_left"),
        ($"s" - $"s1").as("sum_right"), $"diff",
        QueryUtil.halfUp4($"s1".cast("double") / $"t".cast("double")).as("mean_left"),
        QueryUtil.halfUp4(($"s" - $"s1").cast("double")
          / ($"n" - $"t").cast("double")).as("mean_right"),
        QueryUtil.halfUp4($"g").as("score"))
  }

  private val changepointOracle =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(sum(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      |        FROM daily),
      |pre AS (
      |  SELECT day,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |         CAST(sum(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS s1,
      |         s, n
      |  FROM daily, tot),
      |scored AS (
      |  SELECT *, s1 * n - s * t AS diff,
      |         (CAST(s1 * n - s * t AS DOUBLE) * CAST(s1 * n - s * t AS DOUBLE))
      |           / (CAST(t AS DOUBLE) * CAST(n - t AS DOUBLE)) AS g
      |  FROM pre WHERE t < n)
      |SELECT day AS split_day, t AS n_left, n - t AS n_right,
      |       s1 AS sum_left, s - s1 AS sum_right, diff,
      |       floor(CAST(s1 AS DOUBLE) / CAST(t AS DOUBLE) * 10000 + 0.5)
      |         / 10000.0 AS mean_left,
      |       floor(CAST(s - s1 AS DOUBLE) / CAST(n - t AS DOUBLE) * 10000 + 0.5)
      |         / 10000.0 AS mean_right,
      |       floor(g * 10000 + 0.5) / 10000.0 AS score
      |FROM (SELECT *, row_number() OVER (ORDER BY g DESC, t) AS rn FROM scored)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- x272

  /** x272: STL-lite seasonal decomposition of the daily order counts —
    * trend = 7·(centered 7-day moving average) kept as the exact
    * integer window SUM, detrended = 7y − trend (integer, full-window
    * days only), weekday seasonal = the lower median of each weekday's
    * detrended values (exact rank selection), residual = detrended −
    * seasonal. Weekday indexing is the fixture-independent
    * `((d % 7) + 7) % 7` spelling over epoch-day differences (a true
    * modulo for negative differences). Emits the 7 weekday rows with exact
    * 7ths-scaled seasonals plus a variance-explained audit from exact
    * integer sums of squares.
    *
    * Scale: one per-day count, one 7-row-window sum, one per-weekday
    * rank — all |days|-sized after the first aggregate. */
  def seasonalDecomposeX272(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .select(to_date($"o_orderdate").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("y"))
      .localCheckpoint(true)
    val wOrd = Window.orderBy($"day")
    val n = Window.partitionBy(lit(1))
    val trended = daily
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("nd", count(lit(1)).over(n))
      .withColumn("tr7", sum($"y").over(wOrd.rowsBetween(-3, 3)))
      .filter($"rn" > 3 && $"rn" <= $"nd" - 3)
      .withColumn("detr", lit(7L) * $"y" - $"tr7")
      .withColumn("dow",
        ((datediff($"day", lit(java.sql.Date.valueOf("1995-01-01"))) % 7 + 7) % 7)
          .cast("long"))
      .localCheckpoint(true)
    val wDow = Window.partitionBy($"dow")
    val med = trended
      .withColumn("rk", row_number().over(wDow.orderBy($"detr", $"day")))
      .withColumn("cnt", count(lit(1)).over(wDow))
      .filter($"rk" === expr("(cnt + 1) DIV 2"))
      .select($"dow", $"detr".as("seas7"), $"cnt".as("n_days"))
    val audit = trended.join(broadcast(med.select($"dow", $"seas7")), "dow")
      .agg(sum($"detr" * $"detr").as("ss_detr"),
        sum(($"detr" - $"seas7") * ($"detr" - $"seas7")).as("ss_resid"))
    med.crossJoin(broadcast(audit))
      .select($"dow", $"n_days", $"seas7",
        QueryUtil.halfUp4($"seas7".cast("double") / 7.0).as("seasonal"),
        $"ss_detr", $"ss_resid",
        QueryUtil.halfUp4(lit(1.0)
          - $"ss_resid".cast("double") / $"ss_detr".cast("double"))
          .as("var_explained"))
      .orderBy($"dow")
  }

  private val seasonalDecomposeOracle =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |trended AS MATERIALIZED (
      |  SELECT day, y, detr,
      |         ((datediff('day', DATE '1995-01-01', day) % 7) + 7) % 7 AS dow
      |  FROM (
      |    SELECT day, y,
      |           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
      |           CAST(count(*) OVER () AS BIGINT) AS nd,
      |           7 * y - CAST(sum(y) OVER (ORDER BY day
      |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS detr
      |    FROM daily)
      |  WHERE rn > 3 AND rn <= nd - 3),
      |med AS (
      |  SELECT dow, detr AS seas7, cnt AS n_days FROM (
      |    SELECT dow, detr,
      |           row_number() OVER (PARTITION BY dow ORDER BY detr, day) AS rk,
      |           CAST(count(*) OVER (PARTITION BY dow) AS BIGINT) AS cnt
      |    FROM trended)
      |  WHERE rk = (cnt + 1) // 2),
      |audit AS (
      |  SELECT CAST(sum(t.detr * t.detr) AS BIGINT) AS ss_detr,
      |         CAST(sum((t.detr - m.seas7) * (t.detr - m.seas7)) AS BIGINT)
      |           AS ss_resid
      |  FROM trended t JOIN med m ON m.dow = t.dow)
      |SELECT dow, n_days, seas7,
      |       floor(CAST(seas7 AS DOUBLE) / 7.0 * 10000 + 0.5) / 10000.0
      |         AS seasonal,
      |       ss_detr, ss_resid,
      |       floor((1.0 - CAST(ss_resid AS DOUBLE) / CAST(ss_detr AS DOUBLE))
      |             * 10000 + 0.5) / 10000.0 AS var_explained
      |FROM med, audit
      |ORDER BY dow""".stripMargin

  // ---------------------------------------------------------------- x315

  /** x315: single-changepoint detection by binary segmentation — for
    * each event type's daily revenue series, the split k maximizing the
    * SSE reduction, i.e. maximizing S_L²/n_L + S_R²/n_R (Σx² is
    * constant across splits, prefix sums S are exact BIGINT cents).
    * The ranking key is that expression as a double — both engines
    * derive it from identical integers with identical arithmetic, so
    * the argmax (tie-broken by earliest day) is engine-stable without
    * any rounding of the KEY (the repo's unrounded-ranking rule); only
    * the REPORTED gain is quantized.
    *
    * Scale: the series census (type × day) is tiny and grows with the
    * time span, not the event count; candidates are one window pass
    * over it. The full-data pass is one map-side-combinable groupBy. */
  def changepointBinseg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = dailyCents(spark, dir)
      .withColumnRenamed("cents", "s")
    val wOrd = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"event_type")
    val cand = daily
      .withColumn("i", count(lit(1)).over(
        Window.partitionBy($"event_type").orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("sl", sum($"s").over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("st", sum($"s").over(wAll))
      .filter($"i" < $"n") // a split needs a non-empty right side
    def d(c: Column) = c.cast("double")
    val keyed = cand.withColumn("gain_key",
      d($"sl") * d($"sl") / d($"i")
        + d($"st" - $"sl") * d($"st" - $"sl") / d($"n" - $"i"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"gain_key".desc, $"day")
    keyed.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"event_type", $"day".as("split_day"), $"n".as("n_days"),
        $"i".as("n_left"), $"sl".as("sum_left"), $"st".as("sum_total"),
        QueryUtil.halfUp4($"gain_key"
          - d($"st") * d($"st") / d($"n")).as("gain"))
      .orderBy($"event_type")
  }

  private val changepointOracleX315 =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
      |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
      |  FROM events GROUP BY 1, 2),
      |cand AS (
      |  SELECT event_type, day,
      |         CAST(row_number() OVER wo AS BIGINT) AS i,
      |         CAST(sum(s) OVER (PARTITION BY event_type ORDER BY day
      |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
      |         CAST(count(*) OVER wa AS BIGINT) AS n,
      |         CAST(sum(s) OVER wa AS BIGINT) AS st
      |  FROM daily
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
      |         wa AS (PARTITION BY event_type)),
      |keyed AS (
      |  SELECT *,
      |         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(i AS DOUBLE)
      |         + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
      |           / CAST(n - i AS DOUBLE) AS gain_key
      |  FROM cand WHERE i < n),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |                               ORDER BY gain_key DESC, day) AS rk
      |  FROM keyed)
      |SELECT event_type, day AS split_day, n AS n_days, i AS n_left,
      |       sl AS sum_left, st AS sum_total,
      |       floor((gain_key - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |                         / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS gain
      |FROM best WHERE rk = 1
      |ORDER BY event_type""".stripMargin

  /* Holt's linear-trend smoothing as an exact
   * fixed-point integer recurrence (typed per-key fold vs recursive-CTE
   * oracle), dynamic-gap session windows (batch engine surface + the
   * streaming cross-batch-merge parity), fill-in-the-middle span
   * splitting (the code-model data transform), and the `try_` arithmetic
   * semantics pin.
   * Elsewhere: x318 and x319 (StreamingQueries); x320 (PipelineQueries);
   * x321 (RelationalQueries).
   */

  // ---------------------------------------------------------------- x317

  /** Per-type daily revenue census shared by the Holt fold and its
    * oracle: (event_type, epoch-day, cents). */
  private def dailyCents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type",
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"event_type", $"day").agg(sum($"cents").as("cents"))
  }

  /** x317: Holt's linear-trend exponential smoothing (α = β = ½) over
    * each event type's daily revenue, as an EXACT integer recurrence:
    * l_t = (x_t + l_{t−1} + b_{t−1}) quot 2, b_t = (l_t − l_{t−1} +
    * b_{t−1}) quot 2 with TRUNCATING division as the pinned rounding
    * convention — JVM `/` and DuckDB `//` both truncate toward zero
    * (measured: −7 // 2 = −3 in DuckDB, NOT floor), so negative trend
    * states stay bit-identical; Math.floorDiv would diverge from the
    * oracle on every negative state. Init l₁ = x₁, b₁ = 0. A
    * sequential per-key recurrence is
    * the one shape SQL can't fold distributively, so the engine side is
    * a typed groupByKey.mapGroups over the (tiny) per-key day series
    * and the oracle is a recursive CTE stepping i → i+1 — the x303
    * sequential-state template.
    *
    * Scale: the fold's working set is one key's DAY CENSUS (bounded by
    * the time span, not the event count); the full-data pass is the
    * map-side-combinable daily groupBy. Forecast = l + 7·b (7-day
    * horizon), still integer. */
  def holtLinear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = dailyCents(spark, dir).as[(String, Long, Long)]
    daily.groupByKey(_._1)
      .mapGroups { (k, it) =>
        val xs = it.toArray.sortBy(_._2).map(_._3)
        var l = xs.head
        var b = 0L
        xs.tail.foreach { x =>
          val lPrev = l
          l = (x + l + b) / 2L
          b = (l - lPrev + b) / 2L
        }
        (k, xs.length.toLong, l, b, l + 7L * b)
      }
      .toDF("event_type", "n_days", "level", "trend", "forecast7")
      .orderBy($"event_type")
  }

  private val holtLinearOracle =
    """WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
      |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |seq AS MATERIALIZED (
      |  SELECT event_type, cents,
      |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
      |  FROM daily),
      |rec AS (
      |  SELECT event_type, i, cents AS l, CAST(0 AS BIGINT) AS b
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.event_type, s.i,
      |         (s.cents + r.l + r.b) // 2 AS l,
      |         (((s.cents + r.l + r.b) // 2) - r.l + r.b) // 2 AS b
      |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1),
      |n AS (SELECT event_type, max(i) AS nn FROM seq GROUP BY 1)
      |SELECT r.event_type, n.nn AS n_days, r.l AS level, r.b AS trend,
      |       r.l + 7 * r.b AS forecast7
      |FROM rec r JOIN n ON n.event_type = r.event_type AND r.i = n.nn
      |ORDER BY r.event_type""".stripMargin

  // ---------------------------------------------------------------- x334

  /** Residual quantization scale (milli-units) — small enough that
    * Σe² stays in BIGINT at GenScale-sf1 weekly volumes, large enough
    * that the DW ratio carries ~3 significant digits of residual. */
  private val DwScale = 1000L

  /** x334: Durbin–Watson — are the residuals of the weekly-order-volume
    * trend line serially correlated (the classic autocorrelation
    * diagnostic for regression on time)? Weeks are epoch-day DIV 7
    * buckets (timezone-free in both engines), x = the dense week index,
    * y = the weekly order count. The OLS residual is kept EXACT as the
    * integer numerator Rᵢ = nD·yᵢ − D·Σy + B·Σx − n·B·xᵢ over the common
    * denominator nD (D = nΣx²−(Σx)², B = nΣxy−ΣxΣy), then quantized to
    * milli-units with truncating division — products run in
    * DECIMAL(38)/HUGEINT (the x330 silent-BIGINT-overflow rule) even
    * though current scales fit, because a 100× corpus would not.
    * DW = Σ(eᵢ−eᵢ₋₁)²/Σeᵢ² from BIGINT sums; DW ≈ 2 means no serial
    * correlation, < 1.5 flags positive autocorrelation.
    *
    * Scale: one groupBy(week) corpus pass; the regression scalars and
    * the DW window run on the ~350-row weekly frame. */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weekly = Tables.orders(spark, dir)
      .select(expr("datediff(to_date(o_orderdate), DATE '1970-01-01') DIV 7").as("wk"))
      .groupBy($"wk").agg(count(lit(1)).as("y"))
      .withColumn("x", row_number().over(Window.orderBy($"wk")).cast("long"))
    val scal = weekly.agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"x" * $"x").as("sxx"),
      sum($"y").as("sy"), sum($"x" * $"y").as("sxy"))
      .withColumn("dd", $"n" * $"sxx" - $"sx" * $"sx")
      .withColumn("bn", $"n" * $"sxy" - $"sx" * $"sy")
    val resid = weekly.crossJoin(broadcast(scal))
      .withColumn("e_m", expr(
        s"""CAST(((CAST(n AS DECIMAL(38,0)) * CAST(dd AS DECIMAL(38,0)) * y
           |  - CAST(dd AS DECIMAL(38,0)) * sy
           |  + CAST(bn AS DECIMAL(38,0)) * sx
           |  - CAST(n AS DECIMAL(38,0)) * CAST(bn AS DECIMAL(38,0)) * x) * $DwScale)
           | DIV (CAST(n AS DECIMAL(38,0)) * CAST(dd AS DECIMAL(38,0))) AS BIGINT)""".stripMargin))
      .withColumn("e_prev", lag($"e_m", 1).over(Window.orderBy($"x")))
    val agg = resid.groupBy($"n", $"dd", $"bn").agg(
      sum($"e_m" * $"e_m").as("se2"),
      sum(when($"e_prev".isNotNull,
        ($"e_m" - $"e_prev") * ($"e_m" - $"e_prev")).otherwise(0L)).as("sd2"))
    val dw = $"sd2".cast("double") / $"se2".cast("double")
    agg.select($"n", $"dd", $"bn", $"se2", $"sd2",
      QueryUtil.halfUp4(dw).as("dw"),
      when(dw < 1.5, 1L).otherwise(0L).as("pos_autocorr"))
  }

  private val durbinWatsonOracle =
    s"""WITH weekly AS MATERIALIZED (
       |  SELECT wk, y, CAST(row_number() OVER (ORDER BY wk) AS BIGINT) AS x
       |  FROM (
       |    SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7 AS wk,
       |           CAST(count(*) AS BIGINT) AS y
       |    FROM orders GROUP BY 1)),
       |scal AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM weekly),
       |scal2 AS (
       |  SELECT *, n * sxx - sx * sx AS dd, n * sxy - sx * sy AS bn FROM scal),
       |resid AS (
       |  SELECT n, dd, bn, x,
       |         CAST(((CAST(n AS HUGEINT) * CAST(dd AS HUGEINT) * y
       |                - CAST(dd AS HUGEINT) * sy
       |                + CAST(bn AS HUGEINT) * sx
       |                - CAST(n AS HUGEINT) * CAST(bn AS HUGEINT) * x) * $DwScale)
       |              // (CAST(n AS HUGEINT) * CAST(dd AS HUGEINT)) AS BIGINT) AS e_m
       |  FROM weekly CROSS JOIN scal2),
       |lagged AS (
       |  SELECT *, lag(e_m) OVER (ORDER BY x) AS e_prev FROM resid),
       |agg AS (
       |  SELECT n, dd, bn,
       |         CAST(sum(e_m * e_m) AS BIGINT) AS se2,
       |         CAST(sum(CASE WHEN e_prev IS NOT NULL
       |                       THEN (e_m - e_prev) * (e_m - e_prev) ELSE 0 END) AS BIGINT) AS sd2
       |  FROM lagged GROUP BY 1, 2, 3)
       |SELECT n, dd, bn, se2, sd2,
       |       floor(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) * 10000 + 0.5) / 10000.0 AS dw,
       |       CAST(CASE WHEN CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) < 1.5
       |                 THEN 1 ELSE 0 END AS BIGINT) AS pos_autocorr
       |FROM agg""".stripMargin

  /* Streaming-drift and retrieval-eval
   * completions — the Page–Hinkley test (the classic sequential
   * change-detection statistic used by online-ML drift monitors; CUSUM's
   * mean-tracking sibling, complementing x60/x271/x315) and Mean Average
   * Precision (the one canonical ranking metric the eval suite — MRR x83,
   * nDCG x87, AUC x113, pass@k x327 — still lacked), computed float-free
   * by the x327 macro-average convention.
   * Elsewhere: x342 (RetrievalQueries).
   */

  /** PH drift allowance δ (micro-units): 2 events/day. */
  private[queries] val PhDeltaMicro = 2000000L
  /** PH alarm threshold λ (micro-units): 50 cumulative events. */
  private[queries] val PhLambdaMicro = 50000000L
  /** Emitted trace length (top PH days). */
  private val PhTopK = 20

  // ---------------------------------------------------------------- x341

  /** x341: Page–Hinkley test over the daily event-count series — m_T =
    * Σ_{t≤T}(x_t − x̄_t − δ) with x̄_t the RUNNING mean, PH_T =
    * m_T − min_{s≤T} m_s, alarm when PH exceeds λ. The running mean is
    * micro-quantized with truncating division ((S_t·10⁶) DIV t), so
    * deviations, their running sum, the running min and PH are all
    * BIGINT — the entire detector state is exact integers, which is
    * precisely what makes it replayable as a stream (same x317/x330
    * fixed-point convention). Emits the top-[[PhTopK]] days by PH
    * (ties → earlier day) with the alarm flag.
    *
    * Scale: one map-side-combinable groupBy(day) corpus pass; the
    * detector windows run over the day census (30 rows here, ~10⁴ rows
    * for decades of days — census-scale regardless of corpus size). */
  def pageHinkley(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(to_date($"ts").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("x"))
    val wc = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)
    val staged = daily
      .withColumn("t", row_number().over(Window.orderBy($"day")).cast("long"))
      .withColumn("s", sum($"x").over(wc))
      .withColumn("mbar", expr("(s * 1000000) DIV t"))
      .withColumn("dev", $"x" * 1000000L - $"mbar" - lit(PhDeltaMicro))
      .withColumn("m_t", sum($"dev").over(wc))
      .withColumn("mn", min($"m_t").over(wc))
      .withColumn("ph", $"m_t" - $"mn")
    staged
      .withColumn("rk", row_number().over(Window.orderBy($"ph".desc, $"day")))
      .filter($"rk" <= PhTopK)
      .select($"day", $"x", $"m_t", $"ph",
        when($"ph" > PhLambdaMicro, 1L).otherwise(0L).as("alarm"))
      .orderBy($"day")
  }

  /** The Page–Hinkley CTE chain `staged → dev → acc → ph` over a
    * `daily(day, x)` CTE; the streaming twin x349 shares it. */
  private[queries] val phCtesSql: String =
    s"""staged AS (
       |  SELECT day, x,
       |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
       |         CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
       |  FROM daily),
       |dev AS (
       |  SELECT *, x * 1000000 - ((s * 1000000) // t) - $PhDeltaMicro AS dev
       |  FROM staged),
       |acc AS (
       |  SELECT *,
       |         CAST(sum(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS m_t
       |  FROM dev),
       |ph AS (
       |  SELECT *, m_t - min(m_t) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ph
       |  FROM acc)""".stripMargin

  private val pageHinkleyOracle =
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |$phCtesSql,
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY ph DESC, day) AS rk FROM ph)
       |SELECT day, x, m_t, ph,
       |       CAST(CASE WHEN ph > $PhLambdaMicro THEN 1 ELSE 0 END AS BIGINT) AS alarm
       |FROM ranked WHERE rk <= $PhTopK
       |ORDER BY day""".stripMargin

  /* Two model-fitting completions — Holt–Winters
   * ADDITIVE SEASONAL smoothing (x317's Holt with a 7-slot day-of-week
   * seasonal state; the full triple-smoothing forecaster) and Witten–Bell
   * bigram smoothing (the diversity-based interpolation family member the
   * LM suite — Kneser–Ney x149, stupid backoff x245, Good–Turing x254 —
   * still lacked, here LOG-FREE: the WB probability is an exact rational
   * quantized to micro-units, no libm anywhere).
   * Elsewhere: x344 (TextQueries).
   */

  // ---------------------------------------------------------------- x343

  /** Seasonal period (day-of-series slots). */
  private val HwPeriod = 7

  /** x343: Holt–Winters additive (α = β = γ = ½) over each event type's
    * daily-cents series with a [[HwPeriod]]-slot seasonal state — the
    * exact-integer recurrence contract of x317 extended to triple
    * smoothing: lₜ = ((xₜ − s[idx]) + l + b) quot 2, bₜ = ((lₜ − l) + b)
    * quot 2, s[idx] ← ((xₜ − lₜ) + s[idx]) quot 2 with idx = (t−1) mod 7
    * and TRUNCATING division (JVM quot == DuckDB //, the pinned
    * negative-state convention). Init l₁ = x₁, b₁ = 0, s ≡ 0. The
    * 7-day-ahead forecast lands on the same seasonal slot as the last
    * observation: f₇ = l + 7b + s[(n−1) mod 7]. Engine side is a typed
    * groupByKey fold over each key's day census; the oracle steps the
    * identical trajectory as a recursive CTE carrying all seven seasonal
    * columns.
    *
    * Scale: the corpus pass is the map-side-combinable daily census; the
    * sequential fold touches one key's day series (time-bounded, not
    * corpus-bounded). */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dailyCents(spark, dir).as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (k, it) =>
        val xs = it.toArray.sortBy(_._2).map(_._3)
        var l = xs.head
        var b = 0L
        val s = Array.fill(HwPeriod)(0L)
        (2 to xs.length).foreach { i =>
          val x = xs(i - 1)
          val idx = (i - 1) % HwPeriod
          val lPrev = l
          l = ((x - s(idx)) + l + b) / 2L
          b = ((l - lPrev) + b) / 2L
          s(idx) = ((x - l) + s(idx)) / 2L
        }
        val fc = l + 7L * b + s((xs.length - 1) % HwPeriod)
        (k, xs.length.toLong, l, b, s(0), s(1), s(2), s(3), s(4), s(5), s(6), fc)
      }
      .toDF("event_type", "n_days", "level", "trend",
        "s0", "s1", "s2", "s3", "s4", "s5", "s6", "forecast7")
      .orderBy($"event_type")
  }

  private val holtWintersOracle = {
    val sidx = "CASE (s.i - 1) % 7 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 " +
      "WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END"
    val lnew = s"(((s.cents - ($sidx)) + r.l + r.b) // 2)"
    val bnew = s"((($lnew) - r.l + r.b) // 2)"
    def snew(k: Int) =
      s"CASE WHEN (s.i - 1) % 7 = $k THEN ((s.cents - ($lnew)) + r.s$k) // 2 ELSE r.s$k END AS s$k"
    val sCols = (0 until HwPeriod).map(snew).mkString(",\n         ")
    val fidx = "CASE (n.nn - 1) % 7 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 " +
      "WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END"
    s"""WITH RECURSIVE daily AS MATERIALIZED (
       |  SELECT event_type,
       |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
       |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
       |  FROM events GROUP BY 1, 2),
       |seq AS MATERIALIZED (
       |  SELECT event_type, cents,
       |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
       |  FROM daily),
       |rec AS (
       |  SELECT event_type, i, cents AS l, CAST(0 AS BIGINT) AS b,
       |         CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
       |         CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3,
       |         CAST(0 AS BIGINT) AS s4, CAST(0 AS BIGINT) AS s5,
       |         CAST(0 AS BIGINT) AS s6
       |  FROM seq WHERE i = 1
       |  UNION ALL
       |  SELECT s.event_type, s.i,
       |         $lnew AS l,
       |         $bnew AS b,
       |         $sCols
       |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1),
       |n AS (SELECT event_type, max(i) AS nn FROM seq GROUP BY 1)
       |SELECT r.event_type, n.nn AS n_days, r.l AS level, r.b AS trend,
       |       r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6,
       |       r.l + 7 * r.b + ($fidx) AS forecast7
       |FROM rec r JOIN n ON n.event_type = r.event_type AND r.i = n.nn
       |ORDER BY r.event_type""".stripMargin
  }

  /* Intermittent-demand forecasting and bitmap
   * index layout — Croston's method (the standard forecaster when most
   * periods have ZERO demand, where Holt/HW degenerate; pairs with
   * x317/x343) and Roaring-bitmap container sizing (array vs bitmap vs
   * run containers per 2¹⁶ row-id chunk — the bitmap-index companion to
   * x338's column-encoding advisor).
   * Elsewhere: x348 (EngineOpsQueries).
   */

  /** The fixed part panel whose demand series Croston tracks (sparse,
    * genuinely intermittent at small SF). */
  private val CrostonParts = Seq(1L, 2L, 3L, 4L, 5L)

  // ---------------------------------------------------------------- x347

  /** x347: Croston's method over each panel part's weekly demand —
    * TWO coupled exponential smoothers (α = ½), one over the NONZERO
    * demand sizes, one over the inter-demand intervals, updated only
    * when demand occurs (zero weeks never touch the state — that is the
    * method's whole point, and why no zero-fill of the week frame is
    * needed). zₜ = (q + z) quot 2, pₜ = (a + p) quot 2 with truncating
    * division (x317 convention); init z₁ = q₁, p₁ = a₁ with the first
    * interval pinned to 1. The per-period forecast z/p is micro-quantized
    * with truncating DIV. Typed groupByKey fold vs recursive-CTE oracle.
    *
    * Scale: the corpus pass is one filtered map-side-combinable
    * groupBy(part, week); the fold walks each part's NONZERO weeks
    * (bounded by the calendar, and sparse by construction). */
  def croston(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weekly = Tables.lineitem(spark, dir)
      .filter($"l_partkey".isin(CrostonParts: _*))
      .select($"l_partkey".cast("long").as("pk"),
        expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') DIV 7").as("wk"),
        $"l_quantity".cast("long").as("q"))
      .groupBy($"pk", $"wk").agg(sum($"q").as("q"))
    weekly.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (pk, it) =>
        val xs = it.toArray.sortBy(_._2)
        var z = xs.head._3
        var p = 1L
        var prevWk = xs.head._2
        xs.tail.foreach { case (_, wk, q) =>
          val a = wk - prevWk
          z = (q + z) / 2L
          p = (a + p) / 2L
          prevWk = wk
        }
        val fMicro = if (p > 0) z * 1000000L / p else 0L
        (pk, xs.length.toLong, z, p, fMicro)
      }
      .toDF("pk", "n_demands", "z_level", "p_interval", "f_micro")
      .orderBy($"pk")
  }

  private val crostonOracle = {
    val parts = CrostonParts.mkString(", ")
    s"""WITH RECURSIVE weekly AS MATERIALIZED (
       |  SELECT CAST(l_partkey AS BIGINT) AS pk,
       |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS wk,
       |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
       |  FROM lineitem WHERE l_partkey IN ($parts)
       |  GROUP BY 1, 2),
       |seq AS MATERIALIZED (
       |  SELECT pk, wk, q,
       |         CAST(row_number() OVER (PARTITION BY pk ORDER BY wk) AS BIGINT) AS i,
       |         lag(wk) OVER (PARTITION BY pk ORDER BY wk) AS prev_wk
       |  FROM weekly),
       |rec AS (
       |  SELECT pk, i, q AS z, CAST(1 AS BIGINT) AS p
       |  FROM seq WHERE i = 1
       |  UNION ALL
       |  SELECT s.pk, s.i,
       |         (s.q + r.z) // 2 AS z,
       |         ((s.wk - s.prev_wk) + r.p) // 2 AS p
       |  FROM rec r JOIN seq s ON s.pk = r.pk AND s.i = r.i + 1),
       |n AS (SELECT pk, max(i) AS nn FROM seq GROUP BY 1)
       |SELECT r.pk, n.nn AS n_demands, r.z AS z_level, r.p AS p_interval,
       |       CASE WHEN r.p > 0 THEN (r.z * 1000000) // r.p ELSE 0 END AS f_micro
       |FROM rec r JOIN n ON n.pk = r.pk AND r.i = n.nn
       |ORDER BY r.pk""".stripMargin
  }

  /* Time-series linear interpolation (x376), the skyline /
   * Pareto-frontier operator (x377 — efficient windowed plan pinned against
   * a brute-force EXISTS oracle), and IPS/SNIPS off-policy evaluation
   * (x378 — the offline policy-value estimate an experimentation or
   * data-mixing loop runs before deploying a new routing policy).
   * Elsewhere: x377 (AnalyticsQueries); x378 (ExperimentQueries).
   */

  /** x376: linear interpolation over a sparse daily series — q55 gap-fills
    * by carry-forward; this reconstructs missing days by EXACT linear
    * interpolation between the bracketing observations (the resampling
    * step a forecasting pipeline runs): the daily cents series keeps only
    * every 3rd day as "observed", every calendar day in the span is
    * emitted with its observed or interpolated value, edge days outside
    * the observed hull stay null. v = v0 + (v1-v0)(t-d0)/(d1-d0) on exact
    * integers, half-up 4dp. Scale: the frame is bounded by CALENDAR DAYS
    * (not rows), so the single-series window is a constant-size tail on
    * an aggregated frame; per-key series would partition the windows. */
  def linearInterpolation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
        floor($"value" * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy($"day").agg(sum($"cents").as("cents"))
    val span = daily.agg(min($"day").as("lo"), max($"day").as("hi"))
    val allDays = span.select(explode(sequence($"lo", $"hi")).as("day"))
    val obs = daily.filter($"day" % 3 === 0)
      .select($"day", $"cents")
    val w = Window.orderBy($"day")
    val joined = allDays.join(obs, Seq("day"), "left")
      .withColumn("d0", last(when($"cents".isNotNull, $"day"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("v0", last($"cents", ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("d1", first(when($"cents".isNotNull, $"day"), ignoreNulls = true)
        .over(w.rowsBetween(0, Window.unboundedFollowing)))
      .withColumn("v1", first($"cents", ignoreNulls = true)
        .over(w.rowsBetween(0, Window.unboundedFollowing)))
    joined.select($"day",
      $"cents".isNotNull.cast("int").as("observed"),
      QueryUtil.halfUp(
        when($"cents".isNotNull, $"cents".cast("double"))
          .when($"d0".isNotNull && $"d1".isNotNull,
            $"v0" + ($"v1" - $"v0").cast("double") * ($"day" - $"d0") / ($"d1" - $"d0"))
          .otherwise(lit(null).cast("double")), 4).as("val"))
      .orderBy("day")
  }

  private val linearInterpolationOracle =
    s"""WITH daily AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
       |                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
       |               FROM events GROUP BY 1),
       |span AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
       |alld AS (SELECT unnest(range(lo, hi + 1)) AS day FROM span),
       |obs AS (SELECT day, cents FROM daily WHERE day % 3 = 0),
       |j AS (SELECT a.day, o.cents,
       |        last_value(CASE WHEN o.cents IS NOT NULL THEN a.day END IGNORE NULLS) OVER wp AS d0,
       |        last_value(o.cents IGNORE NULLS) OVER wp AS v0,
       |        first_value(CASE WHEN o.cents IS NOT NULL THEN a.day END IGNORE NULLS) OVER wf AS d1,
       |        first_value(o.cents IGNORE NULLS) OVER wf AS v1
       |      FROM alld a LEFT JOIN obs o ON o.day = a.day
       |      WINDOW wp AS (ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |             wf AS (ORDER BY a.day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT day, CAST(cents IS NOT NULL AS INTEGER) AS observed,
       |       CASE WHEN cents IS NOT NULL THEN floor(CAST(cents AS DOUBLE) * 10000 + 0.5) / 10000.0
       |            WHEN d0 IS NOT NULL AND d1 IS NOT NULL THEN
       |              floor((v0 + CAST(v1 - v0 AS DOUBLE) * (day - d0) / (d1 - d0)) * 10000 + 0.5) / 10000.0
       |            ELSE NULL END AS val
       |FROM j
       |ORDER BY day""".stripMargin

  /** x380 seeds: the first 8 observed days anchor the candidate lines;
    * inlier tolerance = total/(days*7), derived from the data so it's a
    * shared integer in both engines. */
  private val RansacSeeds = 8

  /** x380: deterministic RANSAC line fit over the daily cents series —
    * robust trend fitting under outliers, with the randomness replaced by
    * a fixed candidate set (all pairs of the first 8 observed days, the
    * reproducibility recipe the sampling family uses): for each candidate
    * line through seeds (d_i,v_i),(d_j,v_j), a day is an inlier when
    * |v·Δd − (v_i·Δd + Δv·(d−d_i))| <= τ·Δd — a CROSS-MULTIPLIED exact
    * integer test, no rational slope ever materialized. Winner = max
    * inliers, tie by (i,j). Emits the winning pair, slope as an integer
    * num/den, inlier count. Scale: candidates are a bounded lattice
    * (28 pairs) broadcast against the series. */
  def ransacLine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
        floor($"value" * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy($"day").agg(sum($"cents").as("cents"))
      .localCheckpoint(true) // seeds, tau, and the inlier scan all reuse it
    val tau = daily.agg(expr("CAST(sum(cents) DIV (count(1) * 7) AS BIGINT)"))
      .head().getLong(0)
    val wSeed = Window.orderBy($"day")
    val seeds = daily.withColumn("i", row_number().over(wSeed))
      .filter($"i" <= RansacSeeds)
      .select($"i", $"day".as("sd"), $"cents".as("sv"))
    val cand = seeds.select($"i", $"sd".as("di"), $"sv".as("vi"))
      .join(seeds.select($"i".as("j"), $"sd".as("dj"), $"sv".as("vj")), $"i" < $"j")
      .select($"i", $"j", $"di", $"vi", ($"dj" - $"di").as("dd"), ($"vj" - $"vi").as("dv"))
    val wBest = Window.orderBy($"n_inliers".desc, $"i", $"j")
    daily.crossJoin(broadcast(cand))
      .filter(abs($"cents" * $"dd" - ($"vi" * $"dd" + $"dv" * ($"day" - $"di")))
        <= lit(tau) * $"dd")
      .groupBy($"i", $"j", $"dd", $"dv")
      .agg(count(lit(1)).as("n_inliers"))
      .withColumn("rk", row_number().over(wBest))
      .filter($"rk" === 1)
      .select($"i", $"j", $"dv".as("slope_num"), $"dd".as("slope_den"), $"n_inliers",
        lit(tau).as("tau"))
  }

  private val ransacOracle =
    s"""WITH daily AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
       |                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
       |               FROM events GROUP BY 1),
       |tau AS (SELECT CAST(sum(cents) // (count(*) * 7) AS BIGINT) AS t FROM daily),
       |seeds AS (SELECT row_number() OVER (ORDER BY day) AS i, day AS sd, cents AS sv
       |          FROM daily QUALIFY i <= $RansacSeeds),
       |cand AS (SELECT a.i, b.i AS j, a.sd AS di, a.sv AS vi,
       |           b.sd - a.sd AS dd, b.sv - a.sv AS dv
       |         FROM seeds a JOIN seeds b ON a.i < b.i),
       |fits AS (SELECT c.i, c.j, c.dd, c.dv, count(*) AS n_inliers
       |         FROM daily d CROSS JOIN cand c CROSS JOIN tau
       |         WHERE abs(d.cents * c.dd - (c.vi * c.dd + c.dv * (d.day - c.di))) <= tau.t * c.dd
       |         GROUP BY c.i, c.j, c.dd, c.dv)
       |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       |       CAST(dv AS BIGINT) AS slope_num, CAST(dd AS BIGINT) AS slope_den,
       |       CAST(n_inliers AS BIGINT) AS n_inliers,
       |       (SELECT t FROM tau) AS tau
       |FROM fits
       |ORDER BY n_inliers DESC, i, j
       |LIMIT 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q88_ewma",
      "dyadic-decay EWMA over daily revenue: IEEE-exact terms, fixed association order",
      ewma, Some(ewmaOracle)),
    QueryDef("q85_acf",
      "Autocorrelation of daily revenue at lags 1-7 via exact global-mean-free decimal moments",
      acf, Some(acfOracle)),
    QueryDef("q101_rolling_zscore",
      "trailing-7-day z-score anomaly flags in exact cross-multiplied integer arithmetic",
      rollingZscore, Some(rollingZscoreOracle)),
    QueryDef("q110_forecast_backtest",
      "seasonal-naive vs naive-1 forecast backtest on one shared window: exact-integer MAE, MASE skill score",
      forecastBacktest, Some(forecastBacktestOracle)),
    QueryDef("x206_holt_backtest",
      "Holt level+trend smoothing trained through 1997, multi-horizon 1998 backtest vs last-value naive, exact-integer recursion",
      holtBacktest, Some(holtOracle)),
    QueryDef("x208_dtw",
      "dynamic time warping between 1995/1996 monthly revenue curves: exact-integer 144-cell DP fold plus the lock-step L1 bound",
      dtw, Some(dtwOracle)),
    QueryDef("x218_seasonal_decompose",
      "STL-lite: 29-day moving-average trend, weekday-slot seasonal means, residual variance-explained panel",
      seasonalDecompose, Some(seasonalOracle)),
    QueryDef("x219_ccf",
      "lagged cross-correlation (-7..7) between nation-0 and nation-1 daily revenue: equi-joined integer moments per lag",
      ccf, Some(ccfOracle)),
    QueryDef("x220_binseg",
      "binary-segmentation changepoints (root + both halves) on daily revenue: prefix-sum SSE gains, unrounded argmax keys",
      binsegChangepoints, Some(binsegOracle)),
    QueryDef("x222_pacf",
      "partial autocorrelation 1..5 via unrolled Durbin-Levinson with engine-shared formula strings over q85's exact-moment ACF",
      pacf, Some(pacfOracle)),
    QueryDef("x271_changepoint",
      "binary-segmentation change-point localization via exact prefix-sum between-group SS",
      changepoint, Some(changepointOracle)),
    QueryDef("x272_seasonal_decompose",
      "STL-lite weekday decomposition: integer 7-scaled trend/seasonal/residual with SS audit",
      seasonalDecomposeX272, Some(seasonalDecomposeOracle)),
    QueryDef("x315_changepoint_binseg",
      "single changepoint per event type by binary segmentation: exact BIGINT prefix sums, unrounded SSE-gain ranking key",
      changepointBinseg, Some(changepointOracleX315)),
    QueryDef("x317_holt_linear",
      "Holt linear-trend smoothing as an exact truncating-div integer recurrence: typed per-key fold vs recursive-CTE oracle",
      holtLinear, Some(holtLinearOracle)),
    QueryDef("x334_durbin_watson",
      "Durbin-Watson serial-correlation diagnostic on the weekly-volume trend: exact integer residual numerators, milli-quantized",
      durbinWatson, Some(durbinWatsonOracle)),
    QueryDef("x341_page_hinkley",
      "Page-Hinkley sequential drift detector on daily event counts: all-BIGINT detector state, micro-quantized running mean",
      pageHinkley, Some(pageHinkleyOracle)),
    QueryDef("x343_holt_winters",
      "Holt-Winters additive seasonal smoothing: exact integer triple recurrence with a 7-slot seasonal state, recursive-CTE oracle",
      holtWinters, Some(holtWintersOracle)),
    QueryDef("x347_croston",
      "Croston's intermittent-demand forecast: coupled size/interval integer smoothers updated only on nonzero demand",
      croston, Some(crostonOracle)),
    QueryDef("x376_linear_interpolation",
      "exact linear interpolation of a sparse daily series: bracketing-observation windows, edge days stay null (time series)",
      linearInterpolation, Some(linearInterpolationOracle)),
    QueryDef("x380_ransac_line",
      "deterministic RANSAC line fit on the daily series: fixed seed-pair candidates, cross-multiplied integer inlier test (stats)",
      ransacLine, Some(ransacOracle)))
}
