package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Experimentation topic of the analytics family: A/B significance,
  * variance reduction, causal adjustment (standardization,
  * difference-in-differences, Simpson screens), attribution, resampling
  * uncertainty, off-policy evaluation and survival analysis. Decisions
  * are taken on exact integer or DECIMAL(38) cross-multiplied predicates
  * so both engines agree. */
object ExperimentQueries {

  /* Experimentation analytics (two-proportion
   * significance screen in exact integer arithmetic), audio-visual stream
   * alignment (the multimodal training-pair assembly join), and chat-turn
   * conversation assembly (the SFT example-prep shape).
   * Elsewhere: x164 (MultimodalQueries); x165 (PipelineQueries).
   */

  /** q104: A/B-test two-proportion z-test screen — per goal event type,
    * split users 50/50 by a deterministic md5 bucket (q36's
    * hash-Bernoulli, so assignment is rerun/engine-stable), measure
    * "user reached the goal at least once", and decide 95% significance
    * with the pooled two-proportion z-test. The whole test is evaluated
    * as ONE cross-multiplied integer predicate:
    *
    *   (c1·n2 − c2·n1)² · N · 10000  >  38416 · n1 · n2 · c · (N − c)
    *
    * (z² > 1.96² = 3.8416, c = c1+c2, N = n1+n2) — no float mean, no
    * sqrt, no ulp drift; the products run in DECIMAL(38)/HUGEINT so the
    * ~10²⁵ intermediate cannot overflow. The per-goal rates are reported
    * half-up for reading; the DECISION never touches them.
    *
    * Scale: one distinct-(user, goal) aggregate + a users-sized distinct
    * — two key shuffles; the test itself is O(goals) arithmetic. */
  def abSignificance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type",
        (substring(md5($"user_id".cast("string")), 1, 1) < "8").as("in_a"))
    val users = ev.select($"user_id", $"in_a").distinct()
    val totals = users.agg(
      sum(when($"in_a", 1L).otherwise(0L)).as("n1"),
      sum(when(!$"in_a", 1L).otherwise(0L)).as("n2"))
    val conv = ev.select($"event_type", $"user_id", $"in_a").distinct()
      .groupBy($"event_type")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("c1"),
        sum(when(!$"in_a", 1L).otherwise(0L)).as("c2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    conv.crossJoin(broadcast(totals))
      .withColumn("diff", d($"c1") * d($"n2") - d($"c2") * d($"n1"))
      .withColumn("nn", d($"n1") + d($"n2"))
      .withColumn("cc", d($"c1") + d($"c2"))
      .select($"event_type", $"n1", $"c1", $"n2", $"c2",
        QueryUtil.halfUp4($"c1".cast("double") / $"n1".cast("double")).as("rate_a"),
        QueryUtil.halfUp4($"c2".cast("double") / $"n2".cast("double")).as("rate_b"),
        ($"diff" * $"diff" * $"nn" * lit(10000) >
          lit(38416) * d($"n1") * d($"n2") * $"cc" * ($"nn" - $"cc"))
          .cast("int").as("significant_95"))
      .orderBy("event_type")
  }

  private val abSignificanceOracle =
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_type,
      |         substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS in_a
      |  FROM events),
      |u AS (SELECT DISTINCT user_id, in_a FROM ev),
      |t AS (SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n2
      |      FROM u),
      |c AS (SELECT event_type,
      |             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |      FROM (SELECT DISTINCT event_type, user_id, in_a FROM ev)
      |      GROUP BY event_type)
      |SELECT c.event_type, t.n1, c.c1, t.n2, c.c2,
      |       floor(CAST(c.c1 AS DOUBLE) / CAST(t.n1 AS DOUBLE) * 10000 + 0.5) / 10000.0 AS rate_a,
      |       floor(CAST(c.c2 AS DOUBLE) / CAST(t.n2 AS DOUBLE) * 10000 + 0.5) / 10000.0 AS rate_b,
      |       CAST(
      |         (CAST(c.c1 AS HUGEINT) * t.n2 - CAST(c.c2 AS HUGEINT) * t.n1)
      |             * (CAST(c.c1 AS HUGEINT) * t.n2 - CAST(c.c2 AS HUGEINT) * t.n1)
      |             * (CAST(t.n1 AS HUGEINT) + t.n2) * 10000
      |           > 38416 * CAST(t.n1 AS HUGEINT) * t.n2
      |             * (CAST(c.c1 AS HUGEINT) + c.c2)
      |             * ((CAST(t.n1 AS HUGEINT) + t.n2) - (CAST(c.c1 AS HUGEINT) + c.c2))
      |         AS INTEGER) AS significant_95
      |FROM c, t
      |ORDER BY c.event_type""".stripMargin

  // ---------------------------------------------------------------- x182

  /** Quantized-Poisson(1) resampling weight from a uniform integer in
    * [0, 1e6): inverse-CDF cutoffs at the 1e-6-quantized Poisson(1)
    * CDF (0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406,
    * cap at 6). Shared by the Spark side and the oracle verbatim. */
  private def poissonW(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(u < 367879L, 0L).when(u < 735759L, 1L).when(u < 919699L, 2L)
      .when(u < 981012L, 3L).when(u < 996340L, 4L).when(u < 999406L, 5L)
      .otherwise(6L)

  /** x182: Poisson-bootstrap confidence interval for the mean order
    * value. The classical bootstrap's multinomial resample needs global
    * coordination; the Poisson bootstrap (Chamandy et al.'s production
    * variant) replaces it with an independent per-row weight w ~
    * Poisson(1) per replicate — embarrassingly parallel, ONE pass over
    * the data for all B replicates. Here the weights are DETERMINISTIC:
    * u = hash(o_orderkey, b) via two multiplicative mixes kept under
    * 2^62 (ANSI-safe in both engines), pushed through the quantized
    * Poisson(1) inverse CDF. Replicate means are exact integer
    * fixed-point (cents·1e4 floor-div count); the CI is the 2nd/31st
    * order statistic of the 32 replicate means (~94% nominal).
    *
    * Scale: one scan expanded B× (B=32 is the multiplier to size), all
    * replicates aggregated map-side in the same pass, 32-row final
    * reduction. No per-replicate job, no driver resample table. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = Tables.orders(spark, dir)
      .select($"o_orderkey".cast("long").as("k"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("v"))
    val reps = spark.range(32).select($"id".as("b"))
    val means = v.crossJoin(broadcast(reps))
      .select($"b", $"v",
        poissonW(pmod(pmod($"k" * 1000003L + $"b", lit(1048573L)) * 2654435761L, lit(1000000L))).as("w"))
      .groupBy($"b")
      .agg(sum($"w" * $"v").as("swv"), sum($"w").as("sw"))
      .select($"b", expr("(swv * 10000) div sw").as("m"))
    val full = v.agg(expr("(sum(v) * 10000) div count(*)").as("est"),
      count(lit(1)).as("n_orders"))
    means.agg(
      element_at(sort_array(collect_list($"m")), 2).as("boot_lo_fp"),
      element_at(sort_array(collect_list($"m")), 31).as("boot_hi_fp"),
      count(lit(1)).as("n_reps"))
      .crossJoin(full)
      .select($"n_orders", $"est".as("est_mean_fp"), $"boot_lo_fp", $"boot_hi_fp",
        $"n_reps",
        ($"est" >= $"boot_lo_fp" && $"est" <= $"boot_hi_fp").cast("int").as("covered"))
  }

  private val bootstrapOracle =
    """WITH v AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
      |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |           FROM orders),
      |reps AS (SELECT unnest(range(32)) AS b),
      |wts AS (SELECT b, v,
      |          CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
      |               WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
      |               WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
      |               ELSE 6 END AS w
      |        FROM (SELECT b, v,
      |                ((k * 1000003 + b) % 1048573) * 2654435761 % 1000000 AS u
      |              FROM v, reps) t0),
      |means AS (SELECT b, CAST(sum(w * v) * 10000 // sum(w) AS BIGINT) AS m
      |          FROM wts GROUP BY b),
      |full0 AS (SELECT CAST(sum(v) * 10000 // count(*) AS BIGINT) AS est,
      |                 CAST(count(*) AS BIGINT) AS n_orders FROM v),
      |ci AS (SELECT (SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 1) AS boot_lo_fp,
      |              (SELECT m FROM means ORDER BY m DESC LIMIT 1 OFFSET 1) AS boot_hi_fp,
      |              CAST(count(*) AS BIGINT) AS n_reps FROM means)
      |SELECT n_orders, est AS est_mean_fp, boot_lo_fp, boot_hi_fp, n_reps,
      |       CAST(est >= boot_lo_fp AND est <= boot_hi_fp AS INTEGER) AS covered
      |FROM ci, full0""".stripMargin

  /* Survival analysis over the event log —
   * the Kaplan–Meier product-limit curve for time-to-first-purchase
   * (x197) and the two-cohort log-rank test on the same durations
   * (x198). Both are exact-integer / fixed-point by construction so the
   * DuckDB oracle hashes bit-identically. */

  /** Microseconds per hour (the duration grid unit). */
  private val UsPerHour = 3600000000L

  // ---------------------------------------------------------------- x197

  /** Per user, in epoch µs: first event `t0`, last event `tend` and first
    * purchase `tp` (null without one) — the survival queries' durations. */
  private def userSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).groupBy($"user_id").agg(
      min(unix_micros($"ts".cast("timestamp"))).as("t0"),
      max(unix_micros($"ts".cast("timestamp"))).as("tend"),
      min(when($"event_type" === "purchase", unix_micros($"ts".cast("timestamp")))).as("tp"))
  }

  /** x197: Kaplan–Meier survival curve for time-to-first-purchase.
    * Per user: duration = hours from their first event to their first
    * `purchase` (event observed), or to their last event when they
    * never purchase (right-censored — the defining reason a plain
    * "average conversion time over converters" is biased and KM is
    * the standard fix). At-risk n(t) counts every user with duration
    * ≥ t (censored-at-t users are at risk for events at t, the usual
    * convention), computed as one descending cumulative sum over the
    * duration grid. The survival recursion S(t_i) = S(t_{i-1})·(n−d)/n
    * floors to 1e-6 fixed point at EVERY step in both engines — Spark
    * folds the (grid-sized) array with `aggregate`, DuckDB with a
    * recursive CTE — so the product is exact integer arithmetic, not
    * a drift-prone exp/sum-of-logs.
    *
    * Scale: the only data-sized work is one groupBy(user_id) with
    * partial aggregation; the grid is bounded by the observation
    * window in hours (≤ ~720 here), so the collect+fold is O(window),
    * independent of row count — at 100 TB the fold input is still a
    * few hundred structs on one task. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = userSpans(spark, dir)
    val durs = perUser.select(
      when($"tp".isNotNull, expr(s"(tp - t0) div $UsPerHour"))
        .otherwise(expr(s"(tend - t0) div $UsPerHour")).as("t"),
      when($"tp".isNotNull, lit(1L)).otherwise(lit(0L)).as("e"))
    val grid = durs.groupBy($"t")
      .agg(sum($"e").as("d"), sum(lit(1L) - $"e").as("c"))
    val wDesc = Window.orderBy($"t".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = grid.select($"t", $"d", $"c",
      sum($"d" + $"c").over(wDesc).as("n"))
    risk
      .agg(sort_array(collect_list(struct($"t", $"d", $"c", $"n"))).as("rows"))
      .select(explode(expr(
        """aggregate(rows,
          |  array(named_struct('t', CAST(-1 AS BIGINT), 'd', CAST(0 AS BIGINT),
          |                     'c', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT),
          |                     's', CAST(1000000 AS BIGINT))),
          |  (acc, x) -> concat(acc, array(named_struct(
          |    't', x.t, 'd', x.d, 'c', x.c, 'n', x.n,
          |    's', (element_at(acc, -1).s * (x.n - x.d)) div x.n))))
          |""".stripMargin)).as("r"))
      .select($"r.t".as("t"), $"r.n".as("n_risk"), $"r.d".as("d_events"),
        $"r.c".as("c_censored"), $"r.s".as("surv_fp"))
      .filter($"t" >= 0)
      .orderBy($"t")
  }

  private val kmOracle =
    s"""WITH RECURSIVE pu AS (
       |  SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS tend,
       |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
       |  FROM events GROUP BY user_id),
       |durs AS (
       |  SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // $UsPerHour
       |              ELSE (tend - t0) // $UsPerHour END AS t,
       |         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e
       |  FROM pu),
       |grid AS (
       |  SELECT t, CAST(sum(e) AS BIGINT) AS d, CAST(sum(1 - e) AS BIGINT) AS c
       |  FROM durs GROUP BY t),
       |risk AS (
       |  SELECT t, d, c,
       |         CAST(sum(d + c) OVER (ORDER BY t DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
       |         CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
       |  FROM grid),
       |km AS (
       |  SELECT i, t, d, c, n, CAST((1000000 * (n - d)) // n AS BIGINT) AS s
       |  FROM risk WHERE i = 1
       |  UNION ALL
       |  SELECT r.i, r.t, r.d, r.c, r.n,
       |         CAST((km.s * (r.n - r.d)) // r.n AS BIGINT)
       |  FROM risk r JOIN km ON r.i = km.i + 1)
       |SELECT t, n AS n_risk, d AS d_events, c AS c_censored, s AS surv_fp
       |FROM km ORDER BY t""".stripMargin

  // ---------------------------------------------------------------- x198

  /** x198: two-cohort log-rank test on the x197 durations — does the
    * treatment arm (deterministic user-id parity assignment, the q104
    * A/B pattern — a calendar split degenerates to one cohort at small
    * SFs) convert at a different hazard? At each event time:
    * observed cohort-1 conversions d1, expected d·n1/n under the null,
    * and the hypergeometric variance d·(n1/n)·(1−n1/n)·(n−d)/(n−1);
    * χ² = (O−E)²/V. Every per-time term quantizes to 1e-6 fixed point
    * BEFORE the sum (ratios of exact integers evaluated in one spelled-
    * out association order → bit-identical doubles in both engines,
    * then an order-free integer sum); the variance is computed in
    * DOUBLE from the start so the formula never overflows int64 no
    * matter the user count.
    *
    * Scale: one groupBy(user_id), then everything runs on the
    * hour-grid × 2 cohorts (≤ ~1.5k rows regardless of data size);
    * the grid cross join is a broadcast of a window-bounded frame. */
  def logRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = userSpans(spark, dir)
    val durs = perUser.select(
      pmod($"user_id", lit(2L)).as("g"),
      when($"tp".isNotNull, expr(s"(tp - t0) div $UsPerHour"))
        .otherwise(expr(s"(tend - t0) div $UsPerHour")).as("t"),
      when($"tp".isNotNull, lit(1L)).otherwise(lit(0L)).as("e"))
    val h = durs.groupBy($"g", $"t")
      .agg(count(lit(1)).as("a"), sum($"e").as("d"))
    val full = durs.select($"t").distinct()
      .crossJoin(Seq(0L, 1L).toDF("g"))
      .join(h, Seq("g", "t"), "left")
      .na.fill(0L, Seq("a", "d"))
    val wg = Window.partitionBy($"g").orderBy($"t".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = full.select($"g", $"t", $"d", sum($"a").over(wg).as("n"))
    val byT = risk.groupBy($"t").agg(
      sum(when($"g" === 1L, $"d").otherwise(0L)).as("d1"),
      sum(when($"g" === 1L, $"n").otherwise(0L)).as("n1"),
      sum($"d").as("dt"), sum($"n").as("nt"))
      .filter($"dt" > 0)
    val stats = byT.agg(
      sum($"d1").as("o1"),
      sum(expr("CAST(floor(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)" +
        " / CAST(nt AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")).as("e1_fp"),
      sum(expr("CASE WHEN nt > 1 THEN CAST(floor(CAST(dt AS DOUBLE)" +
        " * CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE)" +
        " * CAST(nt - n1 AS DOUBLE) / CAST(nt AS DOUBLE)" +
        " * CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE)" +
        " * 1000000 + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END")).as("v_fp"))
    val sizes = durs.agg(
      sum(when($"g" === 1L, 1L).otherwise(0L)).as("n_treat"),
      sum(when($"g" === 0L, 1L).otherwise(0L)).as("n_ctrl"))
    stats.crossJoin(broadcast(sizes))
      .select($"n_treat", $"n_ctrl", $"o1", $"e1_fp", $"v_fp",
        expr("CASE WHEN v_fp > 0 THEN" +
          " CAST(floor((CAST(o1 * 1000000 - e1_fp AS DOUBLE) / 1000000.0)" +
          " * (CAST(o1 * 1000000 - e1_fp AS DOUBLE) / 1000000.0)" +
          " / (CAST(v_fp AS DOUBLE) / 1000000.0) * 10000 + 0.5) AS DOUBLE)" +
          " / 10000.0 ELSE CAST(0.0 AS DOUBLE) END").as("chi2"))
  }

  private val logRankOracle =
    s"""WITH pu AS (
       |  SELECT user_id, min(epoch_us(ts)) AS t0,
       |         max(epoch_us(ts)) AS tend,
       |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
       |  FROM events GROUP BY user_id),
       |durs AS (
       |  SELECT user_id % 2 AS g,
       |         CASE WHEN tp IS NOT NULL THEN (tp - t0) // $UsPerHour
       |              ELSE (tend - t0) // $UsPerHour END AS t,
       |         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e
       |  FROM pu),
       |h AS (SELECT g, t, CAST(count(*) AS BIGINT) AS a,
       |             CAST(sum(e) AS BIGINT) AS d
       |      FROM durs GROUP BY g, t),
       |full0 AS (
       |  SELECT gg.g, tt.t, COALESCE(h.a, 0) AS a, COALESCE(h.d, 0) AS d
       |  FROM (SELECT DISTINCT t FROM durs) tt
       |  CROSS JOIN (SELECT 0 AS g UNION ALL SELECT 1) gg
       |  LEFT JOIN h ON h.g = gg.g AND h.t = tt.t),
       |risk AS (
       |  SELECT g, t, d,
       |         CAST(sum(a) OVER (PARTITION BY g ORDER BY t DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n
       |  FROM full0),
       |byt AS (
       |  SELECT t,
       |         CAST(sum(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
       |         CAST(sum(CASE WHEN g = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
       |         CAST(sum(d) AS BIGINT) AS dt, CAST(sum(n) AS BIGINT) AS nt
       |  FROM risk GROUP BY t HAVING sum(d) > 0),
       |stats AS (
       |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
       |         CAST(sum(CAST(floor(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
       |             / CAST(nt AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS e1_fp,
       |         CAST(sum(CASE WHEN nt > 1 THEN CAST(floor(CAST(dt AS DOUBLE)
       |             * CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE)
       |             * CAST(nt - n1 AS DOUBLE) / CAST(nt AS DOUBLE)
       |             * CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE)
       |             * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS v_fp
       |  FROM byt),
       |sizes AS (
       |  SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
       |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl
       |  FROM durs)
       |SELECT n_treat, n_ctrl, o1, e1_fp, v_fp,
       |       CASE WHEN v_fp > 0 THEN
       |         floor((CAST(o1 * 1000000 - e1_fp AS DOUBLE) / 1000000.0)
       |               * (CAST(o1 * 1000000 - e1_fp AS DOUBLE) / 1000000.0)
       |               / (CAST(v_fp AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000.0
       |       ELSE 0.0 END AS chi2
       |FROM stats, sizes""".stripMargin

  /* Experimentation workhorses — CUPED
   * variance-reduced lift estimation (x200) and the one-way ANOVA
   * F-test (x201). Both are moment-method queries: every statistic
   * derives from exact integer sums (order-free under partitioned
   * aggregation), with doubles entering only in the final spelled-out
   * formulas.
   * Elsewhere: x201 (StatsQueries).
   */

  // ---------------------------------------------------------------- x200

  /** x200: CUPED — variance-reduced A/B lift on purchase revenue. Arms
    * are the x198 hash assignment (user_id parity); the metric Y is a
    * user's purchase cents in the second half of the window, the
    * covariate X the same user's purchase cents in the FIRST half
    * (pre-period — unaffected by treatment by construction).
    * θ = cov(X,Y)/var(X) from global moments, then the adjusted lift
    * is the arm difference of mean(Y) − θ·(mean_g(X) − mean(X)). The
    * published variance-reduction ratio 1 − var(Y−θX)/var(Y) uses the
    * analytic identity var(Y) − 2θcov + θ²var(X) — no second data
    * pass. All five moments (Σx, Σy, Σxy, Σx², Σy²) are exact integer
    * sums at user grain; θ and the outputs are ratios of those
    * integers evaluated in one spelled-out double association.
    *
    * Scale: one groupBy(user_id) with two conditional sums, then a
    * two-row (per-arm) and one-row (global) aggregate — nothing
    * data-sized after the first shuffle. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val half = lit("2024-01-16").cast("timestamp")
    val perUser = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(
        sum(when($"ts" < half, floor($"value" * 100 + 0.5).cast("long"))
          .otherwise(0L)).as("x"),
        sum(when($"ts" >= half, floor($"value" * 100 + 0.5).cast("long"))
          .otherwise(0L)).as("y"))
      .select(pmod($"user_id", lit(2L)).as("g"), $"x", $"y")
    val glob = perUser.agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"x" * $"y").as("sxy"))
    val arms = perUser.groupBy($"g").agg(
      count(lit(1)).as("ng"), sum($"x").as("sxg"), sum($"y").as("syg"))
    val wide = arms.groupBy().pivot("g", Seq(0L, 1L)).agg(
      first($"ng").as("n"), first($"sxg").as("sx"), first($"syg").as("sy"))
      .toDF("n0", "sx0", "sy0", "n1", "sx1", "sy1")
    wide.crossJoin(broadcast(glob)).selectExpr(
      "n0", "n1",
      // θ in 1e-6 fixed point (ratio of exact integer moments).
      "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
        " * 1000000 + 0.5) AS BIGINT) AS theta_fp",
      // Raw lift: mean(Y|1) − mean(Y|0), cents quantized to 1e-2.
      "CAST(floor((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
        " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 100 + 0.5)" +
        " AS BIGINT) AS lift_raw_c100",
      // CUPED lift: the θ·(meanX_g − meanX) corrections cancel the
      // global meanX, leaving lift_raw − θ·(meanX_1 − meanX_0).
      "CAST(floor((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
        " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)" +
        " - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
        " * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
        " - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))) * 100 + 0.5)" +
        " AS BIGINT) AS lift_cuped_c100",
      // Variance-reduction ratio 1 − var(Y−θX)/var(Y) = corr(X,Y)² in
      // 1e-6 fixed point.
      "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " * 1000000 + 0.5) AS BIGINT) AS varred_fp")
  }

  private val cupedOracle =
    """WITH per_user AS (
      |  SELECT user_id % 2 AS g,
      |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN
      |           CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN
      |           CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |g0 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM per_user),
      |arms AS (
      |  SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
      |         CAST(sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
      |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
      |         CAST(sum(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
      |  FROM per_user)
      |SELECT n0, n1,
      |       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * 1000000 + 0.5) AS BIGINT) AS theta_fp,
      |       CAST(floor((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |         - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 100 + 0.5)
      |         AS BIGINT) AS lift_raw_c100,
      |       CAST(floor((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |         - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |         - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |         - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))) * 100 + 0.5)
      |         AS BIGINT) AS lift_cuped_c100,
      |       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      |         * 1000000 + 0.5) AS BIGINT) AS varred_fp
      |FROM arms, g0""".stripMargin

  // ---------------------------------------------------------------- x203

  /** Value-iteration horizon (journeys convert within a handful of
    * steps; both engines truncate at the SAME horizon so parity is
    * exact by construction). */
  private val MarkovIters = 12

  /** State ids: 0=start, 1..4 channels, 5=conversion, 6=drop. */
  private val ConvState = 5
  private val DropState = 6
  private val ChannelNames = Seq(1 -> "click", 2 -> "view", 3 -> "signup", 4 -> "error")

  /** x203: Markov removal-effect attribution — the absorbing-chain
    * model behind "data-driven attribution", replacing q49's
    * positional heuristics. Journeys: each user's event sequence up
    * to their first purchase (conversion) or end of log (drop); the
    * first-order transition counts define the chain. Conversion
    * probability from `start` is computed by [[MarkovIters]] unrolled
    * value-iteration steps in EXACT integer arithmetic
    * (v′(s) = Σ_t cnt(s,t)·v(t) div rowsum(s), v in 1e-9 fixed
    * point) — the same step both engines run, so the truncated-horizon
    * value matches bitwise. Removing channel c reroutes its inbound
    * edges to drop and deletes its outbound rows (denominators keep
    * the original row sums, preserving probability mass); the removal
    * effect v_base − v_c normalized over channels is the published
    * attribution share.
    *
    * Scale: transition extraction is the only data-sized pass (one
    * user-partitioned window); the chain is a ≤ 7×7 matrix × 5
    * scenarios, so the 12 iterations run on ≤ 245-row frames
    * (localCheckpointed each step to keep the plan flat, the x63
    * recipe). */
  def markovAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stateOf = expr("CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2" +
      " WHEN 'signup' THEN 3 WHEN 'error' THEN 4 WHEN 'purchase' THEN 5 END")
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", stateOf.as("st"),
        row_number().over(Window.partitionBy($"user_id")
          .orderBy($"ts", $"event_id")).cast("long").as("rn"))
    val pconv = ev.filter($"st" === ConvState)
      .groupBy($"user_id").agg(min($"rn").as("pc"))
    val kept = ev.join(pconv, Seq("user_id"), "left")
      .filter($"pc".isNull || $"rn" <= $"pc")
    val trans = kept.select(
      coalesce(lag($"st", 1).over(Window.partitionBy($"user_id")
        .orderBy($"rn")), lit(0)).as("src"),
      $"st".as("dst"), $"user_id", $"rn", $"pc")
    val term = kept.filter($"pc".isNull)
      .groupBy($"user_id").agg(max($"rn").as("mr"))
    val tedges = kept.join(term,
      kept("user_id") === term("user_id") && kept("rn") === term("mr"))
      .select(kept("st").as("src"), lit(DropState).as("dst"))
    val counts = trans.select($"src", $"dst")
      .union(tedges)
      .groupBy($"src", $"dst").agg(count(lit(1)).as("cnt"))
    // Scenario expansion: -1 = base chain; c = channel c removed.
    val scen = (Seq(-1) ++ ChannelNames.map(_._1)).toDF("scenario")
    val edges = scen.crossJoin(counts)
      .filter($"src" =!= $"scenario")
      .select($"scenario", $"src",
        when($"dst" === $"scenario", lit(DropState)).otherwise($"dst").as("dst"),
        $"cnt")
      .groupBy($"scenario", $"src", $"dst").agg(sum($"cnt").as("cnt"))
    // The 12 value-iteration steps run as ONE nested-HOF fold per
    // scenario row (≤49 edges × 7 states × 12 steps of plain integer
    // arithmetic) — a single Spark job, versus the 12 tiny
    // checkpointed join rounds the first cut used (measured 3.4–4.5 s
    // of pure job overhead on a ≤35-row frame).
    val initV = s"transform(sequence(0, $DropState), s -> CASE WHEN" +
      s" s = $ConvState THEN CAST(1000000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    val rowsumOf = s"aggregate(filter(es, e -> e.src = s)," +
      s" CAST(0 AS BIGINT), (a, e) -> a + e.cnt)"
    val spOf = s"aggregate(filter(es, e -> e.src = s), CAST(0 AS BIGINT)," +
      s" (a, e) -> a + e.cnt * element_at(v, CAST(e.dst AS INT) + 1))"
    val atStart = edges
      .groupBy($"scenario")
      .agg(collect_list(struct($"src", $"dst", $"cnt")).as("es"))
      .select($"scenario", expr(
        s"""element_at(aggregate(sequence(1, $MarkovIters), $initV,
           |  (v, it) -> transform(sequence(0, $DropState), s ->
           |    CASE WHEN s = $ConvState THEN CAST(1000000000 AS BIGINT)
           |         WHEN s = $DropState THEN CAST(0 AS BIGINT)
           |         ELSE CASE WHEN $rowsumOf > 0
           |                   THEN $spOf div $rowsumOf
           |                   ELSE CAST(0 AS BIGINT) END END)), 1)
           |""".stripMargin).as("v"))
    val base = atStart.filter($"scenario" === -1)
      .select($"v".as("v_base_fp"))
    val removed = atStart.filter($"scenario" =!= -1)
      .crossJoin(broadcast(base))
      .select($"scenario".as("channel_id"), $"v".as("v_rem_fp"), $"v_base_fp",
        ($"v_base_fp" - $"v").as("re_fp"))
    val tot = removed.agg(sum($"re_fp").as("re_tot"))
    val named = ChannelNames.map { case (id, nm) => (id, nm) }
      .toDF("channel_id", "channel")
    removed.crossJoin(broadcast(tot))
      .join(broadcast(named), Seq("channel_id"))
      .select($"channel", $"v_base_fp", $"v_rem_fp", $"re_fp",
        expr("CASE WHEN re_tot > 0 THEN CAST(floor(CAST(re_fp AS DOUBLE)" +
          " / CAST(re_tot AS DOUBLE) * 1000000 + 0.5) AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END").as("share_fp"))
      .orderBy($"channel")
  }

  private val markovOracle = {
    val iterCtes = (1 to MarkovIters).map { i =>
      s"""v$i AS (
         |  SELECT st.scenario, st.state,
         |         CASE WHEN st.state = $ConvState THEN 1000000000
         |              WHEN st.state = $DropState THEN 0
         |              ELSE COALESCE(x.nv, 0) END AS v
         |  FROM states st LEFT JOIN (
         |    SELECT e.scenario, e.src AS state,
         |           CAST(sum(e.cnt * pv.v) // max(rs.rowsum) AS BIGINT) AS nv
         |    FROM edges e
         |    JOIN v${i - 1} pv ON pv.scenario = e.scenario AND pv.state = e.dst
         |    JOIN rowsums rs ON rs.scenario = e.scenario AND rs.state = e.src
         |    GROUP BY e.scenario, e.src) x
         |  ON x.scenario = st.scenario AND x.state = st.state)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val chanVals = ChannelNames
      .map { case (id, nm) => s"($id, '$nm')" }.mkString(", ")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT user_id,
       |         CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
       |              WHEN 'signup' THEN 3 WHEN 'error' THEN 4
       |              WHEN 'purchase' THEN 5 END AS st,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |pconv AS MATERIALIZED (SELECT user_id, min(rn) AS pc FROM ev WHERE st = $ConvState
       |          GROUP BY user_id),
       |kept AS MATERIALIZED (SELECT e.user_id, e.st, e.rn, p.pc
       |         FROM ev e LEFT JOIN pconv p ON e.user_id = p.user_id
       |         WHERE p.pc IS NULL OR e.rn <= p.pc),
       |trans AS (
       |  SELECT COALESCE(lag(st) OVER (PARTITION BY user_id ORDER BY rn), 0) AS src,
       |         st AS dst
       |  FROM kept),
       |term AS (SELECT user_id, max(rn) AS mr FROM kept WHERE pc IS NULL
       |         GROUP BY user_id),
       |tedges AS (SELECT k.st AS src, $DropState AS dst
       |           FROM kept k JOIN term t ON k.user_id = t.user_id AND k.rn = t.mr),
       |counts AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
       |           FROM (SELECT src, dst FROM trans
       |                 UNION ALL SELECT src, dst FROM tedges) u
       |           GROUP BY src, dst),
       |scen AS (SELECT -1 AS scenario UNION ALL SELECT 1 UNION ALL SELECT 2
       |         UNION ALL SELECT 3 UNION ALL SELECT 4),
       |edges AS MATERIALIZED (
       |  SELECT s.scenario, c.src,
       |         CASE WHEN c.dst = s.scenario THEN $DropState ELSE c.dst END AS dst,
       |         CAST(sum(c.cnt) AS BIGINT) AS cnt
       |  FROM scen s JOIN counts c ON c.src <> s.scenario
       |  GROUP BY s.scenario, c.src,
       |           CASE WHEN c.dst = s.scenario THEN $DropState ELSE c.dst END),
       |rowsums AS MATERIALIZED (SELECT scenario, src AS state, CAST(sum(cnt) AS BIGINT) AS rowsum
       |            FROM edges GROUP BY scenario, src),
       |states AS MATERIALIZED (SELECT s.scenario, g.state FROM scen s
       |           CROSS JOIN (SELECT unnest(range(0, ${DropState + 1})) AS state) g),
       |v0 AS (SELECT scenario, state,
       |              CASE WHEN state = $ConvState THEN 1000000000 ELSE 0 END AS v
       |       FROM states)$iterCtes,
       |at_start AS (SELECT scenario, v FROM v$MarkovIters WHERE state = 0),
       |base AS (SELECT v AS v_base_fp FROM at_start WHERE scenario = -1),
       |removed AS (
       |  SELECT a.scenario AS channel_id, a.v AS v_rem_fp, b.v_base_fp,
       |         b.v_base_fp - a.v AS re_fp
       |  FROM at_start a, base b WHERE a.scenario <> -1),
       |tot AS (SELECT CAST(sum(re_fp) AS BIGINT) AS re_tot FROM removed),
       |named(channel_id, channel) AS (VALUES $chanVals)
       |SELECT n.channel, r.v_base_fp, r.v_rem_fp, r.re_fp,
       |       CASE WHEN t.re_tot > 0 THEN CAST(floor(CAST(r.re_fp AS DOUBLE)
       |              / CAST(t.re_tot AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
       |            ELSE 0 END AS share_fp
       |FROM removed r JOIN named n ON n.channel_id = r.channel_id, tot t
       |ORDER BY n.channel""".stripMargin
  }

  // ---------------------------------------------------------------- x209

  /** Shapley coalition weights w(|S|)·4! for |S| = 0..3 — i.e.
    * |S|!·(4−1−|S|)! twelfths: {3, 1, 1, 3}/12. */
  private val ShapleyW12 = Seq(3L, 1L, 1L, 3L)

  /** x209: exact Shapley-value attribution over the four engagement
    * channels — the axiomatically fair split of conversion credit
    * (efficiency: the values sum to v(full) − v(∅)), complementing
    * x203's removal effects. The characteristic function
    * v(S) = conversion rate among users whose touched-channel set is
    * ⊆ S (computable exactly for all 16 coalitions from one user-grain
    * pass + a 16×16 subset join). φ_c = Σ_{S∌c} w(|S|)·(v(S∪c)−v(S))
    * with the 12·w literal integer weights above; v in 1e-6 fixed
    * point, one final /12 double render.
    *
    * Scale: one groupBy(user_id) builds (bitmask, converted); the
    * coalition lattice is 16 rows — constant whatever the corpus. */
  def shapley(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.events(spark, dir)
      .groupBy($"user_id").agg(
        (max(when($"event_type" === "click", 1L)).cast("long") * 1 +
          max(when($"event_type" === "view", 1L)).cast("long") * 2 +
          max(when($"event_type" === "signup", 1L)).cast("long") * 4 +
          max(when($"event_type" === "error", 1L)).cast("long") * 8).as("mask0"),
        max(when($"event_type" === "purchase", 1L)).cast("long").as("conv0"))
      .select(coalesce($"mask0", lit(0L)).as("mask"),
        coalesce($"conv0", lit(0L)).as("conv"))
    val byMask = users.groupBy($"mask")
      .agg(count(lit(1)).as("nu"), sum($"conv").as("nc"))
      .localCheckpoint(true)
    val coalitions = spark.range(16).select($"id".as("s")).localCheckpoint(true)
    // v(S): users whose mask is a subset of S.
    val v = coalitions.join(byMask, expr("(mask & s) = mask"), "left")
      .groupBy($"s").agg(
        coalesce(sum($"nu"), lit(0L)).as("nu"),
        coalesce(sum($"nc"), lit(0L)).as("nc"))
      .select($"s",
        expr("CASE WHEN nu > 0 THEN CAST(floor(CAST(nc AS DOUBLE)" +
          " / CAST(nu AS DOUBLE) * 1000000 + 0.5) AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END").as("v_fp"))
      .localCheckpoint(true)
    val wCase = ShapleyW12.zipWithIndex
      .map { case (w, k) => s"WHEN $k THEN ${w}L" }
      .mkString("CASE bit_count(s) ", " ", " END")
    val channels = Seq((1L, "click"), (2L, "view"), (4L, "signup"),
      (8L, "error")).toDF("cbit", "channel")
    val terms = channels.crossJoin(v.toDF("s", "v_s"))
      .filter(expr("(s & cbit) = 0"))
      .join(v.toDF("s2", "v_s2"), expr("s2 = s + cbit"))
      .select($"channel", $"cbit",
        (expr(wCase) * ($"v_s2" - $"v_s")).as("t12"))
    val phis = terms.groupBy($"channel", $"cbit")
      .agg(sum($"t12").as("phi12_fp"))
    val tot = phis.agg(sum($"phi12_fp").as("tot12"))
    phis.crossJoin(broadcast(tot))
      .select($"channel", $"phi12_fp",
        expr("CAST(floor(CAST(phi12_fp AS DOUBLE) / 12.0 + 0.5) AS BIGINT)")
          .as("phi_fp"),
        expr("CASE WHEN tot12 > 0 THEN CAST(floor(CAST(phi12_fp AS DOUBLE)" +
          " / CAST(tot12 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END").as("share_fp"))
      .orderBy($"channel")
  }

  private val shapleyOracle = {
    val wCase = ShapleyW12.zipWithIndex
      .map { case (w, k) => s"WHEN $k THEN $w" }
      .mkString("CASE bit_count(s) ", " ", " END")
    s"""WITH users AS MATERIALIZED (
       |  SELECT COALESCE(max(CASE WHEN event_type = 'click' THEN 1 END) * 1, 0)
       |       + COALESCE(max(CASE WHEN event_type = 'view' THEN 1 END) * 2, 0)
       |       + COALESCE(max(CASE WHEN event_type = 'signup' THEN 1 END) * 4, 0)
       |       + COALESCE(max(CASE WHEN event_type = 'error' THEN 1 END) * 8, 0) AS mask,
       |         COALESCE(max(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS conv
       |  FROM events GROUP BY user_id),
       |by_mask AS (
       |  SELECT mask, CAST(count(*) AS BIGINT) AS nu, CAST(sum(conv) AS BIGINT) AS nc
       |  FROM users GROUP BY mask),
       |coalitions AS (SELECT unnest(range(0, 16)) AS s),
       |v AS MATERIALIZED (
       |  SELECT s,
       |         CASE WHEN COALESCE(sum(nu), 0) > 0
       |           THEN CAST(floor(CAST(COALESCE(sum(nc), 0) AS DOUBLE)
       |             / CAST(COALESCE(sum(nu), 0) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
       |           ELSE 0 END AS v_fp
       |  FROM coalitions LEFT JOIN by_mask ON (mask & s) = mask
       |  GROUP BY s),
       |channels(cbit, channel) AS (VALUES (1, 'click'), (2, 'view'),
       |                                   (4, 'signup'), (8, 'error')),
       |terms AS (
       |  SELECT c.channel, c.cbit,
       |         (${wCase.replace("bit_count(s)", "bit_count(v1.s)")})
       |           * (v2.v_fp - v1.v_fp) AS t12
       |  FROM channels c
       |  JOIN v v1 ON (v1.s & c.cbit) = 0
       |  JOIN v v2 ON v2.s = v1.s + c.cbit),
       |phis AS (
       |  SELECT channel, cbit, CAST(sum(t12) AS BIGINT) AS phi12_fp
       |  FROM terms GROUP BY channel, cbit),
       |tot AS (SELECT CAST(sum(phi12_fp) AS BIGINT) AS tot12 FROM phis)
       |SELECT channel, phi12_fp,
       |       CAST(floor(CAST(phi12_fp AS DOUBLE) / 12.0 + 0.5) AS BIGINT) AS phi_fp,
       |       CASE WHEN tot12 > 0 THEN CAST(floor(CAST(phi12_fp AS DOUBLE)
       |              / CAST(tot12 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
       |            ELSE 0 END AS share_fp
       |FROM phis, tot
       |ORDER BY channel""".stripMargin
  }

  /* Three governance/assembly staples — local-DP
   * randomized response with exact debiasing (the collection-side
   * privacy mechanism next to the k-anonymity/l-diversity/t-closeness/
   * PSI publication-side screens), cross-shard quantile normalization
   * (the batch-effect corrector for corpora assembled from heterogeneous
   * sources), and a Simpson's-paradox stratification audit (pooled vs
   * per-stratum association direction by exact cross-multiplication).
   * All arithmetic is integer/rational — no libm anywhere.
   * Elsewhere: x266 (StatsQueries).
   */

  /** Randomized-response keep-probability p = 3/4 as an exact 16-bit
    * lattice threshold (49152/65536), and the hash multiplier shared
    * with the repo's other deterministic-simulation queries. */
  private val RrKeepNum = 49152L
  private val RrLattice = 65536L
  private val RrMul = 2654435761L

  // ---------------------------------------------------------------- x265

  /** x265: randomized response (Warner 1965) with exact debiasing — the
    * local-DP collection mechanism: each customer reports their true
    * bit (account in credit) with p = 3/4, the flipped bit otherwise
    * (ε = ln 3). The flip is simulated with the repo's deterministic
    * 16-bit hash lattice so both engines draw identical "randomness";
    * the aggregator then inverts the mechanism per market segment:
    * n̂₁ = (obs₁ − n·(1−p)) / (2p−1), which at p = 3/4 is the exact
    * half-integer (4·obs₁ − n)/2 — emitted as the integer numerator
    * plus the audit against the true count the mechanism hid.
    *
    * Scale: one projection + one group-by; the estimator is a pure
    * post-aggregation formula — this is how you collect a sensitive
    * rate from 10⁹ users without ever storing a true bit. */
  def randomizedResponse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val reported = Tables.customer(spark, dir)
      .select($"c_mktsegment".as("segment"),
        when($"c_acctbal" > 0.0, 1L).otherwise(0L).as("t"),
        (($"c_custkey" * lit(RrMul)) % lit(RrLattice)).as("h"))
      .withColumn("r", when($"h" < RrKeepNum, $"t").otherwise(lit(1L) - $"t"))
    reported.groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"t").as("true1"), sum($"r").as("obs1"))
      .select($"segment", $"n", $"true1", $"obs1",
        (lit(4L) * $"obs1" - $"n").as("est_num_halves"),
        ((lit(4L) * $"obs1" - $"n").cast("double") / 2.0).as("est1"),
        QueryUtil.halfUp4(
          abs((lit(4L) * $"obs1" - $"n").cast("double") / 2.0
            - $"true1".cast("double")) / $"true1".cast("double")).as("rel_err"))
      .orderBy($"segment")
  }

  private val randomizedResponseOracle =
    s"""WITH reported AS (
       |  SELECT c_mktsegment AS segment,
       |         CASE WHEN c_acctbal > 0.0 THEN 1 ELSE 0 END AS t,
       |         CASE WHEN (c_custkey * $RrMul) % $RrLattice < $RrKeepNum
       |              THEN CASE WHEN c_acctbal > 0.0 THEN 1 ELSE 0 END
       |              ELSE 1 - CASE WHEN c_acctbal > 0.0 THEN 1 ELSE 0 END
       |         END AS r
       |  FROM customer),
       |agg AS (
       |  SELECT segment, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(t) AS BIGINT) AS true1, CAST(sum(r) AS BIGINT) AS obs1
       |  FROM reported GROUP BY segment)
       |SELECT segment, n, true1, obs1,
       |       4 * obs1 - n AS est_num_halves,
       |       CAST(4 * obs1 - n AS DOUBLE) / 2.0 AS est1,
       |       floor(abs(CAST(4 * obs1 - n AS DOUBLE) / 2.0 - CAST(true1 AS DOUBLE))
       |             / CAST(true1 AS DOUBLE) * 10000 + 0.5) / 10000.0 AS rel_err
       |FROM agg
       |ORDER BY segment""".stripMargin

  /** Per order-year stratum: AUTOMOBILE (`na`, `ua`) and BUILDING (`nb`,
    * `ub`) order and urgent-order counts — the stratified frame x267
    * screens and x269 standardizes. */
  private def segmentStrata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
      .filter($"c_mktsegment".isin("AUTOMOBILE", "BUILDING"))
      .select(year($"o_orderdate").cast("long").as("yr"),
        ($"c_mktsegment" === "AUTOMOBILE").as("is_a"),
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("u"))
    base.groupBy($"yr").agg(
      sum(when($"is_a", 1L).otherwise(0L)).as("na"),
      sum(when($"is_a", $"u").otherwise(0L)).as("ua"),
      sum(when(!$"is_a", 1L).otherwise(0L)).as("nb"),
      sum(when(!$"is_a", $"u").otherwise(0L)).as("ub"))
  }

  /** SQL twin of [[segmentStrata]]: the `base` and `strata` CTEs, `strata`
    * left open for a HAVING clause. */
  private val segmentStrataSql =
    s"""WITH base AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |         c_mktsegment = 'AUTOMOBILE' AS is_a,
       |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
       |strata AS MATERIALIZED (
       |  SELECT yr,
       |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN is_a THEN u ELSE 0 END) AS BIGINT) AS ua,
       |         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |         CAST(sum(CASE WHEN NOT is_a THEN u ELSE 0 END) AS BIGINT) AS ub
       |  FROM base GROUP BY yr""".stripMargin

  // ---------------------------------------------------------------- x267

  /** x267: Simpson's-paradox stratification audit — does the pooled
    * urgent-order rate comparison between the AUTOMOBILE and BUILDING
    * segments hold within every order-year stratum? Rate comparisons
    * are exact integer cross-multiplications (uA·nB vs uB·nA), never
    * float division, so the per-stratum direction signs and the
    * pooled-vs-stratified agreement counts are engine-exact. The
    * classic confounding screen every observational A/B readout needs.
    *
    * Scale: one join-free pass over orders (segment via a broadcast
    * customer dim), one group-by per stratum, one 7-row pooled fold. */
  def simpsonAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val strata = segmentStrata(spark, dir)
      .withColumn("dir", signum($"ua" * $"nb" - $"ub" * $"na").cast("long"))
      .localCheckpoint(true)
    val pooled = strata.agg(
      sum($"na").as("pna"), sum($"ua").as("pua"),
      sum($"nb").as("pnb"), sum($"ub").as("pub"))
      .select(signum($"pua" * $"pnb" - $"pub" * $"pna").cast("long").as("pooled_dir"),
        $"pna", $"pua", $"pnb", $"pub")
    val flags = strata.agg(
      count(lit(1)).as("n_strata"),
      sum(when($"dir" === lit(0L), 1L).otherwise(0L)).as("n_tied"))
    strata.crossJoin(broadcast(pooled)).crossJoin(broadcast(flags))
      .withColumn("agrees_pooled",
        when($"dir" === $"pooled_dir", 1L).otherwise(0L))
      .select($"yr", $"na", $"ua", $"nb", $"ub", $"dir",
        $"pooled_dir", $"n_strata", $"n_tied", $"agrees_pooled")
      .orderBy($"yr")
  }

  private val simpsonAuditOracle =
    s"""$segmentStrataSql),
      |sdir AS (SELECT *, CAST(sign(ua * nb - ub * na) AS BIGINT) AS dir FROM strata),
      |pooled AS (
      |  SELECT CAST(sign(sum(ua) * sum(nb) - sum(ub) * sum(na)) AS BIGINT)
      |           AS pooled_dir
      |  FROM strata),
      |flags AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |         CAST(sum(CASE WHEN dir = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tied
      |  FROM sdir)
      |SELECT yr, na, ua, nb, ub, dir, pooled_dir, n_strata, n_tied,
      |       CASE WHEN dir = pooled_dir THEN 1 ELSE 0 END AS agrees_pooled
      |FROM sdir, pooled, flags
      |ORDER BY yr""".stripMargin

  /* The two inference staples that complete the
   * observational-comparison story — direct standardization (x267's
   * Simpson screen DETECTS confounding; this ADJUSTS for it by
   * reweighting per-stratum rates to the pooled stratum distribution)
   * and the Mann–Whitney rank-sum test with exact tie correction (the
   * nonparametric two-sample location test next to q87's runs test and
   * the Kendall/pinball rank family). Per-stratum terms are quantized to
   * fixed point BEFORE summation (order-free BIGINT), ranks and tie
   * corrections are exact integers; the only doubles are final ratios of
   * identical integers.
   * Elsewhere: x270 (StatsQueries).
   */

  /** Fixed-point scale for standardized-rate terms. */
  private val AteScale = "1000000000000.0" // 1e12, exactly representable

  // ---------------------------------------------------------------- x269

  /** x269: direct standardization — the confounder-adjusted comparison
    * x267 motivates: the AUTOMOBILE-vs-BUILDING urgent-rate difference,
    * first crude (pooled), then standardized over order-year strata
    * with the pooled stratum sizes as weights:
    * `Δ_std = Σ_s n_s·(rA_s − rB_s) / N`. Each stratum's term is an
    * exact double from integer ratios, quantized half-up to 1e-12
    * BIGINT units before the cross-stratum sum — integer sums are
    * accumulation-order-free, so Spark's partitioned fold equals
    * DuckDB's sequential one bit-for-bit. Emits both differences and
    * the confounding gap between them.
    *
    * Scale: one broadcast-dim join, one stratum group-by, one 7-row
    * fold — the standardization itself is O(strata) post-aggregation
    * arithmetic regardless of corpus size. */
  def standardizedAte(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val strata = segmentStrata(spark, dir)
      .filter($"na" > 0 && $"nb" > 0)
    val term = ($"na" + $"nb").cast("double") *
      ($"ua".cast("double") / $"na".cast("double")
        - $"ub".cast("double") / $"nb".cast("double"))
    strata.agg(
      count(lit(1)).as("n_strata"),
      sum($"na" + $"nb").as("n_total"),
      sum($"na").as("na"), sum($"ua").as("ua"),
      sum($"nb").as("nb"), sum($"ub").as("ub"),
      sum(floor(term * lit(AteScale.toDouble) + 0.5).cast("long")).as("std_q"))
      .select($"n_strata", $"n_total", $"na", $"ua", $"nb", $"ub",
        QueryUtil.halfUp(
          $"ua".cast("double") / $"na".cast("double")
            - $"ub".cast("double") / $"nb".cast("double"), 6).as("crude_diff"),
        QueryUtil.halfUp(
          ($"std_q".cast("double") / lit(AteScale.toDouble))
            / $"n_total".cast("double"), 6).as("std_diff"),
        $"std_q")
  }

  private val standardizedAteOracle =
    s"""$segmentStrataSql
       |  HAVING sum(CASE WHEN is_a THEN 1 ELSE 0 END) > 0
       |     AND sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) > 0),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
       |         CAST(sum(na + nb) AS BIGINT) AS n_total,
       |         CAST(sum(na) AS BIGINT) AS na, CAST(sum(ua) AS BIGINT) AS ua,
       |         CAST(sum(nb) AS BIGINT) AS nb, CAST(sum(ub) AS BIGINT) AS ub,
       |         CAST(sum(CAST(floor(
       |             CAST(na + nb AS DOUBLE)
       |             * (CAST(ua AS DOUBLE) / CAST(na AS DOUBLE)
       |                - CAST(ub AS DOUBLE) / CAST(nb AS DOUBLE))
       |             * $AteScale + 0.5) AS BIGINT)) AS BIGINT) AS std_q
       |  FROM strata)
       |SELECT n_strata, n_total, na, ua, nb, ub,
       |       floor((CAST(ua AS DOUBLE) / CAST(na AS DOUBLE)
       |              - CAST(ub AS DOUBLE) / CAST(nb AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS crude_diff,
       |       floor((CAST(std_q AS DOUBLE) / $AteScale) / CAST(n_total AS DOUBLE)
       |             * 1000000 + 0.5) / 1000000.0 AS std_diff,
       |       std_q
       |FROM agg""".stripMargin

  /* EXACT Shapley-value channel attribution
   * (the game-theoretic counterpart to q49's heuristic rules and x203's
   * Markov removal effects — with 4 channels the 2⁴ coalition lattice is
   * enumerated outright and every Shapley value is an exact integer
   * multiple of 1/24), plus two engine-surface parity pins: Spark's
   * relational PIVOT against explicit conditional aggregation, and the
   * tie semantics of the rank-function family (rank / dense_rank /
   * percent_rank / cume_dist / ntile) cross-engine.
   * Elsewhere: x277 and x278 (RelationalQueries).
   */

  /** Channel bit assignment for the coalition masks. */
  private val Channels = Seq(("view", 1L), ("click", 2L), ("signup", 4L), ("error", 8L))

  /** Shapley weights ×24: s!(4−s−1)! for coalition size s of 4 players. */
  private val ShapW = Seq(6L, 2L, 2L, 6L)

  // ---------------------------------------------------------------- x276

  /** x276: exact Shapley-value attribution — players are the four
    * pre-purchase touch channels; the coalition value v(S) counts
    * converted users whose pre-first-purchase touchset ⊆ S (monotone,
    * integer). With 4 players the subset lattice (16 coalitions) is
    * enumerated as a literal frame, v is one subset-sum over the
    * 16-mask census, and each channel's Shapley value is
    * `φ_c = Σ_{S∌c} s!(3−s)!·(v(S∪c)−v(S)) / 4!` — emitted as the exact
    * BIGINT `φ·24` plus the efficiency audit Σφ = v(full) − v(∅) that
    * pins the whole computation. No sampling, no permutation Monte
    * Carlo — at 4–20 channels exact enumeration is the honest method.
    *
    * Scale: the corpus stage is one pass to first-purchase timestamps +
    * one bitmask aggregate per user; everything after runs on ≤16-row
    * frames. At a billion users the masks census is still 16 rows. */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id".as("u"), $"ts", $"event_type")
    val firstPurchase = ev.filter($"event_type" === "purchase")
      .groupBy($"u").agg(min($"ts").as("pts"))
    val chanBit = Channels.foldLeft(lit(0L)) { case (acc, (name, bit)) =>
      when($"event_type" === name, lit(bit)).otherwise(acc)
    }
    // bit_or aggregate spelled as sum of distinct bits (each bit once)
    val userMask = ev.join(firstPurchase, "u")
      .filter($"ts" < $"pts" && $"event_type" =!= "purchase")
      .select($"u", chanBit.as("b"))
      .distinct()
      .groupBy($"u").agg(sum($"b").as("m"))
    val allConverted = firstPurchase.select($"u")
    val census = allConverted
      .join(userMask, Seq("u"), "left")
      .select(coalesce($"m", lit(0L)).as("m"))
      .groupBy($"m").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val subsets = spark.range(16).select($"id".cast("long").as("s"))
    val v = subsets.join(broadcast(census),
        ($"m".bitwiseAND($"s")) === $"m", "left")
      .groupBy($"s").agg(coalesce(sum($"cnt"), lit(0L)).as("v"))
      .localCheckpoint(true)
    val chans = Channels.toDF("channel", "bit")
    val wCase = ShapW.zipWithIndex.foldLeft(lit(0L)) { case (acc, (w, s)) =>
      when(expr("bit_count(s)") === s, lit(w)).otherwise(acc)
    }
    val terms = chans.crossJoin(v.select($"s", $"v".as("vs")))
      .filter(($"s".bitwiseAND($"bit")) === 0L)
      .join(broadcast(v.select($"s".as("sb"), $"v".as("vsb"))),
        ($"s".bitwiseOR($"bit")) === $"sb")
      .select($"channel", $"bit", (wCase * ($"vsb" - $"vs")).as("term"))
    val audit = v.filter($"s" === 15L).select($"v".as("v_full"))
      .crossJoin(v.filter($"s" === 0L).select($"v".as("v_empty")))
    terms.groupBy($"channel", $"bit").agg(sum($"term").as("phi24"))
      .crossJoin(broadcast(audit))
      .select($"channel", $"phi24",
        ($"phi24".cast("double") / 24.0).as("phi"),
        $"v_full", $"v_empty")
      .orderBy($"channel")
  }

  private val shapleyAttributionOracle = {
    val chanVals = Channels.map { case (n, b) => s"('$n', $b)" }.mkString(", ")
    val wCase = ShapW.zipWithIndex
      .map { case (w, s) => s"WHEN bit_count(va.s) = $s THEN $w" }
      .mkString(" ")
    s"""WITH fp AS MATERIALIZED (
       |  SELECT user_id AS u, min(ts) AS pts FROM events
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |bits AS (
       |  SELECT DISTINCT e.user_id AS u,
       |         CASE e.event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
       |              WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END AS b
       |  FROM events e JOIN fp ON fp.u = e.user_id
       |  WHERE e.ts < fp.pts AND e.event_type <> 'purchase'),
       |um AS (SELECT u, CAST(sum(b) AS BIGINT) AS m FROM bits GROUP BY u),
       |census AS MATERIALIZED (
       |  SELECT COALESCE(um.m, 0) AS m, CAST(count(*) AS BIGINT) AS cnt
       |  FROM fp LEFT JOIN um ON um.u = fp.u
       |  GROUP BY 1),
       |subsets AS (SELECT CAST(unnest(range(16)) AS BIGINT) AS s),
       |v AS MATERIALIZED (
       |  SELECT s, CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS v
       |  FROM subsets LEFT JOIN census ON (m & s) = m
       |  GROUP BY s),
       |chans AS (SELECT * FROM (VALUES $chanVals) t(channel, bit)),
       |terms AS (
       |  SELECT c.channel, c.bit,
       |         (CASE $wCase END) * (vb.v - va.v) AS term
       |  FROM chans c
       |  JOIN v va ON (va.s & c.bit) = 0
       |  JOIN v vb ON vb.s = (va.s | c.bit)),
       |audit AS (
       |  SELECT (SELECT v FROM v WHERE s = 15) AS v_full,
       |         (SELECT v FROM v WHERE s = 0) AS v_empty)
       |SELECT channel, CAST(sum(term) AS BIGINT) AS phi24,
       |       CAST(sum(term) AS DOUBLE) / 24.0 AS phi,
       |       max(v_full) AS v_full, max(v_empty) AS v_empty
       |FROM terms, audit
       |GROUP BY channel
       |ORDER BY channel""".stripMargin
  }

  /* Difference-in-differences — the third leg
   * of the observational-causal family (x267 DETECTS confounding, x269
   * ADJUSTS a point comparison, DiD identifies an effect from PANEL
   * structure: treated-vs-control change across a policy date, with the
   * common-trend assumption falsified-or-not by a placebo split inside
   * the pre period). All cells are exact integer (n, urgent) pairs;
   * rates and the DiD contrast are doubles both engines derive from
   * identical integers.
   */

  /** Policy date and the placebo date inside the pre period. */
  private val PolicyYear = 1998
  private val PlaceboYear = 1996

  // ---------------------------------------------------------------- x283

  /** x283: difference-in-differences on the urgent-order rate —
    * "treated" = AUTOMOBILE customers, control = BUILDING, policy at
    * [[PolicyYear]]-01-01: `DiD = (r_T,post − r_T,pre) − (r_C,post −
    * r_C,pre)`. Emitted with all eight exact cell integers, plus the
    * PLACEBO DiD computed the same way at [[PlaceboYear]] entirely
    * inside the pre period — a large placebo effect would falsify the
    * common-trend assumption that gives DiD its causal reading; the
    * audit travels with the estimate.
    *
    * Scale: one broadcast dim join + one 4-cell (8 with placebo)
    * aggregation — the identification strategy costs nothing beyond
    * the scan. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
      .filter($"c_mktsegment".isin("AUTOMOBILE", "BUILDING"))
      .select(($"c_mktsegment" === "AUTOMOBILE").as("treated"),
        year($"o_orderdate").as("yr"),
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("u"))
      .localCheckpoint(true)
    def cells(split: Int, pre: Column => Column): DataFrame = {
      def cell(t: Boolean, post: Boolean, col: String): Column = {
        val inPeriod = if (post) !pre($"yr") else pre($"yr")
        sum(when($"treated" === t && inPeriod,
          if (col == "n") lit(1L) else $"u").otherwise(0L)).as(col + suffix(t, post, split))
      }
      base.agg(
        cell(t = true, post = false, "n"), cell(t = true, post = false, "u"),
        cell(t = true, post = true, "n"), cell(t = true, post = true, "u"),
        cell(t = false, post = false, "n"), cell(t = false, post = false, "u"),
        cell(t = false, post = true, "n"), cell(t = false, post = true, "u"))
    }
    def suffix(t: Boolean, post: Boolean, split: Int): String =
      (if (t) "_t" else "_c") + (if (post) "_post" else "_pre") +
        (if (split == PolicyYear) "" else "_pl")
    // explicit NULL on an empty cell (ANSI div-by-zero would throw; a
    // missing period should poison the contrast to NULL, not crash)
    def rate(n: Column, u: Column): Column =
      when(n =!= 0L, u.cast("double") / n.cast("double"))
    def did(p: String): Column =
      (rate(col("n_t_post" + p), col("u_t_post" + p))
        - rate(col("n_t_pre" + p), col("u_t_pre" + p))) -
        (rate(col("n_c_post" + p), col("u_c_post" + p))
          - rate(col("n_c_pre" + p), col("u_c_pre" + p)))
    val main = cells(PolicyYear, y => y < PolicyYear)
    val placebo = base.filter($"yr" < PolicyYear)
      .agg(
        sum(when($"treated" && $"yr" < PlaceboYear, 1L).otherwise(0L)).as("n_t_pre_pl"),
        sum(when($"treated" && $"yr" < PlaceboYear, $"u").otherwise(0L)).as("u_t_pre_pl"),
        sum(when($"treated" && $"yr" >= PlaceboYear, 1L).otherwise(0L)).as("n_t_post_pl"),
        sum(when($"treated" && $"yr" >= PlaceboYear, $"u").otherwise(0L)).as("u_t_post_pl"),
        sum(when(!$"treated" && $"yr" < PlaceboYear, 1L).otherwise(0L)).as("n_c_pre_pl"),
        sum(when(!$"treated" && $"yr" < PlaceboYear, $"u").otherwise(0L)).as("u_c_pre_pl"),
        sum(when(!$"treated" && $"yr" >= PlaceboYear, 1L).otherwise(0L)).as("n_c_post_pl"),
        sum(when(!$"treated" && $"yr" >= PlaceboYear, $"u").otherwise(0L)).as("u_c_post_pl"))
    main.crossJoin(broadcast(placebo))
      .select(
        $"n_t_pre", $"u_t_pre", $"n_t_post", $"u_t_post",
        $"n_c_pre", $"u_c_pre", $"n_c_post", $"u_c_post",
        QueryUtil.halfUp(did(""), 6).as("did"),
        QueryUtil.halfUp(did("_pl"), 6).as("placebo_did"))
  }

  private val diffInDiffOracle = {
    def cellSql(t: String, cond: String, name: String): String =
      s"""CAST(sum(CASE WHEN treated = $t AND $cond THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_$name,
         |CAST(sum(CASE WHEN treated = $t AND $cond THEN u ELSE 0 END) AS BIGINT)
         |  AS u_$name""".stripMargin
    def rate(p: String): String =
      s"CASE WHEN n_$p <> 0 THEN CAST(u_$p AS DOUBLE) / CAST(n_$p AS DOUBLE) END"
    s"""WITH base AS MATERIALIZED (
       |  SELECT c_mktsegment = 'AUTOMOBILE' AS treated,
       |         year(o_orderdate) AS yr,
       |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
       |cells AS (
       |  SELECT
       |    ${cellSql("true", s"yr < $PolicyYear", "t_pre")},
       |    ${cellSql("true", s"yr >= $PolicyYear", "t_post")},
       |    ${cellSql("false", s"yr < $PolicyYear", "c_pre")},
       |    ${cellSql("false", s"yr >= $PolicyYear", "c_post")},
       |    ${cellSql("true", s"yr < $PlaceboYear", "t_pre_pl")},
       |    ${cellSql("true", s"yr >= $PlaceboYear AND yr < $PolicyYear", "t_post_pl")},
       |    ${cellSql("false", s"yr < $PlaceboYear", "c_pre_pl")},
       |    ${cellSql("false", s"yr >= $PlaceboYear AND yr < $PolicyYear", "c_post_pl")}
       |  FROM base)
       |SELECT n_t_pre, u_t_pre, n_t_post, u_t_post,
       |       n_c_pre, u_c_pre, n_c_post, u_c_post,
       |       floor(((${rate("t_post")} - ${rate("t_pre")})
       |              - (${rate("c_post")} - ${rate("c_pre")}))
       |             * 1000000 + 0.5) / 1000000.0 AS did,
       |       floor(((${rate("t_post_pl")} - ${rate("t_pre_pl")})
       |              - (${rate("c_post_pl")} - ${rate("c_pre_pl")}))
       |             * 1000000 + 0.5) / 1000000.0 AS placebo_did
       |FROM cells""".stripMargin
  }

  /* Estimation-from-incomplete-information
   * methods the registry still lacked — the delete-1-group JACKKNIFE
   * (deterministic resampling-free uncertainty for any ratio statistic,
   * where the bootstrap would need RNG), capture–recapture population
   * estimation (how many distinct entities exist, from two overlapping
   * deterministic samples — Chapman's nearly-unbiased variant), and the
   * Chao1 richness estimator (how many vocabulary types were NEVER
   * observed, from singleton/doubleton counts — the count-side
   * complement of x254's Good–Turing unseen MASS).
   * Elsewhere: x291 (TextQueries).
   */

  /** Fixed-point scale for jackknife pseudo-value terms. */
  private val JkScale = "1000000000000.0" // 1e12

  // ---------------------------------------------------------------- x289

  /** x289: delete-1-group jackknife for the pooled urgent-order rate —
    * leave each order-year stratum out once, recompute the ratio from
    * the complement's exact integer sums, and fold the squared
    * deviations (quantized to 1e-12 BIGINT before the cross-stratum
    * sum, order-free) into the jackknife standard error
    * `se² = (k−1)/k · Σ(θ̂₍ᵢ₎ − θ̄)²`. Deterministic by construction —
    * no resampling RNG anywhere — which is why the jackknife, not the
    * bootstrap, is the uncertainty method that fits an oracle-paired
    * engine.
    *
    * Scale: one stratum aggregate; each leave-one-out is complement
    * arithmetic on the k-row stratum frame (total sums broadcast back),
    * never a second corpus pass. */
  def jackknifeRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val strata = Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("long").as("yr"),
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("u"))
      .groupBy($"yr").agg(count(lit(1)).as("n"), sum($"u").as("su"))
      .localCheckpoint(true)
    val tot = strata.agg(sum($"n").as("nt"), sum($"su").as("st"),
      count(lit(1)).as("k"))
    val loo = strata.crossJoin(broadcast(tot))
      .withColumn("theta_i",
        ($"st" - $"su").cast("double") / ($"nt" - $"n").cast("double"))
    val thetaBar = loo.agg(
      sum(floor($"theta_i" * lit(JkScale.toDouble) + 0.5).cast("long")).as("tb_q"),
      max($"k").as("k"), max($"nt").as("nt"), max($"st").as("st"))
    loo.crossJoin(broadcast(thetaBar.select(
        ($"tb_q".cast("double") / lit(JkScale.toDouble) / $"k".cast("double"))
          .as("theta_bar"), $"k".as("kk"))))
      .withColumn("dev2_q", floor(($"theta_i" - $"theta_bar")
        * ($"theta_i" - $"theta_bar") * lit(JkScale.toDouble) + 0.5).cast("long"))
      .agg(max($"kk").as("k"), sum($"dev2_q").as("ss_q"),
        max($"theta_bar").as("theta_bar"))
      .crossJoin(broadcast(tot.select($"nt", $"st")))
      .select($"k", $"nt".as("n_total"), $"st".as("n_urgent"),
        QueryUtil.halfUp($"st".cast("double") / $"nt".cast("double"), 6)
          .as("theta_hat"),
        QueryUtil.halfUp($"theta_bar", 6).as("theta_bar"),
        QueryUtil.halfUp(
          sqrt((($"k" - 1L).cast("double") / $"k".cast("double"))
            * ($"ss_q".cast("double") / lit(JkScale.toDouble))), 6).as("jk_se"))
  }

  private val jackknifeRatioOracle =
    s"""WITH strata AS MATERIALIZED (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS su
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(su) AS BIGINT) AS st,
       |               CAST(count(*) AS BIGINT) AS k FROM strata),
       |loo AS MATERIALIZED (
       |  SELECT yr, CAST(st - su AS DOUBLE) / CAST(nt - n AS DOUBLE) AS theta_i,
       |         k, nt, st
       |  FROM strata, tot),
       |tb AS (SELECT CAST(sum(CAST(floor(theta_i * $JkScale + 0.5) AS BIGINT))
       |                AS BIGINT) AS tb_q,
       |              max(k) AS k FROM loo),
       |dev AS (
       |  SELECT l.k, l.nt, l.st,
       |         CAST(floor((l.theta_i - CAST(tb.tb_q AS DOUBLE) / $JkScale
       |                       / CAST(tb.k AS DOUBLE))
       |                    * (l.theta_i - CAST(tb.tb_q AS DOUBLE) / $JkScale
       |                       / CAST(tb.k AS DOUBLE))
       |                    * $JkScale + 0.5) AS BIGINT) AS dev2_q,
       |         CAST(tb.tb_q AS DOUBLE) / $JkScale / CAST(tb.k AS DOUBLE)
       |           AS theta_bar
       |  FROM loo l, tb)
       |SELECT max(k) AS k, max(nt) AS n_total, max(st) AS n_urgent,
       |       floor(CAST(max(st) AS DOUBLE) / CAST(max(nt) AS DOUBLE)
       |             * 1000000 + 0.5) / 1000000.0 AS theta_hat,
       |       floor(max(theta_bar) * 1000000 + 0.5) / 1000000.0 AS theta_bar,
       |       floor(sqrt((CAST(max(k) - 1 AS DOUBLE) / CAST(max(k) AS DOUBLE))
       |                  * (CAST(sum(dev2_q) AS DOUBLE) / $JkScale))
       |             * 1000000 + 0.5) / 1000000.0 AS jk_se
       |FROM dev""".stripMargin

  // ---------------------------------------------------------------- x290

  /** x290: capture–recapture population estimation (Chapman's
    * nearly-unbiased Lincoln–Petersen) — two deterministic hash-samples
    * of the document universe "capture" n₁ and n₂ docs with overlap m;
    * the estimated universe size is `(n₁+1)(n₂+1)/(m+1) − 1` (exact
    * integer division both engines), audited against the true distinct
    * count the estimator never saw. The method behind "how many
    * distinct entities exist when you can only sample" — the
    * population-SIZE counterpart of q91's AQP value estimates.
    *
    * Scale: two narrow hash-filtered passes + one semi-join on ids;
    * the estimate is O(1) arithmetic. */
  def captureRecapture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id")
      .localCheckpoint(true)
    def h(salt: String) = QueryUtil.md5Int(concat_ws("|", lit(salt), $"doc_id"), 4)
    val s1 = docs.filter(h("cap1") % 4 === 0L) // ~25% capture
    val s2 = docs.filter(h("cap2") % 4 === 0L)
    val m = s1.join(s2, "doc_id")
    val est = s1.agg(count(lit(1)).as("n1"))
      .crossJoin(broadcast(s2.agg(count(lit(1)).as("n2"))))
      .crossJoin(broadcast(m.agg(count(lit(1)).as("m"))))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("true_n"))))
    est.select($"n1", $"n2", $"m", $"true_n",
      (expr("(n1 + 1) * (n2 + 1) DIV (m + 1)") - 1L).as("est_n"),
      QueryUtil.halfUp4(
        abs((expr("(n1 + 1) * (n2 + 1) DIV (m + 1)") - 1L).cast("double")
          - $"true_n".cast("double")) / $"true_n".cast("double")).as("rel_err"))
  }

  private val captureRecaptureOracle = {
    def h(salt: String): String =
      QueryUtil.md5IntSql(s"concat_ws('|', '$salt', CAST(doc_id AS VARCHAR))", 4)
    s"""WITH s1 AS MATERIALIZED (
       |  SELECT doc_id FROM documents WHERE ${h("cap1")} % 4 = 0),
       |s2 AS MATERIALIZED (
       |  SELECT doc_id FROM documents WHERE ${h("cap2")} % 4 = 0),
       |cells AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
       |         (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
       |         (SELECT CAST(count(*) AS BIGINT)
       |          FROM s1 JOIN s2 USING (doc_id)) AS m,
       |         (SELECT CAST(count(*) AS BIGINT) FROM documents) AS true_n)
       |SELECT n1, n2, m, true_n,
       |       (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS est_n,
       |       floor(abs(CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS DOUBLE)
       |                 - CAST(true_n AS DOUBLE)) / CAST(true_n AS DOUBLE)
       |             * 10000 + 0.5) / 10000.0 AS rel_err
       |FROM cells""".stripMargin
  }

  /** Survival-panel cap: the C-index pair join is panel², so the panel
    * must be bounded whatever the corpus (first [[CPanel]] user ids). */
  private val CPanel = 2000L

  // ---------------------------------------------------------------- x346

  /** x346: Harrell's concordance index — does a user's activity volume
    * (risk score = event count) predict how soon their observation
    * window ends? Survival framing over events: time = observation span
    * in minutes (epoch-µs arithmetic, µs-aligned fixture so DIV is
    * lossless), event = user ever purchased (else right-censored at
    * span end). A pair is COMPARABLE iff the earlier-ending subject had
    * the event; concordant when that subject also carries the HIGHER
    * risk score, score ties count ½. C = (2·nc + nt)/(2·ncomp) kept as
    * exact integers and micro-quantized with truncating division.
    *
    * Scale: the pair join is capped at [[CPanel]]² whatever the corpus —
    * the x234 TauTop precedent (an UNCAPPED user panel went 12× slower
    * at 10× data in the r13 scale sweep: users² is quadratic) — and
    * everything before it is one map-side-combinable groupBy(user). */
  /** The shared survival frame: (user_id, t_min, e, score) — observation
    * span in minutes, purchase = event, activity volume as risk score.
    * One copy feeds x346 (capped pair census) and x358 (Nelson–Aalen)
    * so the Kaplan–Meier-family queries really share their framing. */
  private def survivalSubjects(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        (unix_micros(max($"ts").cast("timestamp")) -
          unix_micros(min($"ts").cast("timestamp"))).as("span_us"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("score"))
      .select($"user_id", expr("span_us DIV 60000000").as("t_min"),
        when($"np" > 0L, 1L).otherwise(0L).as("e"), $"score")
  }

  /** The oracle-side rendering of [[survivalSubjects]] (body of a
    * `subj AS (...)` CTE, without panel cap). */
  private val survivalSubjectsSql =
    """SELECT user_id,
      |         (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS t_min,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
      |              THEN 1 ELSE 0 END AS e,
      |         CAST(count(*) AS BIGINT) AS score
      |  FROM events GROUP BY user_id""".stripMargin

  def harrellC(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val subj = survivalSubjects(spark, dir)
      .withColumn("panel_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"user_id")))
      .filter($"panel_rk" <= CPanel)
      .drop("panel_rk")
      .localCheckpoint(true)
    val pairs = subj.toDF("u1", "t1", "e1", "s1")
      .join(subj.toDF("u2", "t2", "e2", "s2"), $"u1" < $"u2")
      .filter($"t1" =!= $"t2")
      .select(
        when($"t1" < $"t2", $"e1").otherwise($"e2").as("e_early"),
        when($"t1" < $"t2", $"s1").otherwise($"s2").as("s_early"),
        when($"t1" < $"t2", $"s2").otherwise($"s1").as("s_late"))
      .filter($"e_early" === 1L)
    val agg = pairs.agg(
      count(lit(1)).as("ncomp"),
      sum(when($"s_early" > $"s_late", 1L).otherwise(0L)).as("nc"),
      sum(when($"s_early" === $"s_late", 1L).otherwise(0L)).as("nt"))
    agg.select($"ncomp", $"nc", $"nt",
      expr("((2 * nc + nt) * 1000000) DIV (2 * ncomp)").as("c_micro"),
      QueryUtil.halfUp4((lit(2.0) * $"nc" + $"nt").cast("double") /
        (lit(2.0) * $"ncomp").cast("double")).as("c_index"))
  }

  private val harrellCOracle =
    s"""WITH subj AS MATERIALIZED (
      |  SELECT * FROM ($survivalSubjectsSql)
      |  ORDER BY user_id LIMIT $CPanel),
      |pairs AS (
      |  SELECT CASE WHEN a.t_min < b.t_min THEN a.e ELSE b.e END AS e_early,
      |         CASE WHEN a.t_min < b.t_min THEN a.score ELSE b.score END AS s_early,
      |         CASE WHEN a.t_min < b.t_min THEN b.score ELSE a.score END AS s_late
      |  FROM subj a JOIN subj b ON a.user_id < b.user_id
      |  WHERE a.t_min <> b.t_min),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS ncomp,
      |         CAST(sum(CASE WHEN s_early > s_late THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |         CAST(sum(CASE WHEN s_early = s_late THEN 1 ELSE 0 END) AS BIGINT) AS nt
      |  FROM pairs WHERE e_early = 1)
      |SELECT ncomp, nc, nt,
      |       ((2 * nc + nt) * 1000000) // (2 * ncomp) AS c_micro,
      |       floor((2.0 * nc + nt) / (2.0 * ncomp) * 10000 + 0.5) / 10000.0 AS c_index
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- x358

  /** x358: Nelson–Aalen cumulative hazard over the x346 survival frame
    * (user observation spans in minutes, purchase = event) — H(t) =
    * Σ_{tᵢ ≤ t} dᵢ/nᵢ with dᵢ = events at tᵢ and nᵢ = subjects still at
    * risk. Each increment dᵢ·10⁶ DIV nᵢ is micro-quantized BEFORE the
    * cumulative sum (truncating, so both engines walk the identical
    * integer trajectory); the at-risk counts come from a descending
    * cumulative over the span census — no joins. The counting-process
    * twin of x197's Kaplan–Meier product-limit.
    *
    * Scale: one groupBy(user) pass, one census over distinct spans,
    * two window sums. */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val subj = survivalSubjects(spark, dir)
      .select($"t_min", $"e")
    val census = subj.groupBy($"t_min")
      .agg(count(lit(1)).as("n_at"), sum($"e").as("d_ev"))
    val wRisk = Window.orderBy($"t_min")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy($"t_min").rowsBetween(Window.unboundedPreceding, 0)
    census
      .withColumn("n_risk", sum($"n_at").over(wRisk))
      .withColumn("h_inc", expr("(d_ev * 1000000) DIV n_risk"))
      .withColumn("h_cum", sum($"h_inc").over(wCum))
      .filter($"d_ev" > 0L)
      .select($"t_min", $"d_ev", $"n_risk", $"h_inc", $"h_cum")
      .orderBy($"t_min")
  }

  private val nelsonAalenOracle =
    s"""WITH subj AS MATERIALIZED (
      |  SELECT t_min, e FROM (${survivalSubjectsSql})),
      |census AS (
      |  SELECT t_min, CAST(count(*) AS BIGINT) AS n_at, CAST(sum(e) AS BIGINT) AS d_ev
      |  FROM subj GROUP BY 1),
      |risk AS (
      |  SELECT *,
      |         CAST(sum(n_at) OVER (ORDER BY t_min
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      |  FROM census),
      |inc AS (
      |  SELECT *, (d_ev * 1000000) // n_risk AS h_inc FROM risk),
      |cum AS (
      |  SELECT *, CAST(sum(h_inc) OVER (ORDER BY t_min
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS h_cum FROM inc)
      |SELECT t_min, d_ev, n_risk, h_inc, h_cum
      |FROM cum WHERE d_ev > 0
      |ORDER BY t_min""".stripMargin

  /** x378 reward threshold (shared with the SPRT tier). */
  private val RewardThresh = 35.0

  /** x378: IPS / SNIPS off-policy evaluation — estimate the value of a
    * DETERMINISTIC target policy ("predict the user's next event type
    * from the global Markov argmax of their previous one", q57's
    * transition matrix turned into a policy) from logged traffic, without
    * deploying it: per logged action a, the inverse-propensity weight is
    * N/cnt(a) (empirical logging propensities), and the per-arm IPS term
    * is matched_rewarded(a)/cnt(a) — exact BIGINT ratios, emitted per arm
    * with the match/reward censuses so IPS = sum(ips_term) and SNIPS's
    * denominator sum(matched(a)/cnt(a)) are reconstructible. */
  def ipsOfflineEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"sec", $"event_id")
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        expr("unix_timestamp(cast(date_trunc('second', ts) as timestamp))")
          .cast("long").as("sec"),
        ($"value" >= RewardThresh).cast("long").as("r"))
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
    val trans = ev.groupBy($"prev", $"event_type").agg(count(lit(1)).as("n"))
    val wArg = Window.partitionBy($"prev").orderBy($"n".desc, $"event_type")
    val policy = trans.withColumn("rk", row_number().over(wArg))
      .filter($"rk" === 1).select($"prev", $"event_type".as("predicted"))
    ev.join(broadcast(policy), "prev")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(($"predicted" === $"event_type").cast("long")).as("matched"),
        sum(when($"predicted" === $"event_type", $"r").otherwise(0L)).as("matched_reward"))
      .select($"event_type".as("arm"), $"cnt", $"matched", $"matched_reward",
        QueryUtil.halfUp($"matched_reward".cast("double") / $"cnt", 6).as("ips_term"),
        QueryUtil.halfUp($"matched".cast("double") / $"cnt", 6).as("snips_denom_term"))
      .orderBy("arm")
  }

  private val ipsOracle =
    s"""WITH ev AS (SELECT user_id, event_id, event_type,
       |              CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
       |              CASE WHEN value >= $RewardThresh THEN 1 ELSE 0 END AS r
       |            FROM events),
       |lagd AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev
       |         FROM ev),
       |e AS (SELECT * FROM lagd WHERE prev IS NOT NULL),
       |trans AS (SELECT prev, event_type, count(*) AS n FROM e GROUP BY 1, 2),
       |policy AS (SELECT prev, event_type AS predicted
       |           FROM (SELECT *, row_number() OVER (PARTITION BY prev ORDER BY n DESC, event_type) AS rk
       |                 FROM trans) WHERE rk = 1)
       |SELECT e.event_type AS arm, CAST(count(*) AS BIGINT) AS cnt,
       |       CAST(sum(CASE WHEN p.predicted = e.event_type THEN 1 ELSE 0 END) AS BIGINT) AS matched,
       |       CAST(sum(CASE WHEN p.predicted = e.event_type THEN e.r ELSE 0 END) AS BIGINT) AS matched_reward,
       |       floor(CAST(sum(CASE WHEN p.predicted = e.event_type THEN e.r ELSE 0 END) AS DOUBLE)
       |             / count(*) * 1000000 + 0.5) / 1000000.0 AS ips_term,
       |       floor(CAST(sum(CASE WHEN p.predicted = e.event_type THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*) * 1000000 + 0.5) / 1000000.0 AS snips_denom_term
       |FROM e JOIN policy p ON p.prev = e.prev
       |GROUP BY e.event_type
       |ORDER BY arm""".stripMargin

  /** x381: doubly-robust off-policy estimate — completes x378's family:
    * a reward MODEL m(a) (per-arm mean on the hash-train half, floored to
    * a 1e-6 integer so both engines hold the identical model) plus the
    * IPS correction on the eval half:
    * DR_t = m(π(prev_t)) + 1[π=a_t]·(r_t − m(a_t))/μ(a_t). Emitted per
    * logged arm as exact integer censuses (model_fp, matched counts,
    * correction numerator) plus the halfUp6 per-arm DR contribution, so
    * the total estimate is the audited sum. */
  def doublyRobustEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"sec", $"event_id")
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        expr("unix_timestamp(cast(date_trunc('second', ts) as timestamp))")
          .cast("long").as("sec"),
        ($"value" >= RewardThresh).cast("long").as("r"),
        (QueryUtil.md5Int(concat_ws("|", lit("dr"), $"event_id"), 4) < 32768L)
          .cast("int").as("is_train"))
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .localCheckpoint(true) // train half (2 consumers) + eval half reuse it
    val train = ev.filter($"is_train" === 1).localCheckpoint(true)
    val policy = train.groupBy($"prev", $"event_type").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"prev").orderBy($"n".desc, $"event_type")))
      .filter($"rk" === 1).select($"prev", $"event_type".as("predicted"))
    val model = train.groupBy($"event_type")
      .agg(expr("CAST(sum(r) * 1000000 DIV count(*) AS BIGINT)").as("m_fp"))
      .select($"event_type", $"m_fp")
    val eval0 = ev.filter($"is_train" === 0)
      .join(broadcast(policy), "prev")
      .join(broadcast(model.withColumnRenamed("event_type", "predicted")
        .withColumnRenamed("m_fp", "m_pred_fp")), "predicted")
      .join(broadcast(model), "event_type")
    eval0.groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum($"m_pred_fp").as("model_sum_fp"),
        sum(($"predicted" === $"event_type").cast("long")).as("matched"),
        sum(when($"predicted" === $"event_type", $"r" * 1000000L - $"m_fp")
          .otherwise(0L)).as("corr_num_fp"))
      .select($"event_type".as("arm"), $"cnt", $"model_sum_fp", $"matched", $"corr_num_fp",
        QueryUtil.halfUp(($"model_sum_fp" + $"corr_num_fp").cast("double")
          / ($"cnt".cast("double") * 1e6), 6).as("dr_term"))
      .orderBy("arm")
  }

  private val doublyRobustOracle = {
    val h16 = QueryUtil.md5IntSql("concat_ws('|', 'dr', CAST(event_id AS VARCHAR))", 4)
    s"""WITH ev AS (SELECT user_id, event_id, event_type,
       |              CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
       |              CASE WHEN value >= $RewardThresh THEN 1 ELSE 0 END AS r,
       |              CASE WHEN $h16 < 32768 THEN 1 ELSE 0 END AS is_train
       |            FROM events),
       |lagd AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev
       |         FROM ev),
       |e AS (SELECT * FROM lagd WHERE prev IS NOT NULL),
       |tr AS (SELECT * FROM e WHERE is_train = 1),
       |policy AS (SELECT prev, event_type AS predicted
       |           FROM (SELECT prev, event_type, count(*) AS n,
       |                   row_number() OVER (PARTITION BY prev ORDER BY count(*) DESC, event_type) AS rk
       |                 FROM tr GROUP BY prev, event_type) WHERE rk = 1),
       |model AS (SELECT event_type, CAST(sum(r) * 1000000 // count(*) AS BIGINT) AS m_fp
       |          FROM tr GROUP BY event_type)
       |SELECT e.event_type AS arm, CAST(count(*) AS BIGINT) AS cnt,
       |       CAST(sum(mp.m_fp) AS BIGINT) AS model_sum_fp,
       |       CAST(sum(CASE WHEN p.predicted = e.event_type THEN 1 ELSE 0 END) AS BIGINT) AS matched,
       |       CAST(sum(CASE WHEN p.predicted = e.event_type THEN e.r * 1000000 - ma.m_fp ELSE 0 END) AS BIGINT) AS corr_num_fp,
       |       floor(CAST(sum(mp.m_fp) + sum(CASE WHEN p.predicted = e.event_type THEN e.r * 1000000 - ma.m_fp ELSE 0 END) AS DOUBLE)
       |             / (CAST(count(*) AS DOUBLE) * 1e6) * 1000000 + 0.5) / 1000000.0 AS dr_term
       |FROM e
       |JOIN policy p ON p.prev = e.prev
       |JOIN model mp ON mp.event_type = p.predicted
       |JOIN model ma ON ma.event_type = e.event_type
       |WHERE e.is_train = 0
       |GROUP BY e.event_type
       |ORDER BY arm""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q104_ab_significance",
      "two-proportion A/B significance screen per goal: one cross-multiplied exact-integer z-test predicate",
      abSignificance, Some(abSignificanceOracle)),
    QueryDef("x182_bootstrap_ci",
      "Poisson-bootstrap CI for the mean order value: 32 deterministic hash-weighted replicates in one pass",
      bootstrapCi, Some(bootstrapOracle)),
    QueryDef("x197_kaplan_meier",
      "Kaplan-Meier time-to-first-purchase: right-censored durations, descending-cumsum risk set, exact-integer product-limit fold",
      kaplanMeier, Some(kmOracle)),
    QueryDef("x198_logrank",
      "two-arm log-rank test (hash-assigned A/B arms) on the x197 durations: O-E and hypergeometric variance in 1e-6 fixed point",
      logRank, Some(logRankOracle)),
    QueryDef("x200_cuped",
      "CUPED variance-reduced A/B lift: pre-period covariate, analytic var(Y-thetaX), exact integer moments at user grain",
      cuped, Some(cupedOracle)),
    QueryDef("x203_markov_attribution",
      "Markov removal-effect attribution over user journeys: exact-integer 12-step value iteration, base vs per-channel-removed chains",
      markovAttribution, Some(markovOracle)),
    QueryDef("x209_shapley",
      "exact Shapley channel attribution over the 16-coalition lattice: subset-join characteristic function, literal factorial weights",
      shapley, Some(shapleyOracle)),
    QueryDef("x265_randomized_response",
      "local-DP randomized response (p=3/4 lattice) with exact half-integer debiasing per segment",
      randomizedResponse, Some(randomizedResponseOracle)),
    QueryDef("x267_simpson_audit",
      "Simpson's-paradox screen: pooled vs per-stratum urgent-rate direction, exact cross-multiplied",
      simpsonAudit, Some(simpsonAuditOracle)),
    QueryDef("x269_standardized_ate",
      "direct standardization over year strata: crude vs confounder-adjusted rate difference",
      standardizedAte, Some(standardizedAteOracle)),
    QueryDef("x276_shapley_attribution",
      "EXACT Shapley channel attribution over the 16-coalition lattice with efficiency audit",
      shapleyAttribution, Some(shapleyAttributionOracle)),
    QueryDef("x283_diff_in_diff",
      "difference-in-differences on urgent rates with an in-pre-period placebo falsification",
      diffInDiff, Some(diffInDiffOracle)),
    QueryDef("x289_jackknife_ratio",
      "delete-1-stratum jackknife SE for the urgent rate (deterministic, RNG-free uncertainty)",
      jackknifeRatio, Some(jackknifeRatioOracle)),
    QueryDef("x290_capture_recapture",
      "Chapman capture-recapture population estimate from two hash samples vs the true count",
      captureRecapture, Some(captureRecaptureOracle)),
    QueryDef("x346_harrell_c",
      "Harrell's C-index: survival concordance of the activity risk score, exact pair censuses with half-credit ties",
      harrellC, Some(harrellCOracle)),
    QueryDef("x358_nelson_aalen",
      "Nelson-Aalen cumulative hazard: micro-quantized d/n increments over the span census, Kaplan-Meier's counting-process twin",
      nelsonAalen, Some(nelsonAalenOracle)),
    QueryDef("x378_ips_offline_eval",
      "IPS/SNIPS off-policy evaluation of the Markov-argmax routing policy from logged traffic: exact per-arm censuses (stats)",
      ipsOfflineEval, Some(ipsOracle)),
    QueryDef("x381_doubly_robust_eval",
      "doubly-robust off-policy estimate: hash-train reward model + IPS correction, exact per-arm censuses (stats)",
      doublyRobustEval, Some(doublyRobustOracle)))
}
