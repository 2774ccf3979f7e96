package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-10 twenty-sixth tier: exact split-enumeration training (the
  * distributed-GBDT building block, contrasting x181's iterative GD),
  * a differentially-private histogram release with deterministic
  * discrete-Laplace noise, and split-conformal prediction coverage —
  * the calibration layer a production classifier pipeline puts behind
  * every model it ships. */
object Round10Queries26 {

  // ---------------------------------------------------------------- x184

  /** x184: exact decision-stump training by distributed split
    * enumeration — the split-finder at the heart of every distributed
    * GBDT (XGBoost/LightGBM-style): histogram the feature per class,
    * prefix-sum the ordered histogram, and the error of EVERY candidate
    * threshold falls out of one window pass; the argmin is exact, not
    * sampled. Feature: space count; label: n_chars ≥ 300. The two are
    * strongly but imperfectly correlated (measured best stump: 3/500 at
    * sf0.001, 76/5000 at sf0.1 errors vs ~49% base), so the stump is a
    * non-trivial learner with a non-zero optimum — unlike a threshold
    * on the label's own feature. Both polarities are scored (predict +
    * when s ≥ t, and the complement); ties break on (err, t, polarity)
    * for a deterministic argmin.
    *
    * Scale: ONE groupBy histogram over distinct feature values (vocab-
    * bounded — space counts, not rows), one window prefix-sum over that
    * histogram, one top-1. No per-candidate pass over the data: the
    * 100 TB corpus is read once regardless of how many thresholds
    * exist. */
  def stumpTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Tables.documents(spark, dir).select(
      (length($"text") - length(regexp_replace($"text", " ", ""))).cast("long").as("s"),
      when($"n_chars" >= 300, 1L).otherwise(-1L).as("y"))
    val hist = feats.groupBy($"s")
      .agg(sum(when($"y" === 1, 1L).otherwise(0L)).as("p"),
        sum(when($"y" === -1, 1L).otherwise(0L)).as("g"))
    val w = Window.orderBy($"s").rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum($"p").as("tp"), sum($"g").as("tn"))
    // err_ge(t) = positives below t (predicted -) + negatives at/above t
    // (predicted +); the opposite polarity is its complement.
    val cand = hist
      .select($"s".as("t"),
        coalesce(sum($"p").over(w), lit(0L)).as("plt"),
        coalesce(sum($"g").over(w), lit(0L)).as("nlt"))
      .crossJoin(broadcast(tot))
      .select($"t", $"tp", $"tn",
        ($"plt" + ($"tn" - $"nlt")).as("err_ge"))
      .select($"t", $"tp", $"tn",
        explode(map(lit(1), $"err_ge", lit(0), $"tp" + $"tn" - $"err_ge"))
          .as(Seq("pol_ge", "err")))
    cand
      .orderBy($"err", $"t", $"pol_ge".desc)
      .limit(1)
      .select($"t".as("best_t"), $"pol_ge", $"err".as("err_best"),
        least($"tp", $"tn").as("base_err"), ($"tp" + $"tn").as("n"))
  }

  /** Shared stump-training CTE chain (feats → hist → candidate errors),
    * ending in a 1-row `best` CTE — reused by the x189 fairness audit,
    * which scores the trained stump across subgroups. */
  private[queries] val stumpCtes =
    """feats AS (
      |  SELECT CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS s,
      |         CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END AS y
      |  FROM documents),
      |hist AS (SELECT s,
      |           CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
      |           CAST(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS g
      |         FROM feats GROUP BY s),
      |tot AS (SELECT CAST(sum(p) AS BIGINT) AS tp, CAST(sum(g) AS BIGINT) AS tn FROM hist),
      |pre AS (SELECT s AS t,
      |          CAST(COALESCE(sum(p) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS plt,
      |          CAST(COALESCE(sum(g) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nlt
      |        FROM hist),
      |cand AS (
      |  SELECT t, tp, tn, 1 AS pol_ge, plt + (tn - nlt) AS err FROM pre, tot
      |  UNION ALL
      |  SELECT t, tp, tn, 0 AS pol_ge, tp + tn - (plt + (tn - nlt)) AS err FROM pre, tot),
      |best AS (SELECT t AS best_t, pol_ge, err AS err_best,
      |                least(tp, tn) AS base_err, tp + tn AS n
      |         FROM cand ORDER BY err, t, pol_ge DESC LIMIT 1)""".stripMargin

  private val stumpOracle =
    "WITH " + stumpCtes + "\nSELECT best_t, pol_ge, err_best, base_err, n FROM best"

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

  // ---------------------------------------------------------------- x187

  /** x187: split-conformal prediction coverage — the distribution-free
    * calibration layer for any point predictor. Calibration half (even
    * o_orderkey) fits a per-priority mean price (integer cents, trunc
    * division) and collects nonconformity scores |v − pred|; the
    * interval half-width q is the ⌈0.9·(n_cal+1)⌉-th smallest score
    * (the finite-sample-correct conformal quantile); the test half
    * (odd keys) then measures empirical coverage of pred ± q, which the
    * conformal guarantee lower-bounds by 90% in expectation. All
    * arithmetic is integer (cents, counts, 1e6 fixed-point coverage).
    *
    * Scale: one aggregation for the group means (broadcast back — the
    * model is group-cardinality-sized), one sort to extract a single
    * order statistic (at 100 TB: replace with the KLL sketch already in
    * q31 — exactness here is what makes the oracle pairing possible),
    * one test-side scan. */
  def conformalCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      $"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("v"))
    val cal = o.filter(pmod($"k", lit(2L)) === 0L).localCheckpoint(true)
    val test = o.filter(pmod($"k", lit(2L)) === 1L)
    val model = cal.groupBy($"pri").agg(expr("sum(v) div count(*)").as("pred"))
    val scores = cal.join(broadcast(model), "pri")
      .select(abs($"v" - $"pred").as("sc"))
    val nCal = scores.agg(count(lit(1)).as("n_cal"),
      expr("(9 * (count(*) + 1) + 9) div 10").as("kq"))
    val q = scores
      .select($"sc", row_number().over(Window.orderBy($"sc")).as("rn"))
      .crossJoin(broadcast(nCal))
      .filter($"rn" === $"kq")
      .select($"n_cal", $"sc".as("q"))
    test.join(broadcast(model), "pri")
      .crossJoin(broadcast(q))
      .agg(first($"n_cal").as("n_cal"), first($"q").as("q"),
        count(lit(1)).as("n_test"),
        sum(when(abs($"v" - $"pred") <= $"q", 1L).otherwise(0L)).as("n_covered"))
      .select($"n_cal", $"n_test", $"q", $"n_covered",
        expr("(n_covered * 1000000) div n_test").as("coverage_fp"),
        (expr("(n_covered * 1000000) div n_test") >= 850000L)
          .cast("int").as("covers_nominal"))
  }

  private val conformalOracle =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderpriority AS pri,
      |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |           FROM orders),
      |cal AS (SELECT * FROM o WHERE k % 2 = 0),
      |test AS (SELECT * FROM o WHERE k % 2 = 1),
      |model AS (SELECT pri, CAST(sum(v) // count(*) AS BIGINT) AS pred
      |          FROM cal GROUP BY pri),
      |scores AS (SELECT abs(v - pred) AS sc FROM cal JOIN model USING (pri)),
      |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
      |              CAST((9 * (count(*) + 1) + 9) // 10 AS BIGINT) AS kq
      |       FROM scores),
      |qv AS (SELECT n_cal, sc AS q FROM
      |         (SELECT sc, row_number() OVER (ORDER BY sc) AS rn FROM scores) s, nc
      |       WHERE rn = kq)
      |SELECT n_cal, CAST(count(*) AS BIGINT) AS n_test, q,
      |       CAST(sum(CASE WHEN abs(v - pred) <= q THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |       CAST(sum(CASE WHEN abs(v - pred) <= q THEN 1 ELSE 0 END) * 1000000
      |            // count(*) AS BIGINT) AS coverage_fp,
      |       CAST(sum(CASE WHEN abs(v - pred) <= q THEN 1 ELSE 0 END) * 1000000
      |            // count(*) >= 850000 AS INTEGER) AS covers_nominal
      |FROM test JOIN model USING (pri), qv
      |GROUP BY n_cal, q""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x184_stump_train",
      "exact decision-stump split enumeration (distributed GBDT split-finder): histogram + prefix-sum argmin over thresholds",
      stumpTrain, Some(stumpOracle)),
    QueryDef("x186_dp_histogram",
      "differentially-private histogram release: discrete-Laplace noise via deterministic quantized inverse CDF",
      dpHistogram, Some(dpOracle)),
    QueryDef("x187_conformal_coverage",
      "split-conformal prediction: finite-sample conformal quantile on a calibration half, coverage audit on the test half",
      conformalCoverage, Some(conformalOracle)))
}
