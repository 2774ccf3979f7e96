package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 sixteenth tier: the two modern model-evaluation primitives
  * the eval family still lacked — the paired k-fold t-test that decides
  * whether one classifier actually beats another (decision evaluated as
  * ONE cross-multiplied DECIMAL(38) predicate, no float accumulation),
  * and split conformal prediction (distribution-free intervals with a
  * coverage guarantee — the calibration quantile is an exact rank
  * selection, the guarantee is audited on a held-out test split).
  */
object Round11Queries16 {

  /** Fold count and the two-sided t critical value t²_{0.975,4} as an
    * exact rational (2.776445…² ≈ 7.70865 — we pin the standard 2.776
    * table value: 2.776² = 7.706176). */
  private val Folds = 5
  private val TCrit2Num = 7706176L
  private val TCrit2Den = 1000000L

  /** Per-fold diff fixed-point scale. */
  private val TScale = "1000000000000.0" // 1e12

  // ---------------------------------------------------------------- x281

  /** x281: paired k-fold t-test — does the TRAINED logistic classifier
    * (x259) beat the x99 hashed quality gate at predicting the corpus
    * label? Docs split into [[Folds]] deterministic folds (doc_id mod);
    * per fold both models' accuracies are exact rationals; the fold
    * accuracy DIFFERENCES quantize to 1e-12 BIGINTs, and the t decision
    * `t² > t²crit` is evaluated as one cross-multiplied DECIMAL(38)
    * predicate on S1 = Σd and S2 = Σd²:
    * `(n−1)·S1²·critDen > critNum·(n·S2 − S1²)` — no float mean, no
    * sqrt, no accumulation-order drift (the q104 recipe). The readable
    * t is also emitted (doubles from the same integers).
    *
    * Scale: two corpus-scoring passes and a [[Folds]]-row fold — the
    * test itself is O(folds) arithmetic on top of whatever the models
    * cost. */
  def pairedTtest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val label = Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"doc_id", ($"doc_id" % Folds).as("fold"),
        $"text".contains("spark").cast("long").as("y"))
    val predA = Round11Queries8.logisticKeepIds(spark, dir)
      .withColumn("pa", lit(1L))
    val predB = CurationQueries.scoreDocs(Tables.documents(spark, dir))
      .select($"doc_id", ($"score" >= 0.5).cast("long").as("pb"))
    val folds = label
      .join(predA, Seq("doc_id"), "left")
      .join(predB, Seq("doc_id"), "left")
      .select($"fold", $"y",
        coalesce($"pa", lit(0L)).as("pa"), coalesce($"pb", lit(0L)).as("pb"))
      .groupBy($"fold")
      .agg(count(lit(1)).as("n"),
        sum(when($"pa" === $"y", 1L).otherwise(0L)).as("ca"),
        sum(when($"pb" === $"y", 1L).otherwise(0L)).as("cb"))
      .withColumn("dq", floor(($"ca" - $"cb").cast("double")
        / $"n".cast("double") * lit(TScale.toDouble) + 0.5).cast("long"))
      .localCheckpoint(true)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val t = folds.agg(
      count(lit(1)).as("k"), sum($"dq").as("s1"),
      sum(dec($"dq") * dec($"dq")).as("s2"))
      .select($"k", $"s1", $"s2".cast("double").as("s2"), {
        // t = mean / (sd / sqrt(k)); readable double form
        val kd = $"k".cast("double")
        val s1d = $"s1".cast("double")
        val mean = s1d / kd
        val sd = sqrt(($"s2".cast("double") - s1d * s1d / kd) / (kd - 1.0))
        QueryUtil.halfUp4(mean / (sd / sqrt(kd))).as("t_stat")
      },
        // exact decision: (k-1)*S1^2*critDen > critNum*(k*S2 - S1^2)
        ((dec($"k") - 1) * dec($"s1") * dec($"s1") * lit(TCrit2Den)
          > lit(TCrit2Num) * (dec($"k") * $"s2" - dec($"s1") * dec($"s1")))
          .cast("long").as("significant"))
    folds.select($"fold", $"n", $"ca", $"cb", $"dq")
      .crossJoin(broadcast(t))
      .orderBy($"fold")
  }

  private val pairedTtestOracle = {
    // x99 scorer CTEs (the x166/x275 rendering)
    s"""WITH ${Round11Queries8.lrKeepCtes},
       |tok2 AS (
       |  SELECT doc_id, CAST(${QueryUtil.md5IntSql("concat_ws('|', 'qc', tok)", 4)} % 64 AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |w2 AS (SELECT CAST(range AS BIGINT) AS bucket,
       |        CAST(${QueryUtil.md5IntSql("concat_ws('|', 'qw', CAST(range AS VARCHAR))", 4)} % 2001 - 1000 AS BIGINT) AS w
       |      FROM range(64)),
       |scb AS (SELECT doc_id,
       |         floor((CAST(sum(w) AS DOUBLE)
       |                / (CAST(count(*) AS DOUBLE) * 1000.0)) * 10000 + 0.5)
       |           / 10000.0 AS score
       |       FROM tok2 JOIN w2 USING (bucket)
       |       GROUP BY doc_id),
       |lab AS (
       |  SELECT d.doc_id, d.doc_id % $Folds AS fold,
       |         CAST(contains(d.text, 'spark') AS BIGINT) AS y,
       |         CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pa,
       |         CASE WHEN COALESCE(s.score, -1.0) >= 0.5 THEN 1 ELSE 0 END AS pb
       |  FROM documents d
       |  LEFT JOIN lr_keep lk ON lk.doc_id = d.doc_id
       |  LEFT JOIN scb s ON s.doc_id = d.doc_id
       |  WHERE d.n_chars > 0),
       |folds AS MATERIALIZED (
       |  SELECT fold, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM lab GROUP BY fold),
       |fq AS (SELECT *, CAST(floor(CAST(ca - cb AS DOUBLE) / CAST(n AS DOUBLE)
       |           * $TScale + 0.5) AS BIGINT) AS dq
       |       FROM folds),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(dq) AS BIGINT) AS s1,
       |         CAST(sum(CAST(dq AS HUGEINT) * CAST(dq AS HUGEINT)) AS HUGEINT)
       |           AS s2
       |  FROM fq),
       |td AS (
       |  SELECT k, s1, CAST(s2 AS HUGEINT) AS s2,
       |    floor((CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
       |      / (sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
       |               / CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
       |         / sqrt(CAST(k AS DOUBLE))) * 10000 + 0.5) / 10000.0 AS t_stat,
       |    CAST(CASE WHEN (CAST(k AS HUGEINT) - 1) * CAST(s1 AS HUGEINT)
       |                   * CAST(s1 AS HUGEINT) * $TCrit2Den
       |                 > $TCrit2Num * (CAST(k AS HUGEINT) * s2
       |                   - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
       |              THEN 1 ELSE 0 END AS BIGINT) AS significant
       |  FROM t)
       |SELECT f.fold, f.n, f.ca, f.cb, f.dq,
       |       td.k, td.s1, CAST(td.s2 AS DOUBLE) AS s2, td.t_stat, td.significant
       |FROM fq f, td
       |ORDER BY f.fold""".stripMargin
  }

  // ---------------------------------------------------------------- x282

  /** x282: split conformal prediction — distribution-free intervals
    * around the q70-style OLS trend of monthly revenue: fit on the
    * even months (exact-moment slope/intercept — rationals), take
    * absolute residuals on the calibration months (m ≡ 1 mod 4), set
    * the interval half-width to the ⌈(n_c+1)·0.9⌉-th smallest residual
    * (EXACT rank selection, the conformal guarantee needs nothing
    * else), then AUDIT the promised ≥90% coverage on the disjoint test
    * months (m ≡ 3 mod 4). Every decision input is either an exact
    * integer or a double both engines derive from identical integers.
    *
    * Scale: one monthly aggregate; fit/calibrate/test are all
    * O(months) — this is how you attach guaranteed intervals to any
    * point forecast without distributional assumptions. */
  def splitConformal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables.orders(spark, dir)
      .select(((year($"o_orderdate") - 1995) * 12 + month($"o_orderdate") - 1)
        .cast("long").as("m"),
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy($"m").agg(sum($"cents").as("y"))
      .localCheckpoint(true)
    val train = monthly.filter($"m" % 2 === 0)
    val fit = train.agg(count(lit(1)).as("n"), sum($"m").as("sm"),
      sum($"y").as("sy"), sum($"m" * $"m").as("smm"),
      sum($"m" * $"y").as("smy"))
      .select(
        (($"n" * $"smy" - $"sm" * $"sy").cast("double")
          / ($"n" * $"smm" - $"sm" * $"sm").cast("double")).as("beta"),
        ($"sy".cast("double") / $"n".cast("double")).as("ybar"),
        ($"sm".cast("double") / $"n".cast("double")).as("mbar"))
      .select($"beta", ($"ybar" - $"beta" * $"mbar").as("alpha"))
    val calib = monthly.filter($"m" % 4 === 1)
      .crossJoin(broadcast(fit))
      .select($"m", abs($"y".cast("double") - ($"alpha" + $"beta" * $"m".cast("double")))
        .as("r"))
    val nc = calib.agg(count(lit(1)).as("nc"))
    val q = calib.crossJoin(broadcast(nc))
      .withColumn("rk", row_number().over(Window.orderBy($"r", $"m")))
      // k = ceil((nc+1) * 0.9) by integer arithmetic: (9*(nc+1) + 9) DIV 10
      .filter($"rk" === expr("(9 * (nc + 1) + 9) DIV 10"))
      .select($"nc", $"rk".cast("long").as("k_rank"), $"r".as("q_width"))
    val test = monthly.filter($"m" % 4 === 3)
      .crossJoin(broadcast(fit)).crossJoin(broadcast(q))
      .select($"m",
        (abs($"y".cast("double") - ($"alpha" + $"beta" * $"m".cast("double")))
          <= $"q_width").cast("long").as("covered"))
    test.agg(count(lit(1)).as("n_test"), sum($"covered").as("n_covered"))
      .crossJoin(broadcast(q))
      .crossJoin(broadcast(fit))
      .select($"nc".as("n_calib"), $"k_rank", $"n_test", $"n_covered",
        QueryUtil.halfUp4($"q_width" / 100.0).as("q_width_dollars"),
        QueryUtil.halfUp($"beta" / 100.0, 4).as("beta_dollars"),
        QueryUtil.halfUp4($"n_covered".cast("double") / $"n_test".cast("double"))
          .as("coverage"))
  }

  private val splitConformalOracle =
    """WITH monthly AS MATERIALIZED (
      |  SELECT CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
      |              AS BIGINT) AS m,
      |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      |              AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |fit AS (
      |  SELECT beta, ybar - beta * mbar AS alpha FROM (
      |    SELECT CAST(n * smy - sm * sy AS DOUBLE)
      |             / CAST(n * smm - sm * sm AS DOUBLE) AS beta,
      |           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
      |           CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mbar
      |    FROM (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS sm,
      |                 CAST(sum(y) AS BIGINT) AS sy,
      |                 CAST(sum(m * m) AS BIGINT) AS smm,
      |                 CAST(sum(m * y) AS BIGINT) AS smy
      |          FROM monthly WHERE m % 2 = 0))),
      |calib AS (
      |  SELECT m, abs(CAST(y AS DOUBLE) - (alpha + beta * CAST(m AS DOUBLE))) AS r
      |  FROM monthly, fit WHERE m % 4 = 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM calib),
      |q AS (
      |  SELECT nc, CAST(rk AS BIGINT) AS k_rank, r AS q_width FROM (
      |    SELECT r, m, nc, row_number() OVER (ORDER BY r, m) AS rk
      |    FROM calib, nn)
      |  WHERE rk = (9 * (nc + 1) + 9) // 10),
      |test AS (
      |  SELECT m, CAST(abs(CAST(y AS DOUBLE) - (alpha + beta * CAST(m AS DOUBLE)))
      |                 <= q_width AS BIGINT) AS covered
      |  FROM monthly, fit, q WHERE m % 4 = 3)
      |SELECT q.nc AS n_calib, q.k_rank,
      |       CAST(count(*) AS BIGINT) AS n_test,
      |       CAST(sum(covered) AS BIGINT) AS n_covered,
      |       floor(q.q_width / 100.0 * 10000 + 0.5) / 10000.0 AS q_width_dollars,
      |       floor(fit.beta / 100.0 * 10000 + 0.5) / 10000.0 AS beta_dollars,
      |       floor(CAST(sum(covered) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |             * 10000 + 0.5) / 10000.0 AS coverage
      |FROM test, q, fit
      |GROUP BY q.nc, q.k_rank, q.q_width, fit.beta""".stripMargin

  // ---------------------------------------------------------------- defs

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x281_paired_ttest",
      "paired 5-fold t-test (logistic vs hash-gate classifier) with exact DECIMAL(38) decision",
      pairedTtest, Some(pairedTtestOracle)),
    QueryDef("x282_split_conformal",
      "split conformal prediction intervals on the monthly OLS trend with held-out coverage audit",
      splitConformal, Some(splitConformalOracle)))
}
