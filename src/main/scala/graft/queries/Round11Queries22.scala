package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 twenty-second tier: estimation-from-incomplete-information
  * methods the registry still lacked — the delete-1-group JACKKNIFE
  * (deterministic resampling-free uncertainty for any ratio statistic,
  * where the bootstrap would need RNG), capture–recapture population
  * estimation (how many distinct entities exist, from two overlapping
  * deterministic samples — Chapman's nearly-unbiased variant), and the
  * Chao1 richness estimator (how many vocabulary types were NEVER
  * observed, from singleton/doubleton counts — the count-side
  * complement of x254's Good–Turing unseen MASS).
  */
object Round11Queries22 {

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

  // ---------------------------------------------------------------- x291

  /** x291: Chao1 vocabulary-richness estimator — from the corpus token
    * BIGRAM census (the unigram vocabulary is closed on this fixture —
    * zero singletons — so the estimator runs where it has signal: the
    * bigram type space, f₁≈10 / f₂≈3 at sf0.001–0.01; by sf0.1 the
    * bigram space itself saturates and the estimate correctly collapses
    * to "nothing unseen" — the three SFs DEMONSTRATE the estimator
    * converging as the corpus grows), the number of types observed once
    * (f₁) and twice (f₂) bound how many types were never seen:
    * `Chao1 = D + f₁·(f₁−1) / (2·(f₂+1))` (the bias-corrected form —
    * exact integer division). x254's Good–Turing estimates the unseen
    * probability MASS; this estimates the unseen TYPE COUNT, and x106's
    * Heaps-law fit says how it grows — together the three answer "how
    * much vocabulary is left to collect". Emitted with the frequency-
    * of-frequency head (f₁..f₃) so the estimator's inputs are pinned.
    *
    * Scale: token census → frequency-of-frequency census — two
    * hash aggregates, the second over |distinct counts| rows. */
  def chao1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // native one-pass bigrams (r16): same list as the interpreted
    // transform() lambda (concat with single space), [] for 1-token docs
    // (the old size>=2 guard)
    val types = Tables.documents(spark, dir)
      .select(explode(call_function("token_ngrams", $"text", lit(2))).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("f"))
    val fof = types.groupBy($"f").agg(count(lit(1)).as("types"))
      .localCheckpoint(true)
    fof.agg(
      sum($"types").as("d_obs"),
      sum(when($"f" === 1L, $"types").otherwise(0L)).as("f1"),
      sum(when($"f" === 2L, $"types").otherwise(0L)).as("f2"),
      sum(when($"f" === 3L, $"types").otherwise(0L)).as("f3"))
      .select($"d_obs", $"f1", $"f2", $"f3",
        ($"d_obs" + expr("f1 * (f1 - 1) DIV (2 * (f2 + 1))")).as("chao1"),
        expr("f1 * (f1 - 1) DIV (2 * (f2 + 1))").as("est_unseen"))
  }

  private val chao1Oracle =
    """WITH types AS MATERIALIZED (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS f FROM (
      |    SELECT ts[i] || ' ' || ts[i + 1] AS tok
      |    FROM (SELECT string_split(text, ' ') AS ts FROM documents),
      |         unnest(range(1, len(ts))) t(i))
      |  GROUP BY tok),
      |fof AS (SELECT f, CAST(count(*) AS BIGINT) AS types
      |        FROM types GROUP BY f)
      |SELECT CAST(sum(types) AS BIGINT) AS d_obs,
      |       CAST(sum(CASE WHEN f = 1 THEN types ELSE 0 END) AS BIGINT) AS f1,
      |       CAST(sum(CASE WHEN f = 2 THEN types ELSE 0 END) AS BIGINT) AS f2,
      |       CAST(sum(CASE WHEN f = 3 THEN types ELSE 0 END) AS BIGINT) AS f3,
      |       CAST(sum(types) AS BIGINT)
      |         + CAST(sum(CASE WHEN f = 1 THEN types ELSE 0 END)
      |                * (sum(CASE WHEN f = 1 THEN types ELSE 0 END) - 1)
      |                // (2 * (sum(CASE WHEN f = 2 THEN types ELSE 0 END) + 1))
      |           AS BIGINT) AS chao1,
      |       CAST(sum(CASE WHEN f = 1 THEN types ELSE 0 END)
      |            * (sum(CASE WHEN f = 1 THEN types ELSE 0 END) - 1)
      |            // (2 * (sum(CASE WHEN f = 2 THEN types ELSE 0 END) + 1))
      |         AS BIGINT) AS est_unseen
      |FROM fof""".stripMargin

  // ---------------------------------------------------------------- defs

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x289_jackknife_ratio",
      "delete-1-stratum jackknife SE for the urgent rate (deterministic, RNG-free uncertainty)",
      jackknifeRatio, Some(jackknifeRatioOracle)),
    QueryDef("x290_capture_recapture",
      "Chapman capture-recapture population estimate from two hash samples vs the true count",
      captureRecapture, Some(captureRecaptureOracle)),
    QueryDef("x291_chao1",
      "Chao1 unseen-vocabulary estimator from the frequency-of-frequency census",
      chao1, Some(chao1Oracle)))
}
