package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 twenty-eighth tier: model-governance additions — subgroup
  * fairness audit of a trained classifier (x189) and an entropy-based
  * gibberish gate (x190), completing the governance family around x166
  * (calibration), x113 (AUC), and x42 (heuristic quality). */
object Round10Queries28 {

  // ---------------------------------------------------------------- x189

  /** x189: subgroup fairness audit of the x184-trained stump — per
    * language: positive-prediction rate (demographic parity), TPR
    * (equal opportunity) and FPR, plus the corpus-wide demographic-
    * parity gap (max − min positive rate). The model is TRAINED inside
    * the query (the x184 argmin — one histogram pass, a 2-scalar model
    * collected at the driver and broadcast back as literals, the
    * standard train-then-score shape), so the audit covers the whole
    * train→score→slice chain, not a hardcoded threshold. Rates are 1e-6
    * fixed point with truncating division; undefined rates (no
    * positives / no negatives in a slice) emit −1 rather than dividing
    * by zero.
    *
    * Scale: scoring is a map-side predicate (the model is two scalars);
    * the audit is one groupBy(lang) with conditional counts and a tiny
    * max−min reduction — the same shape at 100 TB with lang replaced by
    * any protected attribute. */
  def fairnessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Round10Queries26.stumpTrain(spark, dir).head()
    val (bestT, polGe) = (m.getAs[Long]("best_t"), m.getAs[Int]("pol_ge"))
    val s = (length($"text") - length(regexp_replace($"text", " ", ""))).cast("long")
    val predPos = if (polGe == 1) s >= bestT else s < bestT
    val scored = Tables.documents(spark, dir).select($"lang",
      when(predPos, 1L).otherwise(0L).as("p"),
      when($"n_chars" >= 300, 1L).otherwise(0L).as("y"))
    val perLang = scored.groupBy($"lang").agg(
      count(lit(1)).as("n"),
      sum($"p").as("n_pred_pos"),
      sum($"y").as("n_pos"),
      sum($"p" * $"y").as("n_tp"),
      sum($"p" * (lit(1L) - $"y")).as("n_fp"))
      .select($"lang", $"n", $"n_pred_pos",
        expr("(n_pred_pos * 1000000) div n").as("pos_rate_fp"),
        expr("CASE WHEN n_pos = 0 THEN -1 ELSE (n_tp * 1000000) div n_pos END")
          .as("tpr_fp"),
        expr("CASE WHEN n - n_pos = 0 THEN -1 ELSE (n_fp * 1000000) div (n - n_pos) END")
          .as("fpr_fp"))
    val gap = perLang.agg(
      (max($"pos_rate_fp") - min($"pos_rate_fp")).as("dp_gap_fp"))
    perLang.crossJoin(broadcast(gap)).orderBy($"lang")
  }

  private val fairnessOracle =
    "WITH " + Round10Queries26.stumpCtes +
      """,
        |scored AS (
        |  SELECT lang,
        |    CASE WHEN (b.pol_ge = 1 AND
        |               length(text) - length(regexp_replace(text, ' ', '', 'g')) >= b.best_t)
        |           OR (b.pol_ge = 0 AND
        |               length(text) - length(regexp_replace(text, ' ', '', 'g')) < b.best_t)
        |         THEN 1 ELSE 0 END AS p,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        |  FROM documents, best b),
        |per_lang AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(p) AS BIGINT) AS n_pred_pos,
        |         CAST(sum(y) AS BIGINT) AS n_pos,
        |         CAST(sum(p * y) AS BIGINT) AS n_tp,
        |         CAST(sum(p * (1 - y)) AS BIGINT) AS n_fp
        |  FROM scored GROUP BY lang),
        |rates AS (
        |  SELECT lang, n, n_pred_pos,
        |         CAST((n_pred_pos * 1000000) // n AS BIGINT) AS pos_rate_fp,
        |         CAST(CASE WHEN n_pos = 0 THEN -1
        |                   ELSE (n_tp * 1000000) // n_pos END AS BIGINT) AS tpr_fp,
        |         CAST(CASE WHEN n - n_pos = 0 THEN -1
        |                   ELSE (n_fp * 1000000) // (n - n_pos) END AS BIGINT) AS fpr_fp
        |  FROM per_lang)
        |SELECT lang, n, n_pred_pos, pos_rate_fp, tpr_fp, fpr_fp,
        |       (SELECT CAST(max(pos_rate_fp) - min(pos_rate_fp) AS BIGINT)
        |        FROM rates) AS dp_gap_fp
        |FROM rates ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- x190

  private val EntropyGateFp = 2400000000L // 2.4 nats, drops the bottom ~5%

  /** x190: unigram-entropy gibberish gate — per document, the Shannon
    * entropy of its own token distribution, H = ln n − (Σ c·ln c)/n in
    * 1e-9 fixed point (the x20/x59 per-value `floor(ln·1e9 + 0.5)` ln
    * recipe, boundary margins audited in PLANS.md round 8: integer sums after
    * quantization are accumulation-order-free). Low-entropy documents
    * (collapsed vocabulary: repeated tokens, boilerplate loops, keyword
    * stuffing) fall under the 2.4-nat gate — the C4/Gopher-family
    * signal the heuristic x42 score (length/punct/stopword) cannot see.
    * Output: per-source admission stats for the gate.
    *
    * Scale: explode → per-(doc, token) counts → one groupBy(doc) — the
    * same explode+group shape as x40/x44; the per-source rollup is
    * group-cardinality-sized. No vocabulary table is needed (entropy is
    * against the doc's OWN distribution). */
  def entropyGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables.documents(spark, dir)
      .select($"doc_id", $"source", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"source", $"w").agg(count(lit(1)).as("c"))
    val h = cnt.groupBy($"doc_id", $"source")
      .agg(sum($"c").as("n"),
        sum($"c" * floor(log($"c".cast("double")) * 1e9 + 0.5).cast("long"))
          .as("slc"))
      .select($"doc_id", $"source",
        (floor(log($"n".cast("double")) * 1e9 + 0.5).cast("long")
          - expr("slc div n")).as("h_fp"))
    h.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"h_fp" >= EntropyGateFp, 1L).otherwise(0L)).as("n_kept"),
        min($"h_fp").as("min_h_fp"),
        expr("sum(h_fp) div count(*)").as("mean_h_fp"))
      .orderBy($"source")
  }

  private val entropyOracle =
    s"""WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |              FROM documents),
       |cnt AS (SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
       |        FROM toks GROUP BY doc_id, source, w),
       |h AS (SELECT doc_id, source,
       |        CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
       |        - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
       |          // CAST(sum(c) AS BIGINT) AS h_fp
       |      FROM cnt GROUP BY doc_id, source)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN h_fp >= $EntropyGateFp THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_kept,
       |       CAST(min(h_fp) AS BIGINT) AS min_h_fp,
       |       CAST(sum(h_fp) // count(*) AS BIGINT) AS mean_h_fp
       |FROM h GROUP BY source ORDER BY source""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x189_fairness_audit",
      "subgroup fairness of the trained stump: per-lang positive rate / TPR / FPR + demographic-parity gap",
      fairnessAudit, Some(fairnessOracle)),
    QueryDef("x190_entropy_gate",
      "unigram-entropy gibberish gate (fixed-point ln recipe): per-source admission stats at 2.4 nats",
      entropyGate, Some(entropyOracle)))
}
