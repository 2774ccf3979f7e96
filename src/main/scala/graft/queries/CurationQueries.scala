package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Similarity
import QueryUtil.{halfUp, halfUp4, md5Int, md5IntSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Curation family: corpus selection and rebalancing — quality gates,
  * importance resampling, domain caps, dataset cards and rater agreement.
  *
  * Data-curation tier — the model-based corpus selection operators that sit
  * between dedup and training: DSIR-style importance weighting (Xie et al.
  * 2023: hashed-n-gram log-likelihood ratio of a target vs background
  * distribution) and a hashed-feature linear quality classifier (the
  * fasttext-shaped gate most corpus pipelines run). Both are STATELESS per
  * row plus a 64-row broadcast model — the property that makes them viable
  * at 100 TB, unlike dictionary featurizers whose vocab grows with the
  * corpus. The classifier is fully exact-integer (milli-weights, no
  * floats); DSIR's per-bucket ln() follows the x56/x59 quantize-half-up-
  * to-fixed-point-then-integer-sum recipe, with the same documented
  * residual libm-boundary risk and the hash gate as detector. */
object CurationQueries {

  private val NBuckets = 64

  /** x98: DSIR importance weights — target distribution = `lang = 'en'`
    * documents, background = the rest. Hashed-unigram bucket counts are
    * add-1 smoothed over a full 64-bucket spine (so zero-count buckets
    * contribute, exactly as the estimator requires), the per-bucket LLR
    * ln((ct·Tb)/(cb·Tt)) takes ONE ln() of a ratio of exact integer
    * products and is quantized half-up to 1e-6 fixed point, and each doc's
    * importance is the exact integer sum of its tokens' LLR_fp — the DSIR
    * resampling key. keep = sum > 0 is an integer predicate. Scale: two
    * passes of stateless hashing, one 64-row broadcast; integer products
    * stay under int64 through ~SF100 (counts < 1e8). */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .withColumn("bucket", md5Int(concat_ws("|", lit("dsir"), $"tok"), 4) % NBuckets)
    val spine = spark.range(NBuckets).select($"id".as("bucket"))
    def smoothed(df: DataFrame) = spine
      .join(df.groupBy($"bucket").agg(count(lit(1)).as("c")), Seq("bucket"), "left")
      .select($"bucket", (coalesce($"c", lit(0L)) + 1L).as("c1"))
    val ct = smoothed(tok.filter($"lang" === "en")).withColumnRenamed("c1", "ct")
    val cb = smoothed(tok.filter($"lang" =!= "en")).withColumnRenamed("c1", "cb")
    val totals = ct.join(cb, "bucket")
      .agg(sum($"ct").as("tt"), sum($"cb").as("tb"))
    val llr = ct.join(cb, "bucket").crossJoin(broadcast(totals))
      .select($"bucket",
        floor(log(($"ct" * $"tb").cast("double") / ($"cb" * $"tt").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("llr_fp"))
    tok.join(broadcast(llr), "bucket")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tok"), sum($"llr_fp").as("s_fp"))
      .select($"doc_id", $"lang", $"n_tok",
        halfUp4($"s_fp".cast("double") / ($"n_tok".cast("double") * lit(1e6)))
          .as("avg_llr"),
        ($"s_fp" > 0).as("keep"))
      .orderBy("doc_id")
  }

  private val dsirWeightsOracle =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |         CAST(${md5IntSql("concat_ws('|', 'dsir', tok)", 4)} % $NBuckets AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |spine AS (SELECT CAST(range AS BIGINT) AS bucket FROM range($NBuckets)),
       |ct AS (SELECT spine.bucket, coalesce(c, 0) + 1 AS ct FROM spine
       |       LEFT JOIN (SELECT bucket, count(*) AS c FROM tok
       |                  WHERE lang = 'en' GROUP BY bucket) t USING (bucket)),
       |cb AS (SELECT spine.bucket, coalesce(c, 0) + 1 AS cb FROM spine
       |       LEFT JOIN (SELECT bucket, count(*) AS c FROM tok
       |                  WHERE lang <> 'en' GROUP BY bucket) t USING (bucket)),
       |tot AS (SELECT sum(ct) AS tt, sum(cb) AS tb FROM ct JOIN cb USING (bucket)),
       |llr AS (SELECT bucket,
       |          CAST(floor(ln(CAST(ct * tb AS DOUBLE) / CAST(cb * tt AS DOUBLE))
       |                     * 1000000.0 + 0.5) AS BIGINT) AS llr_fp
       |        FROM ct JOIN cb USING (bucket), tot)
       |SELECT doc_id, lang, count(*) AS n_tok,
       |       floor((CAST(sum(llr_fp) AS DOUBLE)
       |              / (CAST(count(*) AS DOUBLE) * 1000000.0)) * 10000 + 0.5) / 10000.0 AS avg_llr,
       |       sum(llr_fp) > 0 AS keep
       |FROM tok JOIN llr USING (bucket)
       |GROUP BY doc_id, lang
       |ORDER BY doc_id""".stripMargin

  /** x99: hashed-feature linear quality classifier — the fasttext-shaped
    * gate, fully EXACT: tokens hash to 64 buckets ("qc" salt), each bucket
    * carries a deterministic integer milli-weight in [−1000, 1000] derived
    * by hashing the bucket id ("qw" salt — a fixed frozen model, the
    * deployment shape where weights ship as config), and a doc's score is
    * the exact integer sum of its tokens' milli-weights. score =
    * Σw/(1000·n_tok) divides two exact integers once; keep = Σw > 0 is an
    * integer predicate. No ln, no float accumulation — this classifier has
    * ZERO cross-engine risk. Scale: stateless hashing + a 64-row broadcast
    * weight table; int64 holds through any SF (|Σw| ≤ 1000·n_tok). */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    scoreDocs(Tables.documents(spark, dir))
      .orderBy("doc_id")

  /** The x99 scoring pipeline over ANY (doc_id, source, text) frame — the
    * same Column expressions run on a batch frame or per micro-batch on a
    * stream (StreamingSpec proves the parity); scoring is per-doc, so
    * batch boundaries cannot change a verdict. */
  private[graft] def scoreDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs
      .select($"doc_id", $"source", explode(split($"text", " ")).as("tok"))
      .withColumn("bucket", md5Int(concat_ws("|", lit("qc"), $"tok"), 4) % NBuckets)
    val weights = spark.range(NBuckets).select($"id".as("bucket"))
      .select($"bucket",
        (md5Int(concat_ws("|", lit("qw"), $"bucket".cast("string")), 4) % 2001 - 1000).as("w"))
    tok.join(broadcast(weights), "bucket")
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_tok"), sum($"w").as("s"))
      .select($"doc_id", $"source", $"n_tok",
        halfUp4($"s".cast("double") / ($"n_tok".cast("double") * lit(1000.0)))
          .as("score"),
        ($"s" > 0).as("keep"))
  }

  private val qualityClassifierOracle =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         CAST(${md5IntSql("concat_ws('|', 'qc', tok)", 4)} % $NBuckets AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket,
       |        CAST(${md5IntSql("concat_ws('|', 'qw', CAST(range AS VARCHAR))", 4)} % 2001 - 1000 AS BIGINT) AS w
       |      FROM range($NBuckets))
       |SELECT doc_id, source, count(*) AS n_tok,
       |       floor((CAST(sum(w) AS DOUBLE)
       |              / (CAST(count(*) AS DOUBLE) * 1000.0)) * 10000 + 0.5) / 10000.0 AS score,
       |       sum(w) > 0 AS keep
       |FROM tok JOIN w USING (bucket)
       |GROUP BY doc_id, source
       |ORDER BY doc_id""".stripMargin

  /** x100: tokenizer fertility by language — the LLM-ops metric
    * that decides whether a tokenizer is fair to a language: BPE-ish
    * subword count (q27's regex tokenizer) per whitespace word and per
    * character, aggregated per lang. A language with systematically higher
    * fertility pays more sequence length for the same content — the input
    * to vocabulary rebalancing. Exact integer sums; two final divisions.
    * Scale: stateless per-row regex + one 5-group aggregate. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang",
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe"),
        size(split($"text", " ")).cast("long").as("n_ws"),
        length($"text").cast("long").as("n_ch"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_bpe").as("bpe_tokens"),
        sum($"n_ws").as("ws_tokens"), sum($"n_ch").as("chars"))
      .select($"lang", $"n_docs", $"bpe_tokens",
        halfUp4($"bpe_tokens".cast("double") / $"ws_tokens".cast("double"))
          .as("fertility"),
        halfUp4($"bpe_tokens".cast("double") / $"chars".cast("double"))
          .as("tokens_per_char"))
      .orderBy("lang")
  }

  private val tokenizerFertilityOracle =
    """WITH t AS (SELECT lang,
      |             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
      |             CAST(length(text) AS BIGINT) AS n_ch
      |           FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
      |       floor((CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_ws) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS fertility,
      |       floor((CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_ch) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS tokens_per_char
      |FROM t
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** x106: vocabulary growth curve — Heaps'-law view of the corpus: for
    * each doc_id-ordered corpus decile, the cumulative token occurrences
    * and cumulative DISTINCT vocabulary, plus the type-token ratio. The
    * single-pass trick: a token's first appearance decile is
    * min(bucket(doc)) over its postings, so cumulative vocabulary is a
    * running sum over the 10-row first-appearance histogram — no
    * per-prefix re-scan, ONE aggregation over the token stream. Sub-linear
    * vocab growth (falling TTR) is the healthy-corpus signature; a
    * linearly growing vocabulary means unbounded junk (serial numbers,
    * hashes). Scale: one explode + one token-keyed aggregate; the decile
    * math runs on 10 rows. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mx = Tables.documents(spark, dir).agg(max($"doc_id").as("mxid"))
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .crossJoin(broadcast(mx))
      .select(expr("least((doc_id * 10) div (mxid + 1), 9)").as("decile"), $"tok")
    // ONE explode: both rollups (occurrences per decile, first-appearance
    // histogram) derive from the (tok, decile) count frame, whose groupBy
    // exchange is the shared stage AQE serves to both consumers — without
    // it the document scan + explode would run twice (the x16 lesson).
    val tg = tok.groupBy($"tok", $"decile").agg(count(lit(1)).as("c"))
    val occ = tg.groupBy($"decile").agg(sum($"c").as("n_occ"))
    val firsts = tg.groupBy($"tok").agg(min($"decile").as("decile"))
      .groupBy($"decile").agg(count(lit(1)).as("n_new"))
    val wCum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(firsts, Seq("decile"), "left")
      .select($"decile", $"n_occ", coalesce($"n_new", lit(0L)).as("n_new"))
      .withColumn("occ_cum", sum($"n_occ").over(wCum))
      .withColumn("vocab_cum", sum($"n_new").over(wCum))
      .select($"decile", $"occ_cum", $"vocab_cum",
        halfUp4($"vocab_cum".cast("double") / $"occ_cum".cast("double")).as("ttr"))
      .orderBy("decile")
  }

  private val vocabGrowthOracle =
    """WITH mx AS (SELECT max(doc_id) AS mxid FROM documents),
      |tok AS (SELECT least((doc_id * 10) // (mxid + 1), 9) AS decile, tok
      |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents), mx),
      |tg AS MATERIALIZED (SELECT tok, decile, count(*) AS c FROM tok GROUP BY tok, decile),
      |occ AS (SELECT decile, CAST(sum(c) AS BIGINT) AS n_occ FROM tg GROUP BY decile),
      |firsts AS (SELECT decile, count(*) AS n_new FROM (
      |             SELECT tok, min(decile) AS decile FROM tg GROUP BY tok)
      |           GROUP BY decile),
      |j AS (SELECT occ.decile, n_occ, coalesce(n_new, 0) AS n_new
      |      FROM occ LEFT JOIN firsts ON occ.decile = firsts.decile),
      |c AS (SELECT decile,
      |        CAST(sum(n_occ) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS occ_cum,
      |        CAST(sum(n_new) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
      |      FROM j)
      |SELECT decile, occ_cum, vocab_cum,
      |       floor((CAST(vocab_cum AS DOUBLE) / CAST(occ_cum AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS ttr
      |FROM c
      |ORDER BY decile""".stripMargin

  /** x112: score-calibration report (reliability diagram) — the eval a
    * team runs before trusting a quality gate's threshold: documents are
    * cut into score deciles (ntile over the UNROUNDED score — identical
    * doubles in both engines — tiebroken by doc_id) and each decile
    * reports its POOLED score (Σs / 1000·Σtok, an exact integer ratio —
    * never an average of per-doc doubles, which would be accumulation-
    * order-dependent) against the empirical rate of the x98 target class
    * (lang = 'en'). A well-calibrated gate shows the target rate rising
    * with the decile. Scale: the scoring pass is x99's stateless hash +
    * 64-row broadcast; the global ntile runs over the per-DOC frame
    * (already aggregated), and a deployment would range-partition that
    * window rather than single-partition it. */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .withColumn("bucket", md5Int(concat_ws("|", lit("qc"), $"tok"), 4) % NBuckets)
    val weights = spark.range(NBuckets).select($"id".as("bucket"))
      .select($"bucket",
        (md5Int(concat_ws("|", lit("qw"), $"bucket".cast("string")), 4) % 2001 - 1000).as("w"))
    val scored = tok.join(broadcast(weights), "bucket")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tok"), sum($"w").as("s"))
      .withColumn("score",
        $"s".cast("double") / ($"n_tok".cast("double") * lit(1000.0)))
    scored
      .withColumn("decile", ntile(10).over(
        org.apache.spark.sql.expressions.Window.orderBy($"score", $"doc_id")))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"s").as("ss"),
        sum($"n_tok").as("st"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"))
      .select($"decile", $"n_docs",
        halfUp4($"ss".cast("double") / ($"st".cast("double") * lit(1000.0)))
          .as("pooled_score"),
        halfUp4($"n_en".cast("double") / $"n_docs".cast("double"))
          .as("en_rate"))
      .orderBy("decile")
  }

  private val scoreCalibrationOracle =
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |         CAST(${md5IntSql("concat_ws('|', 'qc', tok)", 4)} % $NBuckets AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket,
       |        CAST(${md5IntSql("concat_ws('|', 'qw', CAST(range AS VARCHAR))", 4)} % 2001 - 1000 AS BIGINT) AS w
       |      FROM range($NBuckets)),
       |scored AS (
       |  SELECT doc_id, lang, count(*) AS n_tok, CAST(sum(w) AS BIGINT) AS s,
       |         CAST(sum(w) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000.0) AS score
       |  FROM tok JOIN w USING (bucket)
       |  GROUP BY doc_id, lang),
       |dec AS (
       |  SELECT *, ntile(10) OVER (ORDER BY score, doc_id) AS decile FROM scored)
       |SELECT decile, count(*) AS n_docs,
       |       floor((CAST(sum(s) AS DOUBLE) / (CAST(sum(n_tok) AS DOUBLE) * 1000.0)) * 10000 + 0.5) / 10000.0 AS pooled_score,
       |       floor((CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS en_rate
       |FROM dec
       |GROUP BY decile
       |ORDER BY decile""".stripMargin

  /** x113: classifier AUC — the threshold-free companion to x112's
    * reliability diagram: how well does a probe score (function-word
    * rate per mille, an exact integer) rank the target class
    * (lang = 'en')? AUC is computed by the tie-safe rank identity, all
    * in integers: scores collapse to a distinct-value distribution with
    * positive/negative counts, a cumulative window gives negatives
    * strictly below each value, and the doubled pair statistic
    * U2 = Σ pos·(2·neg_below + neg_at) counts wins twice and ties once.
    * AUC = U2 / (2·n1·n0) is one double division of exact integers;
    * Gini = 2·AUC − 1. On this synthetic corpus the score carries no
    * real signal, so AUC ≈ 0.5 — the operator's value is the exact
    * eval, not the probe. Scale: per-row scoring is stateless; the
    * window and join run on the ≤1001-row score distribution, never the
    * corpus. */
  def aucRoc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, dir).select(
      ($"lang" === "en").cast("long").as("pos"),
      call_function("div",
        lit(1000L) * size(filter(split($"text", " "),
          t => t === "the" || t === "a")),
        size(split($"text", " "))).as("s"))
    val u = aucCore(scored)
    u.select($"n_pos", $"n_neg", $"u2",
        halfUp($"u2".cast("double")
          / (lit(2.0) * ($"n_pos" * $"n_neg").cast("double")), 6).as("auc"),
        halfUp($"u2".cast("double")
          / (lit(2.0) * ($"n_pos" * $"n_neg").cast("double")) * 2.0 - 1.0, 6)
          .as("gini"))
      .orderBy("n_pos")
  }

  /** The tie-safe doubled pair statistic over any (pos ∈ {0,1}, s: long)
    * frame: one row (n_pos, n_neg, u2) with u2 = Σ over (pos, neg) pairs
    * of 2·[s_p > s_n] + [s_p = s_n] — property-tested against the brute
    * quadratic count (PropertySpec). */
  private[graft] def aucCore(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val dist = scored.groupBy($"s")
      .agg(sum($"pos").as("np"), (count(lit(1)) - sum($"pos")).as("nn"))
    val w = Window.orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, -1)
    dist
      .withColumn("below", coalesce(sum($"nn").over(w), lit(0L)))
      .agg(sum($"np").as("n_pos"), sum($"nn").as("n_neg"),
        sum($"np" * (lit(2L) * $"below" + $"nn")).as("u2"))
  }

  private val aucRocOracle =
    """WITH scored AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
      |         (1000 * len(list_filter(string_split(text, ' '),
      |                                 t -> t = 'the' OR t = 'a')))
      |           // len(string_split(text, ' ')) AS s
      |  FROM documents),
      |dist AS (
      |  SELECT s, sum(pos) AS np, count(*) - sum(pos) AS nn
      |  FROM scored GROUP BY s),
      |cum AS (
      |  SELECT np, nn,
      |         coalesce(sum(nn) OVER (ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM dist),
      |u AS (
      |  SELECT sum(np) AS n_pos, sum(nn) AS n_neg,
      |         sum(np * (2 * below + nn)) AS u2
      |  FROM cum)
      |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
      |       CAST(u2 AS BIGINT) AS u2,
      |       floor((CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos * n_neg AS DOUBLE))) * 1000000 + 0.5) / 1000000.0 AS auc,
      |       floor(((CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos * n_neg AS DOUBLE))) * 2.0 - 1.0) * 1000000 + 0.5) / 1000000.0 AS gini
      |FROM u
      |ORDER BY n_pos""".stripMargin

  /** x114: Cohen's kappa — chance-corrected agreement between two
    * annotators, the QA statistic a labeling pipeline reports before
    * trusting labels. The annotators here are two deterministic
    * heuristics (A: n_chars ≥ 300; B: ≥ 50 whitespace tokens) so the
    * whole computation is an exact confusion-matrix aggregate. Kappa is
    * algebraically cleared of fractions before any float appears:
    * κ = (n·agree − E) / (n² − E) with E = ra·ca + rd·cd the integer
    * chance-agreement numerator — one double division at the end, plus
    * po/pe reported as their own exact ratios. Scale: a single stateless
    * full scan into a 1-row frame; n² fits int64 through ~3e9 docs. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lab = Tables.documents(spark, dir).select(
      ($"n_chars" >= 300).cast("long").as("a"),
      (size(split($"text", " ")) >= 50).cast("long").as("b"))
    val m = lab.agg(count(lit(1)).as("n"),
      sum($"a" * $"b").as("n11"),
      sum($"a" * (lit(1L) - $"b")).as("n10"),
      sum((lit(1L) - $"a") * $"b").as("n01"),
      sum((lit(1L) - $"a") * (lit(1L) - $"b")).as("n00"))
    m.select($"n", ($"n11" + $"n10").as("a_yes"), ($"n11" + $"n01").as("b_yes"),
        ($"n11" + $"n00").as("agree"),
        (($"n11" + $"n10") * ($"n11" + $"n01")
          + ($"n01" + $"n00") * ($"n10" + $"n00")).as("e"))
      .select($"n", $"a_yes", $"b_yes", $"agree",
        halfUp($"agree".cast("double") / $"n".cast("double"), 4).as("po"),
        halfUp($"e".cast("double") / ($"n" * $"n").cast("double"), 4).as("pe"),
        halfUp(($"n" * $"agree" - $"e").cast("double")
          / ($"n" * $"n" - $"e").cast("double"), 6).as("kappa"))
      .orderBy("n")
  }

  private val cohensKappaOracle =
    """WITH lab AS (
      |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
      |         CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |m AS (
      |  SELECT count(*) AS n, sum(a * b) AS n11, sum(a * (1 - b)) AS n10,
      |         sum((1 - a) * b) AS n01, sum((1 - a) * (1 - b)) AS n00
      |  FROM lab),
      |k AS (
      |  SELECT n, n11 + n10 AS a_yes, n11 + n01 AS b_yes, n11 + n00 AS agree,
      |         (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS e
      |  FROM m)
      |SELECT CAST(n AS BIGINT) AS n, CAST(a_yes AS BIGINT) AS a_yes,
      |       CAST(b_yes AS BIGINT) AS b_yes, CAST(agree AS BIGINT) AS agree,
      |       floor((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS po,
      |       floor((CAST(e AS DOUBLE) / CAST(n * n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS pe,
      |       floor((CAST(n * agree - e AS DOUBLE) / CAST(n * n - e AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS kappa
      |FROM k
      |ORDER BY n""".stripMargin

  private val gopherGateOracle = {
    val rules = PipelineQueries.gopherRuleSqls
      .map { case (nm, p) => s"CAST($p AS INTEGER) AS $nm" }
      .mkString(",\n       ")
    s"""WITH ${PipelineQueries.gopherChainSql("")}
       |SELECT doc_id, CAST(n AS INTEGER) AS n_words,
       |       $rules,
       |       CAST(${PipelineQueries.gopherAllPredSql} AS INTEGER) AS keep
       |FROM g
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- x142

  /** Per-(source, lang) keep budget — bites on the large en groups of the
    * fixture while sparing small ones, so both branches are exercised. */
  private val DomainCap = 8

  /** x142: per-domain frequency cap — RefinedWeb/C4-style corpus
    * balancing: within each (source, lang) stratum keep at most
    * `DomainCap` documents, selected by a deterministic md5 hash order
    * (an unbiased "random" sample that is stable across engines, runs,
    * and partitionings — no rand()). Emits kept/dropped counts, whether
    * the cap bit, and an md5 digest of the exact survivor id set so the
    * oracle certifies the SELECTION, not just its size.
    *
    * Scale: one row_number window per stratum — a single shuffle on the
    * stratum key; the hot-domain skew this guards against (one domain =
    * 10% of a crawl) is bounded by the cap itself downstream, and the
    * window's sort is per-stratum, not global. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"lang")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source", $"lang").orderBy(md5($"doc_id".cast("string")))))
    ranked.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"rk" <= DomainCap).cast("long")).as("n_kept"),
        sum(($"rk" > DomainCap).cast("long")).as("n_dropped"),
        (max($"rk") > DomainCap).cast("int").as("cap_hit"),
        md5(array_join(transform(
          sort_array(collect_list(when($"rk" <= DomainCap, $"doc_id"))),
          x => x.cast("string")), ",")).as("kept_md5"))
      .orderBy("source", "lang")
  }

  private val domainCapOracle =
    s"""WITH r AS (SELECT doc_id, source, lang,
       |  row_number() OVER (PARTITION BY source, lang
       |                     ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
       |  FROM documents)
       |SELECT source, lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN rk <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rk > $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       CAST(max(rk) > $DomainCap AS INTEGER) AS cap_hit,
       |       md5(string_agg(CASE WHEN rk <= $DomainCap THEN CAST(doc_id AS VARCHAR) END,
       |                      ',' ORDER BY doc_id)) AS kept_md5
       |FROM r
       |GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------- x166

  /** x166's label threshold: "long document" ground truth (chars). */
  private val EceLabelChars = 300
  private val EceBins = 10

  /** x166: classifier calibration audit (reliability diagram + per-bin
    * expected-calibration-error contributions) for the x99 hashed quality
    * classifier against a score-independent ground truth (doc length ≥
    * 300 chars). Scores (in [−1, 1]) bin into 10 equal-width buckets; per
    * bin the mean predicted score and the observed positive rate are
    * compared. Determinism: the per-doc score is x99's half-up 1e-4
    * value, recovered to an exact integer (floor(score·10⁴ + ½)) BEFORE
    * the per-bin sum, so bin means are ratios of exact integers; the bin
    * index itself is integer arithmetic on that fixed-point score —
    * no float boundary can flip a bucket.
    *
    * Scale: x99's scorer is one token shuffle + a 64-row broadcast model;
    * the calibration rollup is one 10-row aggregate on top. */
  def calibrationEce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = scoreDocs(Tables.documents(spark, dir))
      .join(Tables.documents(spark, dir).select($"doc_id", $"n_chars"), "doc_id")
      .select($"doc_id",
        floor($"score" * 10000 + lit(0.5)).cast("long").as("score_fp"),
        ($"n_chars" >= EceLabelChars).cast("long").as("label"))
      .withColumn("bin",
        least(floor(($"score_fp" + 10000) * EceBins / 20000).cast("long"),
          lit(EceBins - 1L)))
    scored.groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"label").as("n_pos"),
        sum($"score_fp").as("pred_fp_sum"))
      .select($"bin", $"n_docs", $"n_pos", $"pred_fp_sum",
        halfUp4($"n_pos".cast("double") / $"n_docs".cast("double")).as("obs_rate"),
        halfUp4($"pred_fp_sum".cast("double") / ($"n_docs".cast("double") * 10000.0))
          .as("pred_mean"),
        halfUp4(abs($"n_pos".cast("double") / $"n_docs".cast("double")
          - $"pred_fp_sum".cast("double") / ($"n_docs".cast("double") * 10000.0)))
          .as("gap"))
      .orderBy("bin")
  }

  private val calibrationEceOracle = {
    val nb = 64
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         CAST(${md5IntSql("concat_ws('|', 'qc', tok)", 4)} % $nb AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket,
       |        CAST(${md5IntSql("concat_ws('|', 'qw', CAST(range AS VARCHAR))", 4)} % 2001 - 1000 AS BIGINT) AS w
       |      FROM range($nb)),
       |sc AS (SELECT doc_id,
       |         CAST(floor((floor((CAST(sum(w) AS DOUBLE)
       |                / (CAST(count(*) AS DOUBLE) * 1000.0)) * 10000 + 0.5) / 10000.0)
       |                * 10000 + 0.5) AS BIGINT) AS score_fp
       |       FROM tok JOIN w USING (bucket)
       |       GROUP BY doc_id),
       |lab AS (SELECT sc.doc_id, sc.score_fp,
       |          CAST(d.n_chars >= $EceLabelChars AS BIGINT) AS label,
       |          least((sc.score_fp + 10000) * $EceBins // 20000, ${EceBins - 1}) AS bin
       |        FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
       |SELECT bin,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(label) AS BIGINT) AS n_pos,
       |       CAST(sum(score_fp) AS BIGINT) AS pred_fp_sum,
       |       floor(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
       |         / 10000.0 AS obs_rate,
       |       floor(CAST(sum(score_fp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0)
       |             * 10000 + 0.5) / 10000.0 AS pred_mean,
       |       floor(abs(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |                 - CAST(sum(score_fp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0))
       |             * 10000 + 0.5) / 10000.0 AS gap
       |FROM lab
       |GROUP BY bin
       |ORDER BY bin""".stripMargin
  }

  /** q109: dataset card — the corpus datasheet a data-governance review
    * reads, produced in ONE grouping-sets pass: per source, per language,
    * per (source × language), and the grand total — doc counts, token
    * mass, exact-duplicate counts (corpus-wide md5 dup flag computed once
    * BEFORE the rollup, so every margin agrees with x10), and mean doc
    * length. GROUPING() bits disambiguate the margin rows (a NULL group
    * value never masquerades as a data value).
    *
    * Scale: the dup flag is one hash shuffle (x10's shape); the rollup is
    * a single Expand + aggregate — four margins for one scan. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"lang", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_tok"),
        md5($"text").as("h"))
    val dup = d.groupBy($"h").agg(count(lit(1)).as("copies"))
    // cube(source, lang) = exactly the four grouping sets the card wants
    d.join(dup, "h")
      .cube($"source", $"lang")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("tokens"),
        sum(when($"copies" > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        QueryUtil.halfUp4(avg($"n_chars")).as("mean_chars"))
      .select($"gid".cast("int").as("gid"),
        coalesce($"source", lit("ALL")).as("source"),
        coalesce($"lang", lit("ALL")).as("lang"),
        $"n_docs", $"tokens", $"n_dup_docs", $"mean_chars")
      .orderBy("gid", "source", "lang")
  }

  private val datasetCardOracle =
    """WITH d AS (SELECT doc_id, source, lang, n_chars,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |             md5(text) AS h
      |           FROM documents),
      |dup AS (SELECT h, count(*) AS copies FROM d GROUP BY h),
      |j AS (SELECT d.*, dup.copies FROM d JOIN dup USING (h))
      |SELECT CAST(GROUPING(source) * 2 + GROUPING(lang) AS INTEGER) AS gid,
      |       coalesce(source, 'ALL') AS source,
      |       coalesce(lang, 'ALL') AS lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS tokens,
      |       CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |       floor(avg(n_chars) * 10000 + 0.5) / 10000.0 AS mean_chars
      |FROM j
      |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
      |ORDER BY gid, source, lang""".stripMargin

  // ---------------------------------------------------------------- x188

  /** Documents in four n_chars buckets (doc_id, bucket), and each
    * bucket's admission ratio toward an equal share of the corpus, in 1e6
    * fixed point and capped at 1e6: (bucket, n_before, nn, ratio_fp). */
  private def lengthBucketRatios(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id",
      when($"n_chars" < 150, 0L).when($"n_chars" < 300, 1L)
        .when($"n_chars" < 450, 2L).otherwise(3L).as("bucket"))
    val before = docs.groupBy($"bucket").agg(count(lit(1)).as("n_before"))
    val total = before.agg(sum($"n_before").as("nn"))
    val ratios = before.crossJoin(broadcast(total))
      .select($"bucket", $"n_before", $"nn",
        least(lit(1000000L), expr("(nn * 1000000) div (4 * n_before)")).as("ratio_fp"))
    (docs, ratios)
  }

  /** x188: target-distribution resampling — reshape the corpus's length
    * distribution toward uniform over four length buckets by per-bucket
    * deterministic rejection. Acceptance ratio r_b = min(1, target_b /
    * observed_b) in 1e-6 fixed point; a document survives when its hash
    * residue falls under its bucket's ratio. This is the "match the
    * reference distribution" mixing knob (DoReMi/DSIR-style reweighting,
    * realized as hard subsampling): over-represented buckets are thinned
    * toward the target, under-represented ones pass through whole (a
    * sampler cannot create mass — visible in the output as ratio_fp
    * capped at 1e6 with share_after below target).
    *
    * Scale: pass 1 is a bucket histogram (4 groups); pass 2 re-scans
    * with the broadcast 4-row ratio table and filters map-side — no
    * shuffle of the corpus itself, deterministic without any coordination
    * (each row's fate is a pure function of its id). */
  def targetResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (docs, ratios) = lengthBucketRatios(spark, dir)
    val h = QueryUtil.mix31($"doc_id", 7L)
    val kept = docs
      .select($"bucket", pmod(h.bitwiseXOR(shiftright(h, 16)), lit(1000000L)).as("u"))
      .join(broadcast(ratios.select($"bucket", $"ratio_fp")), "bucket")
      .filter($"u" < $"ratio_fp")
      .groupBy($"bucket").agg(count(lit(1)).as("n_after"))
    val keptTotal = kept.agg(sum($"n_after").as("ta"))
    ratios.join(kept, Seq("bucket"), "left")
      .select($"bucket", $"n_before", $"ratio_fp",
        coalesce($"n_after", lit(0L)).as("n_after"), $"nn")
      .crossJoin(broadcast(keptTotal))
      .select($"bucket", $"n_before", $"ratio_fp", $"n_after",
        expr("(n_before * 1000000) div nn").as("share_before_fp"),
        expr("(n_after * 1000000) div ta").as("share_after_fp"))
      .orderBy($"bucket")
  }

  private val resampleOracle =
    """WITH docs AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1
      |         WHEN n_chars < 450 THEN 2 ELSE 3 END AS bucket
      |  FROM documents),
      |before0 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_before
      |            FROM docs GROUP BY bucket),
      |tot AS (SELECT CAST(sum(n_before) AS BIGINT) AS nn FROM before0),
      |ratios AS (SELECT bucket, n_before, nn,
      |             least(1000000, (nn * 1000000) // (4 * n_before)) AS ratio_fp
      |           FROM before0, tot),
      |mixed AS (
      |  SELECT bucket, xor(h3, h3 >> 16) % 1000000 AS u FROM (
      |    SELECT bucket, (xor(h1, h1 >> 13) * 2246822519) % 2147483648 AS h3 FROM (
      |      SELECT bucket, ((doc_id * 7919 + 7) % 1048576 * 2654435761)
      |                       % 2147483648 AS h1
      |      FROM docs) a) b),
      |kept AS (SELECT m.bucket, CAST(count(*) AS BIGINT) AS n_after
      |         FROM mixed m JOIN ratios r ON m.bucket = r.bucket
      |         WHERE m.u < r.ratio_fp GROUP BY m.bucket),
      |joined AS (SELECT r.bucket, r.n_before, CAST(r.ratio_fp AS BIGINT) AS ratio_fp,
      |                  CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after, r.nn
      |           FROM ratios r LEFT JOIN kept k ON r.bucket = k.bucket)
      |SELECT bucket, n_before, ratio_fp, n_after,
      |       (n_before * 1000000) // nn AS share_before_fp,
      |       CAST((n_after * 1000000) // (SELECT sum(n_after) FROM joined) AS BIGINT)
      |         AS share_after_fp
      |FROM joined ORDER BY bucket""".stripMargin

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

  // ---------------------------------------------------------------- x194

  private val SampleBudget = 100L

  /** x194: exact Neyman-allocation stratified sample — the
    * variance-optimal way to build an eval set under a fixed labeling
    * budget. Per language stratum: allocation mass N_h·σ_h computed as
    * isqrt(n·Σx² − (Σx)²) (all integer — the x174 ±1-corrected isqrt,
    * no libm), the 100-unit budget apportioned by x155's
    * largest-remainder method (sums EXACTLY to the budget), and the
    * sample DRAWN deterministically: rank documents within each stratum
    * by key hash and keep the alloc_h smallest ranks — exact per-
    * stratum counts, unlike threshold sampling's binomial noise.
    * High-variance strata get proportionally more budget, which is the
    * point of Neyman over proportional allocation.
    *
    * Scale: stratum moments are one aggregate; the rank-draw is a
    * per-stratum window over hash order — at 100 TB replace with the
    * per-partition top-k of x192's aggregate (same contract: alloc_h
    * rows survive per stratum). */
  def neymanSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"lang",
      $"n_chars".cast("long").as("x"))
    val strata = docs.groupBy($"lang").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
      .select($"lang", $"n", $"sx",
        TrainingQueries.isqrt($"n" * $"sxx" - $"sx" * $"sx").as("mass"))
    val tot = strata.agg(sum($"mass").as("mm"))
    val wRem = Window.orderBy(expr(s"($SampleBudget * mass) % mm").desc, $"lang")
    val alloc = strata.crossJoin(broadcast(tot))
      .select($"lang", $"n", $"sx", $"mass",
        expr(s"($SampleBudget * mass) div mm").as("fl"),
        row_number().over(wRem).as("rr"))
      .crossJoin(broadcast(strata.crossJoin(broadcast(tot))
        .agg((lit(SampleBudget) - sum(expr(s"($SampleBudget * mass) div mm")))
          .as("extras"))))
      .select($"lang", $"n", $"sx", $"mass",
        ($"fl" + when($"rr" <= $"extras", 1L).otherwise(0L)).as("alloc"))
    val h = QueryUtil.mix31($"doc_id", 31L)
    val wRank = Window.partitionBy($"lang")
      .orderBy(pmod(h.bitwiseXOR(shiftright(h, 16)), lit(1000000L)), $"doc_id")
    val sampled = docs
      .withColumn("rk", row_number().over(wRank))
      .join(broadcast(alloc.select($"lang", $"alloc")), "lang")
      .filter($"rk" <= $"alloc")
      .groupBy($"lang").agg(count(lit(1)).as("n_sampled"), sum($"x").as("ssx"))
    alloc.join(sampled, Seq("lang"), "left")
      .select($"lang", $"n", $"mass", $"alloc",
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        expr("sx div n").as("pop_mean_chars"),
        expr("CASE WHEN coalesce(n_sampled, 0) = 0 THEN -1 ELSE ssx div n_sampled END")
          .as("samp_mean_chars"))
      .orderBy($"lang")
  }

  private lazy val neymanOracle = {
    val mixSql = "((doc_id * 7919 + 31) % 1048576 * 2654435761) % 2147483648"
    s"""WITH docs AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x FROM documents),
       |strata AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |                  CAST(sum(x) AS BIGINT) AS sx,
       |                  ${TrainingQueries.isqrtSql(
             "CAST(count(*) AS BIGINT) * CAST(sum(x * x) AS BIGINT)" +
               " - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT)")} AS mass
       |           FROM docs GROUP BY lang),
       |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS mm FROM strata),
       |fl AS (SELECT lang, n, sx, mass,
       |              ($SampleBudget * mass) // mm AS fl,
       |              row_number() OVER (ORDER BY ($SampleBudget * mass) % mm DESC,
       |                                          lang) AS rr
       |       FROM strata, tot),
       |ex AS (SELECT $SampleBudget - sum(fl) AS extras FROM fl),
       |alloc AS (SELECT lang, n, sx, mass,
       |                 fl + (CASE WHEN rr <= extras THEN 1 ELSE 0 END) AS alloc
       |          FROM fl, ex),
       |ranked AS (SELECT doc_id, lang, x,
       |             row_number() OVER (PARTITION BY lang
       |               ORDER BY xor(h3, h3 >> 16) % 1000000, doc_id) AS rk
       |           FROM (SELECT doc_id, lang, x,
       |                   (xor(h1, h1 >> 13) * 2246822519) % 2147483648 AS h3
       |                 FROM (SELECT doc_id, lang, x, $mixSql AS h1 FROM docs) a) b),
       |samp AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sampled,
       |                CAST(sum(r.x) AS BIGINT) AS ssx
       |         FROM ranked r JOIN alloc al ON al.lang = r.lang
       |         WHERE r.rk <= al.alloc GROUP BY r.lang)
       |SELECT al.lang, n, CAST(mass AS BIGINT) AS mass, CAST(alloc AS BIGINT) AS alloc,
       |       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
       |       CAST(sx // n AS BIGINT) AS pop_mean_chars,
       |       CAST(CASE WHEN COALESCE(s.n_sampled, 0) = 0 THEN -1
       |                 ELSE s.ssx // s.n_sampled END AS BIGINT) AS samp_mean_chars
       |FROM alloc al LEFT JOIN samp s ON s.lang = al.lang
       |ORDER BY al.lang""".stripMargin
  }

  // ---------------------------------------------------------------- x196

  /** x196: inverse-propensity recovery — proves the x188 thinned sample
    * is USABLE for unbiased corpus estimates. Per length bucket: the
    * true count, the naive extrapolation (sample share × corpus size —
    * biased ~10% low on thinned buckets because the sample over-
    * represents pass-through buckets), and the Horvitz–Thompson IPW
    * estimate Σ 1/p over sampled rows (measured within ~1% of truth).
    * Selection probabilities are the x188 ratios, so the weights are
    * exact fixed-point rationals, not fitted propensities.
    *
    * Scale: two histogram passes and a broadcast ratio join — the
    * estimator adds nothing data-sized beyond the sampler itself. The
    * lesson carries: any downstream consumer of a thinned corpus can
    * weight by the stored admission ratio instead of re-reading the
    * full corpus. */
  def ipwRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (docs, ratios) = lengthBucketRatios(spark, dir)
    val h1 = pmod(pmod($"doc_id" * 7919L + lit(7L), lit(1048576L)) * 2654435761L,
      lit(2147483648L))
    val h3 = pmod(h1.bitwiseXOR(shiftright(h1, 13)) * 2246822519L, lit(2147483648L))
    val kept = docs
      .select($"bucket", pmod(h3.bitwiseXOR(shiftright(h3, 16)), lit(1000000L)).as("u"))
      .join(broadcast(ratios.select($"bucket", $"ratio_fp")), "bucket")
      .filter($"u" < $"ratio_fp")
      .groupBy($"bucket").agg(count(lit(1)).as("n_kept"))
    val keptTotal = kept.agg(sum($"n_kept").as("kk"))
    ratios.join(kept, "bucket").crossJoin(broadcast(keptTotal))
      .select($"bucket", $"n_before", $"n_kept", $"ratio_fp",
        expr("(n_kept * nn) div kk").as("naive_est"),
        expr("(n_kept * 1000000) div ratio_fp").as("ipw_est"))
      .select($"bucket", $"n_before", $"n_kept", $"ratio_fp",
        $"naive_est", $"ipw_est",
        abs($"naive_est" - $"n_before").as("err_naive"),
        abs($"ipw_est" - $"n_before").as("err_ipw"))
      .orderBy($"bucket")
  }

  private val ipwOracle =
    """WITH docs AS (SELECT doc_id,
      |    CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1
      |         WHEN n_chars < 450 THEN 2 ELSE 3 END AS bucket
      |  FROM documents),
      |b0 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_before FROM docs GROUP BY bucket),
      |tot AS (SELECT CAST(sum(n_before) AS BIGINT) AS nn FROM b0),
      |ratios AS (SELECT bucket, n_before, nn,
      |             least(1000000, (nn * 1000000) // (4 * n_before)) AS ratio_fp
      |           FROM b0, tot),
      |mixed AS (SELECT bucket, xor(h3, h3 >> 16) % 1000000 AS u FROM (
      |    SELECT bucket, (xor(h1, h1 >> 13) * 2246822519) % 2147483648 AS h3 FROM (
      |      SELECT bucket, ((doc_id * 7919 + 7) % 1048576 * 2654435761)
      |                       % 2147483648 AS h1 FROM docs) a) b),
      |kept AS (SELECT m.bucket, CAST(count(*) AS BIGINT) AS n_kept
      |         FROM mixed m JOIN ratios r ON m.bucket = r.bucket
      |         WHERE m.u < r.ratio_fp GROUP BY m.bucket),
      |kt AS (SELECT CAST(sum(n_kept) AS BIGINT) AS kk FROM kept)
      |SELECT r.bucket, r.n_before, k.n_kept, CAST(r.ratio_fp AS BIGINT) AS ratio_fp,
      |       CAST((k.n_kept * r.nn) // kk AS BIGINT) AS naive_est,
      |       CAST((k.n_kept * 1000000) // r.ratio_fp AS BIGINT) AS ipw_est,
      |       CAST(abs((k.n_kept * r.nn) // kk - r.n_before) AS BIGINT) AS err_naive,
      |       CAST(abs((k.n_kept * 1000000) // r.ratio_fp - r.n_before) AS BIGINT) AS err_ipw
      |FROM ratios r JOIN kept k ON k.bucket = r.bucket, kt
      |ORDER BY r.bucket""".stripMargin

  // ---------------------------------------------------------------- x249

  private val DsirBuckets = 64

  /** x249: DSIR — data selection via importance resampling (Xie et al.
    * 2023): score every raw document by how target-like its HASHED
    * n-gram feature distribution is, then keep the top quarter. Target =
    * the `en` slice (stand-in for "looks like the high-quality domain");
    * raw = the whole corpus. Features are token bigrams hashed to
    * [[DsirBuckets]] buckets (md5 16-bit prefix, the deterministic x53
    * recipe); per-bucket importance log-ratio
    * ln((ct+1)/(T+B) ÷ (cr+1)/(R+B)) is computed ONCE per bucket on the
    * 64-row model frame and quantized to 1e-6 fixed point — the per-doc
    * weight is then a pure INTEGER sum over the doc's bigram occurrences
    * (order-free, engine-stable; one ln per bucket, never per token).
    * Selection: top ceil(n/4) by (weight, doc_id). 100 TB: model = two
    * 64-row aggregates broadcast back onto one token pass; the selection
    * window runs on the per-doc aggregate, and at real scale the cutoff
    * comes from an approx quantile instead (q62 precedent). */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val big = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", posexplode(split($"text", " ")).as(Seq("i", "w2")))
      .withColumn("w1", lag($"w2", 1).over(w))
      .filter($"w1".isNotNull)
      .withColumn("hx", substring(md5(concat_ws("|", lit("dsir"), $"w1", $"w2")), 1, 4))
      .withColumn("bkt", conv($"hx", 16, 10).cast("long") % DsirBuckets)
    val raw = big.groupBy($"bkt").agg(count(lit(1)).as("cr"))
    val tgt = big.filter($"lang" === "en").groupBy($"bkt").agg(count(lit(1)).as("ct"))
    val tots = raw.agg(sum($"cr").as("rt"))
      .crossJoin(tgt.agg(sum($"ct").as("tt")))
    val model = raw
      .join(tgt, Seq("bkt"), "left")
      .crossJoin(broadcast(tots))
      .select($"bkt", floor(
        log((coalesce($"ct", lit(0L)) + 1).cast("double") * ($"rt" + DsirBuckets).cast("double")
          / (($"cr" + 1).cast("double") * ($"tt" + DsirBuckets).cast("double")))
          * lit(1e6) + lit(0.5)).cast("long").as("sfp"))
    val docw = big
      .join(broadcast(model), "bkt")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feat"), sum($"sfp").as("w_fp"))
    val n = docw.agg(count(lit(1)).as("n"))
    val rk = Window.orderBy($"w_fp".desc, $"doc_id")
    docw.crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(rk))
      .select($"doc_id", $"n_feat", $"w_fp",
        ($"rn" <= ceil($"n" / lit(4.0))).cast("int").as("sel"))
      .orderBy("doc_id")
  }

  private val dsirOracle = {
    val hv = (1 to 4).map(i =>
      s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |e0 AS (SELECT doc_id, lang, toks, unnest(range(2, len(toks) + 1)) AS i FROM t),
       |big0 AS (SELECT doc_id, lang,
       |           md5(concat_ws('|', 'dsir', toks[CAST(i AS INTEGER) - 1], toks[CAST(i AS INTEGER)])) AS hx
       |         FROM e0),
       |big AS (SELECT doc_id, lang, $hv % $DsirBuckets AS bkt FROM big0),
       |raw AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cr FROM big GROUP BY bkt),
       |tgt AS (SELECT bkt, CAST(count(*) AS BIGINT) AS ct FROM big WHERE lang = 'en' GROUP BY bkt),
       |tots AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS rt,
       |                (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS tt),
       |model AS (SELECT raw.bkt,
       |            CAST(floor(ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE) * CAST(tots.rt + $DsirBuckets AS DOUBLE)
       |                   / (CAST(raw.cr + 1 AS DOUBLE) * CAST(tots.tt + $DsirBuckets AS DOUBLE)))
       |                 * 1000000.0 + 0.5) AS BIGINT) AS sfp
       |          FROM raw LEFT JOIN tgt ON tgt.bkt = raw.bkt CROSS JOIN tots),
       |docw AS (SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       |                CAST(sum(model.sfp) AS BIGINT) AS w_fp
       |         FROM big JOIN model ON model.bkt = big.bkt
       |         GROUP BY big.doc_id),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docw),
       |r AS (SELECT doc_id, n_feat, w_fp,
       |        row_number() OVER (ORDER BY w_fp DESC, doc_id) AS rn
       |      FROM docw)
       |SELECT doc_id, n_feat, w_fp,
       |       CAST(CASE WHEN rn <= ceil(n.n / 4.0) THEN 1 ELSE 0 END AS INTEGER) AS sel
       |FROM r CROSS JOIN n
       |ORDER BY doc_id""".stripMargin
  }

  /** Prototype-prune drop fraction denominator (drop n/5 = top 20%). */
  private val ProtoDropDen = 5L

  // ---------------------------------------------------------------- x255

  /** x255: D4-style cluster prototype pruning (Tirumala et al. 2023 —
    * the SemDeDup-then-prune-prototypes recipe): assign every embedding
    * to its nearest fixed centroid (x34's seed quantizer, cosine argmax
    * with the repo's unrounded-ranking-key contract, cent_id
    * tie-break), rank each cluster by centroid-cosine DESCENDING (most
    * prototypical first), and drop the top 1/[[ProtoDropDen]] — the
    * near-centroid mass D4 removes because it is semantically
    * redundant. Emits the per-cluster audit: sizes, drop counts, and
    * the kept band's cosine envelope.
    *
    * Scale: one broadcast-centroid assignment pass (|corpus| x K dot
    * products, map-side — x34's shape) and one per-cluster window rank;
    * no pairwise work anywhere, which is exactly why D4 scales where
    * all-pairs semantic dedup cannot. */
  def prototypePrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv"), $"nrm".as("cn"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    val assigned = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"cent_id",
        (Similarity.dot($"embedding", $"cv") / ($"nrm" * $"cn")).as("ccos"))
      .withColumn("arn", row_number().over(wAssign)).filter($"arn" === 1)
      .select($"vec_id", $"cent_id", $"ccos")
    val wProto = Window.partitionBy($"cent_id").orderBy($"ccos".desc, $"vec_id")
    val wSize = Window.partitionBy($"cent_id")
    assigned
      .withColumn("prk", row_number().over(wProto).cast("long"))
      .withColumn("n_vecs", count(lit(1)).over(wSize))
      .withColumn("n_drop", ($"n_vecs" / ProtoDropDen).cast("long"))
      .filter($"prk" > $"n_drop")
      .groupBy($"cent_id")
      .agg(first($"n_vecs").as("n_vecs"), first($"n_drop").as("n_drop"),
        QueryUtil.halfUp4(min($"ccos")).as("min_kept"),
        QueryUtil.halfUp4(max($"ccos")).as("max_kept"))
      .orderBy("cent_id")
  }

  private val protoOracle = {
    val dot = SimilarityQueries.dotSql("e.embedding", "c.embedding")
    s"""WITH cents AS MATERIALIZED (
       |  SELECT vec_id AS cent_id, embedding,
       |         sqrt(${SimilarityQueries.dotSql("embedding", "embedding")}) AS cn
       |  FROM embeddings WHERE vec_id % 97 = 0),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cent_id, ccos FROM (
       |    SELECT e.vec_id, c.cent_id,
       |           $dot / (sqrt(${SimilarityQueries.dotSql("e.embedding", "e.embedding")}) * c.cn) AS ccos,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY $dot / (sqrt(${SimilarityQueries.dotSql("e.embedding", "e.embedding")}) * c.cn) DESC,
       |                                       c.cent_id) AS arn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE arn = 1),
       |ranked AS (
       |  SELECT cent_id, ccos,
       |         CAST(row_number() OVER (PARTITION BY cent_id
       |                                 ORDER BY ccos DESC, vec_id) AS BIGINT) AS prk,
       |         CAST(count(*) OVER (PARTITION BY cent_id) AS BIGINT) AS n_vecs
       |  FROM asg)
       |SELECT cent_id, any_value(n_vecs) AS n_vecs,
       |       any_value(n_vecs // $ProtoDropDen) AS n_drop,
       |       floor(min(ccos) * 10000 + 0.5) / 10000.0 AS min_kept,
       |       floor(max(ccos) * 10000 + 0.5) / 10000.0 AS max_kept
       |FROM ranked
       |WHERE prk > n_vecs // $ProtoDropDen
       |GROUP BY cent_id
       |ORDER BY cent_id""".stripMargin
  }

  // ---------------------------------------------------------------- x336

  /** The three deterministic "raters": each bins a document into
    * {s, m, l} by n_chars with DIFFERENT cut points, so they agree on
    * clear cases and disagree near the boundaries — a fixed, replayable
    * panel standing in for human annotators. */
  private val RaterCuts = Seq((150L, 300L), (170L, 280L), (130L, 330L))

  /** x336: Fleiss' kappa — chance-corrected agreement of a 3-rater panel
    * binning documents into short/medium/long. Per item the category
    * counts n_ic ∈ {0..3} come straight off the three threshold raters;
    * the agreement mass S2 = ΣᵢΣ_c n_ic², the category margins C_c and
    * the item count N are the whole sufficient statistic — all BIGINT.
    * κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) with P̄ = (S2 − N·n)/(N·n(n−1)),
    * P̄ₑ = Σ_c (C_c/(N·n))², computed as one identical double projection.
    * Generalizes x114 (Cohen, 2 raters) to the panel setting used for
    * LLM-judge agreement audits.
    *
    * Scale: single map-side-combinable aggregate over documents; no
    * joins, no shuffle beyond the one-row agg. */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def cat(cuts: (Long, Long)) =
      when($"n_chars" < cuts._1, "s").when($"n_chars" < cuts._2, "m").otherwise("l")
    val rated = Tables.documents(spark, dir)
      .select(cat(RaterCuts(0)).as("c1"), cat(RaterCuts(1)).as("c2"),
        cat(RaterCuts(2)).as("c3"))
    def nc(catName: String): Column =
      (when($"c1" === catName, 1L).otherwise(0L) +
        when($"c2" === catName, 1L).otherwise(0L) +
        when($"c3" === catName, 1L).otherwise(0L))
    val perItem = rated.select(nc("s").as("ns"), nc("m").as("nm"), nc("l").as("nl"))
    val agg = perItem.agg(
      count(lit(1)).as("n_items"),
      sum($"ns" * $"ns" + $"nm" * $"nm" + $"nl" * $"nl").as("s2"),
      sum($"ns").as("c_s"), sum($"nm").as("c_m"), sum($"nl").as("c_l"))
    def d(c: Column) = c.cast("double")
    val nn = d($"n_items") * lit(3.0)
    val pbar = (d($"s2") - nn) / (nn * lit(2.0))
    val pe = (d($"c_s") / nn) * (d($"c_s") / nn) + (d($"c_m") / nn) * (d($"c_m") / nn) +
      (d($"c_l") / nn) * (d($"c_l") / nn)
    val kappa = (pbar - pe) / (lit(1.0) - pe)
    agg.select($"n_items", $"s2", $"c_s", $"c_m", $"c_l",
      QueryUtil.halfUp4(pbar).as("p_bar"),
      QueryUtil.halfUp4(kappa).as("kappa"))
  }

  private val fleissKappaOracle = {
    def cat(lo: Long, hi: Long) =
      s"CASE WHEN n_chars < $lo THEN 's' WHEN n_chars < $hi THEN 'm' ELSE 'l' END"
    val (r1, r2, r3) = (cat(RaterCuts(0)._1, RaterCuts(0)._2),
      cat(RaterCuts(1)._1, RaterCuts(1)._2), cat(RaterCuts(2)._1, RaterCuts(2)._2))
    s"""WITH rated AS MATERIALIZED (
       |  SELECT $r1 AS c1, $r2 AS c2, $r3 AS c3 FROM documents),
       |per_item AS (
       |  SELECT (CASE WHEN c1 = 's' THEN 1 ELSE 0 END + CASE WHEN c2 = 's' THEN 1 ELSE 0 END
       |          + CASE WHEN c3 = 's' THEN 1 ELSE 0 END) AS ns,
       |         (CASE WHEN c1 = 'm' THEN 1 ELSE 0 END + CASE WHEN c2 = 'm' THEN 1 ELSE 0 END
       |          + CASE WHEN c3 = 'm' THEN 1 ELSE 0 END) AS nm,
       |         (CASE WHEN c1 = 'l' THEN 1 ELSE 0 END + CASE WHEN c2 = 'l' THEN 1 ELSE 0 END
       |          + CASE WHEN c3 = 'l' THEN 1 ELSE 0 END) AS nl
       |  FROM rated),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_items,
       |         CAST(sum(ns * ns + nm * nm + nl * nl) AS BIGINT) AS s2,
       |         CAST(sum(ns) AS BIGINT) AS c_s, CAST(sum(nm) AS BIGINT) AS c_m,
       |         CAST(sum(nl) AS BIGINT) AS c_l
       |  FROM per_item),
       |stat AS (
       |  SELECT *,
       |         (CAST(s2 AS DOUBLE) - CAST(n_items AS DOUBLE) * 3.0)
       |           / (CAST(n_items AS DOUBLE) * 3.0 * 2.0) AS pbar_raw,
       |         (CAST(c_s AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
       |           * (CAST(c_s AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
       |         + (CAST(c_m AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
       |           * (CAST(c_m AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
       |         + (CAST(c_l AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
       |           * (CAST(c_l AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0)) AS pe_raw
       |  FROM agg)
       |SELECT n_items, s2, c_s, c_m, c_l,
       |       floor(pbar_raw * 10000 + 0.5) / 10000.0 AS p_bar,
       |       floor((pbar_raw - pe_raw) / (1.0 - pe_raw) * 10000 + 0.5) / 10000.0 AS kappa
       |FROM stat""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x113_auc_roc",
      "tie-safe rank-identity AUC/Gini of a probe score vs the en label (exact integer pair counts)",
      aucRoc, Some(aucRocOracle)),
    QueryDef("x114_cohens_kappa",
      "Cohen's kappa annotator-agreement QA from an exact integer confusion matrix",
      cohensKappa, Some(cohensKappaOracle)),
    QueryDef("x112_score_calibration",
      "reliability diagram for the x99 gate: score deciles vs target-class rate (pooled exact ratios)",
      scoreCalibration, Some(scoreCalibrationOracle)),
    QueryDef("x106_vocab_growth",
      "Heaps'-law vocabulary growth curve by corpus decile (single-pass first-appearance histogram)",
      vocabGrowth, Some(vocabGrowthOracle)),
    QueryDef("x100_tokenizer_fertility",
      "Tokenizer fertility by language: subwords per word / per char (vocab-fairness metric)",
      tokenizerFertility, Some(tokenizerFertilityOracle)),
    QueryDef("x98_dsir_weights",
      "DSIR importance weights: hashed-unigram LLR of target-vs-background, fixed-point sums",
      dsirWeights, Some(dsirWeightsOracle)),
    QueryDef("x99_quality_classifier",
      "Hashed-feature linear quality gate with frozen integer milli-weights (fully exact)",
      qualityClassifier, Some(qualityClassifierOracle)),
    QueryDef("x123_gopher_gate",
      "Gopher quality-rule panel: five exact-integer pass/fail rules per document, all array-local (curation gate)",
      PipelineQueries.gopherGate, Some(gopherGateOracle)),
    QueryDef("x142_domain_cap",
      "per-(source,lang) frequency cap: deterministic hash-ranked keep<=K with survivor-set digest (RefinedWeb-style corpus balancing)",
      domainCap, Some(domainCapOracle)),
    QueryDef("x166_calibration_ece",
      "reliability diagram for the x99 quality classifier: fixed-point score bins, observed vs predicted, per-bin ECE gaps",
      calibrationEce, Some(calibrationEceOracle)),
    QueryDef("q109_dataset_card",
      "grouping-sets corpus datasheet: docs/tokens/exact-dup counts/mean length per source, lang, both, and total",
      datasetCard, Some(datasetCardOracle)),
    QueryDef("x188_target_resample",
      "target-distribution rejection resampling: per-bucket deterministic thinning toward a uniform length mix",
      targetResample, Some(resampleOracle)),
    QueryDef("x190_entropy_gate",
      "unigram-entropy gibberish gate (fixed-point ln recipe): per-source admission stats at 2.4 nats",
      entropyGate, Some(entropyOracle)),
    QueryDef("x194_neyman_sample",
      "exact Neyman-allocation stratified sampling: isqrt variance mass, largest-remainder budget, deterministic rank draw",
      neymanSample, Some(neymanOracle)),
    QueryDef("x196_ipw_recovery",
      "Horvitz-Thompson recovery over the x188 thinning: IPW per-bucket counts land ~1% of truth where naive extrapolation is ~10% off",
      ipwRecovery, Some(ipwOracle)),
    QueryDef("x249_dsir_select",
      "DSIR hashed-bigram importance weights + top-quarter selection",
      dsirSelect, Some(dsirOracle)),
    QueryDef("x255_prototype_prune",
      "D4-style cluster prototype pruning with per-cluster audit",
      prototypePrune, Some(protoOracle)),
    QueryDef("x336_fleiss_kappa",
      "Fleiss' kappa for a 3-rater threshold panel over documents: BIGINT agreement census, generalizes Cohen's kappa",
      fleissKappa, Some(fleissKappaOracle)))
}
