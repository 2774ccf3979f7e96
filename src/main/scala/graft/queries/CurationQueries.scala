package graft.queries

import graft.{QueryDef, Tables}
import graft.queries.QueryUtil.{halfUp, halfUp4, md5Int, md5IntSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-curation tier — the model-based corpus selection operators that sit
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

  lazy val defs: Seq[QueryDef] = Seq(
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
      qualityClassifier, Some(qualityClassifierOracle)))
}
