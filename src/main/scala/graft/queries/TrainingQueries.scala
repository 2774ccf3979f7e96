package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Similarity
import QueryUtil.{halfUp4, md5Int, md5IntSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training family: models trained in the engine (perceptron, stumps,
  * logistic GD, kNN, Bradley–Terry) and their evaluation, calibration and
  * conformal coverage, plus the corpus-scoring signals they feed.
  *
  * Training-corpus preparation operators beyond the x50–x53 tier (north
  * star: LLM-data-pipeline ops the reference never had — the reference is a
  * row-at-a-time ETL script, `app/salesforce_extractor.py:153-181`, with no
  * corpus-level processing at all):
  *
  *   - x54 sliding-window chunking (training-sample windows with overlap)
  *   - x55 corpus-level chunk dedup (CCNet-style paragraph dedup, rebuilt docs)
  *   - x56 unigram-LM surprisal scoring (CCNet/KenLM-style quality signal)
  *   - x57 deterministic stratified train/val/test split
  *   - x58 Gopher-style repetition filters (top-token share, dup-bigram share)
  *
  * Every query is oracle-paired; all integer/fixed-point arithmetic is
  * accumulation-order-free so distributed Spark == sequential DuckDB. */
object TrainingQueries {

  /** Sliding-window width/stride (tokens) for x54. */
  private val WinW = 32
  private val WinS = 24

  /** Non-overlapping dedup chunk size (tokens) for x55. */
  private val DedupC = 16

  /** Gopher-style repetition thresholds for x58 (chosen to split the
    * fixture distribution: keep ≈ 60%). Comparisons run on exact rational
    * doubles (int/int), bit-identical across engines. */
  private[queries] val TopShareMax = 0.11
  private[queries] val DupBigramMax = 0.05

  /** x54: overlapping token windows per document — the standard
    * training-sample chunking pass (window W=32, stride S=24; every start
    * offset k*S < n_tok emits a window, tail windows included). Narrow
    * per-row work: split → explode window starts → slice; no shuffle until
    * the final ORDER BY (driver-facing only). 100 TB: embarrassingly
    * parallel, output is written partitioned without any order. */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(WinS)).cast("int"))).as("k"))
      .select(
        $"doc_id",
        $"k".as("chunk_idx"),
        least(lit(WinW), size($"toks") - $"k" * WinS).cast("int").as("n_tok"),
        md5(array_join(slice($"toks", $"k" * WinS + 1, lit(WinW)), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val chunkWindowsOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // $WinS) + 1)) AS k FROM t)
       |SELECT doc_id,
       |       CAST(k AS INTEGER) AS chunk_idx,
       |       CAST(least($WinW, len(toks) - k * $WinS) AS INTEGER) AS n_tok,
       |       md5(array_to_string(list_slice(toks, k * $WinS + 1, k * $WinS + $WinW), ' ')) AS chunk_md5
       |FROM e
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** x55: corpus-level exact chunk dedup (CCNet-style "paragraph" dedup):
    * documents are cut into non-overlapping 16-token chunks, each chunk
    * keeps only its FIRST occurrence corpus-wide (first = min (doc_id,
    * chunk_idx)), and documents are rebuilt from their surviving chunks.
    * The survivor choice is a row_number over the chunk text — at 100 TB
    * this is one hash-partitioned shuffle on the chunk (the same shape as
    * x10 exact doc dedup), and the rebuild is a per-doc ordered fold. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(DedupC)).cast("int"))).as("k"))
      .select($"doc_id", $"k",
        array_join(slice($"toks", $"k" * DedupC + 1, lit(DedupC)), " ").as("chunk"))
    val w = Window.partitionBy($"chunk").orderBy($"doc_id", $"k")
    chunks
      .withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when($"rn" === 1, 1).otherwise(0)).cast("int").as("n_kept"),
        md5(array_join(
          transform(
            sort_array(collect_list(when($"rn" === 1, struct($"k", $"chunk")))),
            s => s.getField("chunk")),
          " ")).as("kept_md5"))
      .orderBy("doc_id")
  }

  private val chunkDedupOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // $DedupC) + 1)) AS k FROM t),
       |c AS (SELECT doc_id, k,
       |        array_to_string(list_slice(toks, k * $DedupC + 1, k * $DedupC + $DedupC), ' ') AS chunk
       |      FROM e),
       |r AS (SELECT doc_id, k, chunk,
       |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, k) AS rn
       |      FROM c)
       |SELECT doc_id,
       |       CAST(count(*) AS INTEGER) AS n_chunks,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
       |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY k), '')) AS kept_md5
       |FROM r
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** x56: unigram-LM surprisal scoring (the shape of CCNet's KenLM
    * perplexity filter, with a corpus-trained unigram model): train token
    * frequencies over the whole corpus, then score each document by its
    * mean per-token surprisal -ln p(tok). Per-token surprisal is quantized
    * HALF-UP to 1e-6 fixed point BEFORE the per-doc sum, so the document
    * sum is an integer sum — accumulation-order-free, hence bit-identical
    * between Spark's partitioned aggregation and DuckDB's sequential scan
    * (the same trick as the x35 trained centroids). The quantization still
    * evaluates libm ln() per token first — a sub-ulp JVM-vs-DuckDB log
    * difference landing exactly on a floor boundary would flip one sfp by
    * 1 (latent, data-dependent; the hash gate is the detector). 100 TB:
    * the model is a vocab-sized table broadcast to a narrow join; two
    * passes over the corpus, no wide shuffle. */
  /** Exact per-doc surprisal sums (doc_id, n_tok, sum_fp) — shared by the
    * x56 report (which rounds for display) and the x359 capstone gate
    * (which filters on the EXACT rational so Spark and the oracle decide
    * identically at the threshold). */
  private[queries] def surprisalScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val vocab = tok.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum($"cnt").as("total"))
    val model = vocab.crossJoin(broadcast(total))
      .select($"tok",
        floor((-log($"cnt".cast("double") / $"total")) * lit(1e6) + lit(0.5))
          .cast("long").as("sfp"))
    tok.join(broadcast(model), "tok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("int").as("n_tok"), sum($"sfp").as("sum_fp"))
  }

  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    surprisalScores(spark, dir)
      .select($"doc_id", $"n_tok",
        halfUp4($"sum_fp".cast("double") / 1e6 / $"n_tok").as("avg_surprisal"))
      .orderBy("doc_id")
  }

  private val unigramSurprisalOracle =
    s"""WITH $surCtes
       |SELECT doc_id, n_tok,
       |       floor((CAST(sum_fp AS DOUBLE) / 1000000.0 / n_tok) * 10000 + 0.5) / 10000.0 AS avg_surprisal
       |FROM sur
       |ORDER BY doc_id""".stripMargin

  /** 16-bit integer from the first 4 hex chars of md5 — same cross-engine
    * idiom as the x53 mixture hash (PipelineQueries), salted differently. */
  private def splitHashCol = md5Int(concat_ws("|", lit("split"), col("doc_id")), 4)
  private val splitHashSql = md5IntSql("concat_ws('|', 'split', CAST(doc_id AS VARCHAR))", 4)

  /** x57: deterministic stratified train/val/test split — each doc lands in
    * a split by 16 bits of a salted md5 (~80/10/10), reproducible across
    * engines, reruns, and partitionings (rand()-based splits are none of
    * those). Output is the per-(lang, split) audit with within-lang shares.
    * 100 TB: a narrow per-row flag plus a tiny aggregate; the split corpus
    * itself is the same predicate with no shuffle at all. */
  def stratifiedSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val split3 = when(splitHashCol < 52429, "train")
      .when(splitHashCol < 58982, "val")
      .otherwise("test")
    Tables.documents(spark, dir)
      .select($"lang", split3.as("split"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).cast("int").as("n"))
      .withColumn("share",
        halfUp4($"n".cast("double") / sum($"n").over(Window.partitionBy($"lang")).cast("double")))
      .orderBy("lang", "split")
  }

  private val stratifiedSplitOracle =
    s"""WITH s AS (SELECT lang,
       |        CASE WHEN $splitHashSql < 52429 THEN 'train'
       |             WHEN $splitHashSql < 58982 THEN 'val'
       |             ELSE 'test' END AS split
       |      FROM documents),
       |g AS (SELECT lang, split, CAST(count(*) AS INTEGER) AS n FROM s GROUP BY lang, split)
       |SELECT lang, split, n,
       |       floor((CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS share
       |FROM g
       |ORDER BY lang, split""".stripMargin

  /** x58: Gopher-style repetition filters — per document, the share of the
    * single most frequent token and the share of duplicate bigrams; a doc
    * is kept when both are under threshold. The keep decision compares
    * EXACT rationals (int/int in double — bit-identical across engines);
    * only the reported shares are rounded. 100 TB: both signals are
    * per-doc token aggregations — one hash shuffle keyed by (doc, token)
    * whose width is bounded by per-doc vocab, not corpus vocab. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val tokAgg = docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(sum($"c").as("n_tok"), max($"c").as("top_c"))
    // native one-pass bigrams (r16): identical adjacent-pair list joined
    // with one space; [] for 1-token docs (the old when() guard). The
    // lambda form paid two element_at + concat through the HOF interpreter
    // per pair — and this path runs inside every capstone via
    // repetitionKeepIds, so the win compounds.
    val bgAgg = docs
      .select($"doc_id", explode(call_function("token_ngrams", $"text", lit(2))).as("bg"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bg"), countDistinct($"bg").as("n_dist"))
    val topShare = $"top_c".cast("double") / $"n_tok".cast("double")
    val dupShare = when($"n_bg".isNull || $"n_bg" === 0, lit(0.0))
      .otherwise(lit(1.0) - $"n_dist".cast("double") / $"n_bg".cast("double"))
    tokAgg.join(bgAgg, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"n_tok".cast("int").as("n_tok"),
        halfUp4(topShare).as("top_share"),
        halfUp4(dupShare).as("dup_bigram_share"),
        (topShare <= TopShareMax && dupShare <= DupBigramMax).as("keep"))
      .orderBy("doc_id")
  }

  private val repetitionStatsOracle =
    s"""WITH $repCtes
       |SELECT doc_id, n_tok,
       |       floor(top_share * 10000 + 0.5) / 10000.0 AS top_share,
       |       floor(dup_share * 10000 + 0.5) / 10000.0 AS dup_bigram_share,
       |       (top_share <= $TopShareMax AND dup_share <= $DupBigramMax) AS keep
       |FROM rep_m
       |ORDER BY doc_id""".stripMargin

  /** Per-language sample size for x59. */
  private val WSampleK = 12

  /** x59: deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis): each doc draws u from a salted 16-bit hash and
    * ranks by u^(1/w) with weight w = n_chars — longer docs
    * proportionally likelier, no rand(), reproducible across engines,
    * reruns, and partitionings. Ranking uses the monotone-equivalent
    * ln(u)/w with ln(u) quantized HALF-UP to 1e-9 fixed point first, so
    * the sort key is a ratio of exact integers. Residual risk, stated
    * honestly: the quantization itself still evaluates libm ln() — a
    * sub-ulp JVM-vs-DuckDB log difference landing exactly on a floor
    * boundary would flip lnfp by 1; the hash gate is the detector. An
    * exhaustive round-8 audit over the full 16-bit hash lattice (PLANS.md
    * round 8) found the closest y ever gets to a floor boundary is
    * 9 ulps — a flip needs a 9-ulp cross-libm ln()
    * divergence; real pairs differ by ≤1–2.
    * Empty docs (n_chars = 0) are excluded BEFORE the ratio — Spark's
    * Divide yields NULL where DuckDB yields -infinity, so the guard is
    * mirrored in the oracle. Top-K per language. 100 TB: narrow per-row
    * keys + a per-group top-K (WindowGroupLimit prunes per partition
    * before the shuffle). */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = md5Int(concat_ws("|", lit("wsample"), col("doc_id")), 4)
    val u = (h.cast("double") + lit(0.5)) / lit(65536.0)
    val lnfp = floor(log(u) * lit(1e9) + lit(0.5)).cast("long")
    val w = Window.partitionBy($"lang").orderBy($"key".desc, $"doc_id")
    Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"lang", $"doc_id", $"n_chars",
        (lnfp.cast("double") / $"n_chars".cast("double")).as("key"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= WSampleK)
      .select($"lang", $"rk", $"doc_id", $"n_chars")
      .orderBy("lang", "rk")
  }

  private val weightedSampleOracle = {
    val h = md5IntSql("concat_ws('|', 'wsample', CAST(doc_id AS VARCHAR))", 4)
    s"""WITH k AS (SELECT lang, doc_id, n_chars,
       |        CAST(floor(ln((CAST($h AS DOUBLE) + 0.5) / 65536.0) * 1000000000.0 + 0.5) AS BIGINT) AS lnfp
       |      FROM documents WHERE n_chars > 0),
       |r AS (SELECT lang, doc_id, n_chars,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY CAST(lnfp AS DOUBLE) / CAST(n_chars AS DOUBLE) DESC, doc_id) AS rk
       |      FROM k)
       |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, n_chars
       |FROM r
       |WHERE rk <= $WSampleK
       |ORDER BY lang, rk""".stripMargin
  }

  /** Oracle CTE fragments for composition (used by the x56/x58 oracles
    * here and the x359 capstone in PipelineQueries — one definition, no
    * drift between the standalone queries and the composed pipeline). */
  private[queries] def surCtes: String =
    """sur_tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |sur_v AS (SELECT tok, count(*) AS cnt FROM sur_tok GROUP BY tok),
      |sur_tot AS (SELECT sum(cnt) AS total FROM sur_v),
      |sur_m AS (SELECT tok,
      |        CAST(floor((-ln(CAST(cnt AS DOUBLE) / total)) * 1000000.0 + 0.5) AS BIGINT) AS sfp
      |      FROM sur_v, sur_tot),
      |sur AS (SELECT t.doc_id, CAST(count(*) AS INTEGER) AS n_tok, sum(m.sfp) AS sum_fp
      |        FROM sur_tok t JOIN sur_m m ON t.tok = m.tok
      |        GROUP BY t.doc_id)""".stripMargin

  private[queries] def repCtes: String =
    """rep_t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |rep_c AS (SELECT doc_id, tok, count(*) AS c
      |      FROM (SELECT doc_id, unnest(toks) AS tok FROM rep_t)
      |      GROUP BY doc_id, tok),
      |rep_a AS (SELECT doc_id, sum(c) AS n_tok, max(c) AS top_c FROM rep_c GROUP BY doc_id),
      |rep_b AS (SELECT doc_id,
      |        len(bgs) AS n_bg,
      |        len(list_distinct(bgs)) AS n_dist
      |      FROM (SELECT doc_id,
      |              list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bgs
      |            FROM rep_t)),
      |rep_m AS (SELECT a.doc_id,
      |        CAST(a.top_c AS DOUBLE) / CAST(a.n_tok AS DOUBLE) AS top_share,
      |        CASE WHEN b.n_bg IS NULL OR b.n_bg = 0 THEN 0.0
      |             ELSE 1.0 - CAST(b.n_dist AS DOUBLE) / CAST(b.n_bg AS DOUBLE) END AS dup_share,
      |        CAST(a.n_tok AS INTEGER) AS n_tok
      |      FROM rep_a a LEFT JOIN rep_b b ON a.doc_id = b.doc_id)""".stripMargin

  /** x85: temperature-scaled language rebalancing (α = 0.5) — the standard
    * multilingual trick (XLM-R-style exponential smoothing): resample so
    * language s's share goes from p_s to ∝ p_s^α, flattening the
    * English-heavy head without discarding tail languages (α=1 keeps the
    * natural mix, α=0 is uniform). With α = 1/2 the keep-rate is
    * r_s = sqrt(n_min/n_s) (the rarest language keeps everything, one 4×
    * bigger keeps half), and the keep decision for a doc with 16-bit
    * salted hash h is
    *
    *   h/65536 < sqrt(n_min/n_s)  ⇔  h² · n_s < 65536² · n_min
    *
    * — an EXACT integer predicate: unlike thresholding a float rate, the
    * α=1/2 square root cancels by squaring both sides, so selection has
    * no rounding boundary at all (the x53 integer-threshold idiom,
    * extended to data-dependent rates). Expected kept ∝ sqrt(n_s), i.e.
    * exactly the temperature-α target. 100 TB: per-language counts are a
    * tiny broadcast; the gate is then a narrow per-row predicate — no
    * shuffle on the corpus itself, one small audit aggregate. */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_in"))
    val nmin = counts.agg(min($"n_in").as("n_min"))
    val hv = md5Int(concat_ws("|", lit("tmix"), $"doc_id"), 4)
    docs.select($"lang", hv.as("hv"))
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(nmin))
      .withColumn("kept",
        ($"hv" * $"hv" * $"n_in" < lit(4294967296L) * $"n_min").cast("int"))
      .groupBy($"lang", $"n_in", $"n_min")
      .agg(sum($"kept").as("n_kept"))
      .select($"lang", $"n_in", $"n_kept",
        halfUp4(sqrt($"n_min".cast("double") / $"n_in".cast("double"))).as("rate4"))
      .orderBy("lang")
  }

  private val temperatureMixtureOracle = {
    val hv = md5IntSql("concat_ws('|', 'tmix', CAST(doc_id AS VARCHAR))", 4)
    s"""WITH c AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY lang),
       |m AS (SELECT min(n_in) AS n_min FROM c),
       |d AS (SELECT lang, $hv AS hv FROM documents),
       |k AS (SELECT d.lang, c.n_in, m.n_min,
       |        CASE WHEN d.hv * d.hv * c.n_in < 4294967296 * m.n_min THEN 1 ELSE 0 END AS kept
       |      FROM d JOIN c ON d.lang = c.lang, m)
       |SELECT lang, n_in, CAST(sum(kept) AS BIGINT) AS n_kept,
       |       floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_in AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS rate4
       |FROM k
       |GROUP BY lang, n_in, n_min
       |ORDER BY lang""".stripMargin
  }

  /** Interpolation weight for the x88 bigram LM (λ and 1−λ are exact
    * binary doubles, so the mixture arithmetic is engine-stable). */
  private val BigramLambda = 0.75

  /** x88: interpolated bigram-LM surprisal — the next step up from x56's
    * unigram scorer and the shape of a real CCNet/KenLM-style perplexity
    * filter: token i is scored by
    * p = λ·P(cur|prev) + (1−λ)·P(cur), with the pure unigram P(cur) for
    * the first token. Scoring the training corpus itself means every
    * bigram is in the model (no zero-prob smoothing case). Per-token
    * surprisal −ln p is quantized HALF-UP to 1e-6 fixed point BEFORE the
    * per-doc sum (order-free integer sums — the x56 trick; ln() libm
    * boundary risk stated there applies here too). 100 TB: both models
    * are vocab-bounded (unigram |V|, bigram ≤ |V|², Heaps-sublinear in
    * practice) and broadcast; the token stream shuffles once on doc_id
    * for the prev-token window, then never again. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "cur")))
      .withColumn("prev", lag($"cur", 1).over(w))
    val c1 = tok.groupBy($"cur".as("w")).agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum($"c1").as("t"))
    val c2 = tok.filter($"prev".isNotNull)
      .groupBy($"prev".as("pw"), $"cur".as("cw")).agg(count(lit(1)).as("c2"))
    val p = when($"prev".isNull,
        $"cc".cast("double") / $"t".cast("double"))
      .otherwise(lit(BigramLambda) * ($"c2".cast("double") / $"pc".cast("double"))
        + lit(1.0 - BigramLambda) * ($"cc".cast("double") / $"t".cast("double")))
    tok
      .join(broadcast(c1.select($"w".as("cur"), $"c1".as("cc"))), "cur")
      .join(broadcast(c1.select($"w".as("prev"), $"c1".as("pc"))), Seq("prev"), "left")
      .join(broadcast(c2.select($"pw".as("prev"), $"cw".as("cur"), $"c2")), Seq("prev", "cur"), "left")
      .crossJoin(broadcast(tot))
      .select($"doc_id", floor(-log(p) * lit(1e6) + lit(0.5)).cast("long").as("sfp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("int").as("n_tok"), sum($"sfp").as("sum_fp"))
      .select($"doc_id", $"n_tok",
        halfUp4($"sum_fp".cast("double") / 1e6 / $"n_tok").as("avg_surprisal2"))
      .orderBy("doc_id")
  }

  private val bigramSurprisalOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
       |e AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS cur,
       |        CASE WHEN i > 1 THEN toks[CAST(i AS INTEGER) - 1] END AS prev
       |      FROM e0),
       |c1 AS (SELECT cur AS w, CAST(count(*) AS BIGINT) AS c1 FROM e GROUP BY cur),
       |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM c1),
       |c2 AS (SELECT prev AS pw, cur AS cw, CAST(count(*) AS BIGINT) AS c2
       |       FROM e WHERE prev IS NOT NULL GROUP BY prev, cur),
       |sc AS (SELECT e.doc_id,
       |        CAST(floor(-ln(
       |          CASE WHEN e.prev IS NULL
       |               THEN CAST(cu.c1 AS DOUBLE) / CAST(tot.t AS DOUBLE)
       |               ELSE $BigramLambda * (CAST(b.c2 AS DOUBLE) / CAST(pv.c1 AS DOUBLE))
       |                    + ${1.0 - BigramLambda} * (CAST(cu.c1 AS DOUBLE) / CAST(tot.t AS DOUBLE)) END)
       |          * 1000000.0 + 0.5) AS BIGINT) AS sfp
       |       FROM e
       |       JOIN c1 cu ON cu.w = e.cur
       |       LEFT JOIN c1 pv ON pv.w = e.prev
       |       LEFT JOIN c2 b ON b.pw = e.prev AND b.cw = e.cur
       |       CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tok,
       |       floor((CAST(sum(sfp) AS DOUBLE) / 1000000.0 / count(*)) * 10000 + 0.5) / 10000.0 AS avg_surprisal2
       |FROM sc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** x22: CCNet-style perplexity bucketing — split the corpus into
    * head/middle/tail thirds by mean unigram surprisal (CCNet trains
    * downstream models per bucket and drops or down-weights the tail).
    * Rank key = the EXACT rational sum_fp/n_tok (x56's order-free integer
    * sum over the quantized per-token surprisals → identical doubles both
    * engines), tie-broken by doc_id; ntile(3) has identical semantics in
    * Spark and DuckDB (earlier buckets take the extras). 100 TB: one
    * global ntile is a sort by the score — at real scale the same split
    * comes from approx quantile cutpoints; the fixture-exact form keeps
    * the oracle bit-exact. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy(
      ($"sum_fp".cast("double") / $"n_tok".cast("double")).asc, $"doc_id".asc)
    surprisalScores(spark, dir)
      .withColumn("bucket3", ntile(3).over(w))
      .select($"doc_id",
        when($"bucket3" === 1, "head").when($"bucket3" === 2, "middle")
          .otherwise("tail").as("bucket"),
        halfUp4($"sum_fp".cast("double") / 1e6 / $"n_tok").as("avg_surprisal"))
      .orderBy("doc_id")
  }

  private val perplexityBucketsOracle =
    s"""WITH $surCtes,
       |b AS (SELECT doc_id, n_tok, sum_fp,
       |        ntile(3) OVER (ORDER BY CAST(sum_fp AS DOUBLE) / CAST(n_tok AS DOUBLE) ASC, doc_id ASC) AS bucket3
       |      FROM sur)
       |SELECT doc_id,
       |       CASE WHEN bucket3 = 1 THEN 'head' WHEN bucket3 = 2 THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |       floor((CAST(sum_fp AS DOUBLE) / 1000000.0 / n_tok) * 10000 + 0.5) / 10000.0 AS avg_surprisal
       |FROM b
       |ORDER BY doc_id""".stripMargin

  /** x23: corpus drift monitor — Jensen–Shannon divergence between the
    * existing corpus's token distribution (sources src0..src9, x17's
    * split) and the incoming batch's (src10..src19), plus the 5 most
    * drifted tokens: the check a production intake runs before admitting
    * a batch wholesale (JS is symmetric, bounded by ln 2, and defined
    * even where one side has zero mass — 0·ln 0 = 0). Per-token JS
    * contributions quantize HALF-UP to 1e-9 fixed point before the
    * integer total (order-free; ln() libm caveat as in x56); the drift
    * ranking key |p−q| is an exact-rational double, unrounded (ranking
    * keys are never rounded), tie-broken by token. 100 TB: two
    * vocab-bounded aggregations and a full-outer merge on the token —
    * nothing corpus-sized shuffles twice. */
  def distDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snum = substring($"source", 4, 10).cast("int")
    val tok = Tables.documents(spark, dir)
      .select((snum < 10).as("ref"), explode(split($"text", " ")).as("tok"))
    val p = tok.filter($"ref").groupBy($"tok").agg(count(lit(1)).as("cp"))
    val q = tok.filter(!$"ref").groupBy($"tok").agg(count(lit(1)).as("cq"))
    val np = p.agg(sum($"cp").as("np"))
    val nq = q.agg(sum($"cq").as("nq"))
    val merged = p.join(q, Seq("tok"), "full")
      .select($"tok", coalesce($"cp", lit(0L)).as("cp"), coalesce($"cq", lit(0L)).as("cq"))
      .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
      .select($"tok",
        ($"cp".cast("double") / $"np".cast("double")).as("ps"),
        ($"cq".cast("double") / $"nq".cast("double")).as("qs"))
    val m = ($"ps" + $"qs") / 2.0
    val term = when($"ps" > 0.0, $"ps" * log($"ps" / m) * 0.5).otherwise(0.0) +
      when($"qs" > 0.0, $"qs" * log($"qs" / m) * 0.5).otherwise(0.0)
    val scored = merged
      .select($"tok", $"ps", $"qs",
        floor(term * lit(1e9) + lit(0.5)).cast("long").as("js_fp"))
    val total = scored.agg(sum($"js_fp").as("tot_fp"))
    val wTop = Window.orderBy(abs($"ps" - $"qs").desc, $"tok")
    scored
      .withColumn("rk", row_number().over(wTop))
      .filter($"rk" <= 5)
      .crossJoin(broadcast(total))
      .select($"rk", $"tok",
        halfUp4($"ps").as("p4"), halfUp4($"qs").as("q4"),
        halfUp4(abs($"ps" - $"qs")).as("drift4"),
        ($"tot_fp".cast("double") / 1e9).as("js"))
      .orderBy("rk")
  }

  private val distDriftOracle = {
    val snum = "TRY_CAST(substr(source, 4, 10) AS INTEGER)"
    s"""WITH tok AS (SELECT ($snum < 10) AS ref, unnest(string_split(text, ' ')) AS tok
       |             FROM documents),
       |p AS (SELECT tok, CAST(count(*) AS BIGINT) AS cp FROM tok WHERE ref GROUP BY tok),
       |q AS (SELECT tok, CAST(count(*) AS BIGINT) AS cq FROM tok WHERE NOT ref GROUP BY tok),
       |np AS (SELECT CAST(sum(cp) AS BIGINT) AS np FROM p),
       |nq AS (SELECT CAST(sum(cq) AS BIGINT) AS nq FROM q),
       |mg AS (SELECT coalesce(p.tok, q.tok) AS tok,
       |         CAST(coalesce(p.cp, 0) AS DOUBLE) / np.np AS ps,
       |         CAST(coalesce(q.cq, 0) AS DOUBLE) / nq.nq AS qs
       |       FROM p FULL JOIN q ON p.tok = q.tok, np, nq),
       |sc AS (SELECT tok, ps, qs,
       |         CAST(floor((
       |           CASE WHEN ps > 0.0 THEN ps * ln(ps / ((ps + qs) / 2.0)) * 0.5 ELSE 0.0 END
       |           + CASE WHEN qs > 0.0 THEN qs * ln(qs / ((ps + qs) / 2.0)) * 0.5 ELSE 0.0 END)
       |           * 1000000000.0 + 0.5) AS BIGINT) AS js_fp
       |       FROM mg),
       |tot AS (SELECT CAST(sum(js_fp) AS BIGINT) AS tot_fp FROM sc),
       |r AS (SELECT tok, ps, qs, row_number() OVER (ORDER BY abs(ps - qs) DESC, tok) AS rk
       |      FROM sc)
       |SELECT CAST(rk AS INTEGER) AS rk, tok,
       |       floor(ps * 10000 + 0.5) / 10000.0 AS p4,
       |       floor(qs * 10000 + 0.5) / 10000.0 AS q4,
       |       floor(abs(ps - qs) * 10000 + 0.5) / 10000.0 AS drift4,
       |       CAST(tot.tot_fp AS DOUBLE) / 1000000000.0 AS js
       |FROM r, tot
       |WHERE rk <= 5
       |ORDER BY rk""".stripMargin
  }

  /** x20: skip-gram PMI/PPMI co-occurrence statistics — the classic
    * distributional-semantics training signal (word2vec's implicit matrix,
    * Levy & Goldberg 2014). Pairs are unordered within a ±2 token window,
    * self-pairs excluded; PMI(a,b) = ln(c_ab·T / (c_a·c_b)) over the pair
    * multiset, quantized half-up to 1e-6 fixed point (libm-ln caveat as in
    * x56; the hash gate is the detector). Ranked by signed PMI — on this
    * fixture's ~40-token near-uniform vocabulary the positive tail is
    * nearly empty, so the ranking carries the signal; PPMI = max(PMI, 0)
    * is emitted alongside. Scale (100 TB): pair generation is ARRAY-LOCAL
    * (two shifted `slice`+`zip_with` passes per row — no token self-join,
    * zero shuffle); the only shuffles are the two vocab²-bounded groupBys,
    * and marginals/total are vocab-sized broadcasts. */
  def pmiCooccur(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cab = TextQueries.windowPairs(Tables.documents(spark, dir))
      .groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
      .localCheckpoint(true) // referenced 3x: total, marginals, scoring
    val tot = cab.agg(sum($"cab").as("t"))
    val marg = cab.select(explode(array($"a", $"b")).as("tok"), $"cab")
      .groupBy($"tok").agg(sum($"cab").as("c"))
    cab.filter($"cab" >= 2)
      .join(broadcast(marg.select($"tok".as("a"), $"c".as("ca"))), "a")
      .join(broadcast(marg.select($"tok".as("b"), $"c".as("cb"))), "b")
      .crossJoin(broadcast(tot))
      .select($"a", $"b", $"cab".as("pair_cnt"),
        floor(log($"cab".cast("double") * $"t" / ($"ca" * $"cb")) * lit(1e6) + lit(0.5))
          .cast("long").as("pmi_fp"))
      .select($"a", $"b", $"pair_cnt", $"pmi_fp",
        ($"pmi_fp" / lit(1e6)).as("pmi"),
        (greatest($"pmi_fp", lit(0L)) / lit(1e6)).as("ppmi"))
      .orderBy($"pmi_fp".desc, $"a", $"b")
      .limit(50)
  }

  private val pmiCooccurOracle =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tokpos AS MATERIALIZED (
      |  SELECT doc_id, pos, toks[pos] AS tok FROM (
      |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM base)),
      |pr AS MATERIALIZED (
      |  SELECT least(l.tok, r.tok) AS a, greatest(l.tok, r.tok) AS b
      |  FROM tokpos l JOIN tokpos r
      |    ON l.doc_id = r.doc_id AND r.pos > l.pos AND r.pos <= l.pos + 2
      |  WHERE l.tok <> r.tok),
      |cab AS MATERIALIZED (SELECT a, b, count(*) AS cab FROM pr GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(cab) AS BIGINT) AS t FROM cab),
      |marg AS MATERIALIZED (SELECT tok, CAST(sum(cab) AS BIGINT) AS c FROM (
      |  SELECT a AS tok, cab FROM cab UNION ALL SELECT b, cab FROM cab) GROUP BY 1),
      |scored AS (
      |  SELECT cab.a, cab.b, cab.cab AS pair_cnt,
      |         CAST(floor(ln(CAST(cab.cab AS DOUBLE) * t / (ma.c * mb.c)) * 1000000 + 0.5) AS BIGINT) AS pmi_fp
      |  FROM cab, tot
      |  JOIN marg ma ON cab.a = ma.tok
      |  JOIN marg mb ON cab.b = mb.tok
      |  WHERE cab.cab >= 2)
      |SELECT a, b, pair_cnt, pmi_fp, pmi_fp / 1000000.0 AS pmi,
      |       greatest(pmi_fp, 0) / 1000000.0 AS ppmi
      |FROM scored
      |ORDER BY pmi_fp DESC, a, b
      |LIMIT 50""".stripMargin

  /** x21: signed feature hashing (the hashing trick, Weinberger et al.
    * 2009) — each token maps to one of 64 buckets by a salted md5, with a
    * ±1 sign from a further hash bit so collisions cancel in expectation
    * instead of biasing the count. Output is the sparse feature matrix in
    * COO form (doc_id, bucket, feat) plus each doc's nnz — exactly what a
    * distributed linear model / nearest-centroid classifier consumes.
    * Scale (100 TB): stateless per-row hashing (no vocabulary broadcast —
    * the whole point of the trick vs a dictionary featurizer) followed by
    * a single (doc_id, bucket)-keyed aggregation; output is bounded at
    * 64 features/doc regardless of vocab growth. */
  def featureHashing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = md5(concat_ws("|", lit("fh"), $"tok"))
    val bucket = (conv(substring(h, 1, 4), 16, 10).cast("long") % 64).as("bucket")
    val sgn = when(conv(substring(h, 5, 1), 16, 10).cast("long") % 2 === 0, 1L)
      .otherwise(-1L)
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .select($"doc_id", bucket, sgn.as("s"))
      .groupBy($"doc_id", $"bucket").agg(sum($"s").as("feat"))
      .filter($"feat" =!= 0)
      // nnz as a window count over the already-aggregated COO rows: one
      // token pass total (a second groupBy+join re-ran the explode+hash
      // pipeline for the build side — plan-audited)
      .withColumn("nnz",
        count(lit(1)).over(Window.partitionBy($"doc_id")).cast("int"))
      .select($"doc_id", $"bucket", $"feat", $"nnz")
      .orderBy($"doc_id", $"bucket")
  }

  private val featureHashingOracle = {
    val h = "md5(concat_ws('|', 'fh', tok))"
    val h16 = md5IntSql("concat_ws('|', 'fh', tok)", 4)
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |coo AS MATERIALIZED (
       |  SELECT doc_id, CAST($h16 % 64 AS BIGINT) AS bucket,
       |         CAST(sum(CASE WHEN (strpos('0123456789abcdef', substr($h, 5, 1)) - 1) % 2 = 0
       |                       THEN 1 ELSE -1 END) AS BIGINT) AS feat
       |  FROM tok GROUP BY 1, 2)
       |SELECT doc_id, bucket, feat,
       |       CAST(count(*) OVER (PARTITION BY doc_id) AS INT) AS nnz
       |FROM coo WHERE feat <> 0
       |ORDER BY doc_id, bucket""".stripMargin
  }

  /* KNN majority-vote classification eval (the
   * instance-based counterpart of x79's nearest-centroid classifier) and
   * decimal-exact aggregation parity (the money-type surface the integer-
   * cents convention has been standing in for).
   * Elsewhere: q108 (RelationalQueries).
   */

  /** x169: k-nearest-neighbor classifier evaluation — leave-the-cohort-out:
    * test vectors (vec_id % 50 = 0) are classified by majority label of
    * their 5 highest-cosine TRAIN neighbors (train = everything else, so
    * no self-match leakage), ties broken toward the smaller label —
    * deterministic end to end. Complements x79 (nearest-centroid: one
    * broadcast model row per class) with the instance-based method whose
    * cost profile is exactly x30's broadcast-queries-scan-corpus shape;
    * per-point verdicts let an error analysis join back to features.
    *
    * Scale: test cohort broadcast, corpus scanned once, per-query top-k
    * via ranking window on the (small) candidate set — at 100 TB the scan
    * arm swaps for the IVF/PQ candidates (x34–x39) with the same
    * vote/eval tail. */
  def knnEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", $"label",
        Similarity.norm($"embedding").as("nrm"))
    val test = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"nrm".as("qn"), $"label".as("true_label"))
    val train = emb.filter($"vec_id" % 50 =!= 0)
    val wTop = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    val neigh = train.crossJoin(broadcast(test))
      .select($"q_id", $"true_label", $"vec_id", $"label",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter($"rk" <= 5)
    val wVote = Window.partitionBy($"q_id").orderBy($"votes".desc, $"label")
    neigh.groupBy($"q_id", $"true_label", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter($"vr" === 1)
      .select($"q_id", $"true_label", $"label".as("pred_label"), $"votes".cast("int").as("votes"),
        ($"label" === $"true_label").cast("int").as("correct"))
      .orderBy("q_id")
  }

  private val knnEvalOracle =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, label AS true_label
       |      FROM e WHERE vec_id % 50 = 0),
       |p AS (SELECT q_id, true_label, e.vec_id, e.label,
       |        round(${SimilarityQueries.cosineSql("qv", "e.embedding")}, 4) AS cosine
       |      FROM e JOIN q ON e.vec_id % 50 <> 0),
       |r AS (SELECT q_id, true_label, vec_id, label, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM p),
       |v AS (SELECT q_id, true_label, label, count(*) AS votes
       |      FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
       |w AS (SELECT q_id, true_label, label, votes,
       |        row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS vr
       |      FROM v)
       |SELECT q_id, true_label, label AS pred_label,
       |       CAST(votes AS INTEGER) AS votes,
       |       CAST(label = true_label AS INTEGER) AS correct
       |FROM w WHERE vr = 1
       |ORDER BY q_id""".stripMargin

  /** x174 negative-sample budget. */
  private val NegBudget = 100000L

  /** Exact integer floor-sqrt: IEEE sqrt then a ±1 boundary correction,
    * so the result is floor(√x) for every BIGINT x ≤ 2^52 regardless of
    * double rounding at perfect-square boundaries. */
  private[queries] def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val s1 = when(s0 * s0 > x, s0 - 1).otherwise(s0)
    when((s1 + 1) * (s1 + 1) <= x, s1 + 1).otherwise(s1)
  }
  private[queries] def isqrtSql(x: String): String = {
    val s0 = s"CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT)"
    val s1 = s"(CASE WHEN $s0 * $s0 > ($x) THEN $s0 - 1 ELSE $s0 END)"
    s"(CASE WHEN ($s1 + 1) * ($s1 + 1) <= ($x) THEN $s1 + 1 ELSE $s1 END)"
  }

  /** x174: word2vec negative-sampling table — token sampling mass
    * ∝ count^(3/4) (Mikolov's smoothing; it up-weights the tail so rare
    * words get negative examples), realized as an EXACT-integer
    * allocation: weight = ⌊c^(3/4)⌋ = isqrt(isqrt(c³)) — two IEEE
    * square roots with ±1 boundary corrections, NO libm pow/ln/exp in
    * the weight at all — then the x155 largest-remainder apportionment
    * of a 100k-sample budget (Σ alloc = budget exactly). Top-30 rows by
    * allocation; the share columns show the flattening (the heaviest
    * token's allocation share is visibly below its raw frequency share).
    *
    * Scale: vocab-bounded aggregate + O(vocab) arithmetic; the table
    * broadcasts to the skip-gram sampler (x20's pair generator). */
  def negativeSampling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .select($"tok", $"c", isqrt(isqrt($"c" * $"c" * $"c")).as("q"))
    val tot = c.agg(sum($"q").as("qq"), sum($"c").as("cc"))
    val q = c.crossJoin(broadcast(tot))
      .select($"tok", $"c", $"q", $"qq", $"cc",
        expr(s"($NegBudget * q) DIV qq").as("floor_alloc"),
        ((lit(NegBudget) * $"q") % $"qq").as("rem"))
    val short = q.agg((lit(NegBudget) - sum($"floor_alloc")).as("k"))
    val w = Window.orderBy($"rem".desc, $"tok")
    q.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(w))
      .select($"tok", $"c", $"q",
        ($"floor_alloc" + ($"rk" <= $"k").cast("long")).as("alloc"),
        halfUp4($"c".cast("double") / $"cc".cast("double")).as("freq_share"),
        halfUp4(($"floor_alloc" + ($"rk" <= $"k").cast("long")).cast("double")
          / lit(NegBudget.toDouble)).as("alloc_share"))
      .orderBy($"alloc".desc, $"tok")
      .limit(30)
  }

  private val negativeSamplingOracle = {
    val q34 = isqrtSql(isqrtSql("c * c * c"))
    s"""WITH c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       |           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |           GROUP BY tok),
       |cq AS (SELECT tok, c, $q34 AS q FROM c),
       |tot AS (SELECT CAST(sum(q) AS BIGINT) AS qq, CAST(sum(c) AS BIGINT) AS cc FROM cq),
       |a AS (SELECT tok, c, q, qq, cc,
       |        ($NegBudget * q) // qq AS floor_alloc,
       |        ($NegBudget * q) % qq AS rem
       |      FROM cq CROSS JOIN tot),
       |s AS (SELECT CAST($NegBudget - sum(floor_alloc) AS BIGINT) AS k FROM a),
       |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, tok) AS rk
       |      FROM a CROSS JOIN s)
       |SELECT tok, c, q,
       |       CAST(floor_alloc + CAST(rk <= k AS BIGINT) AS BIGINT) AS alloc,
       |       floor(CAST(c AS DOUBLE) / CAST(cc AS DOUBLE) * 10000 + 0.5) / 10000.0 AS freq_share,
       |       floor(CAST(floor_alloc + CAST(rk <= k AS BIGINT) AS DOUBLE) / ${NegBudget}.0
       |             * 10000 + 0.5) / 10000.0 AS alloc_share
       |FROM r
       |ORDER BY alloc DESC, tok
       |LIMIT 30""".stripMargin
  }

  /* Distributed model-training parity and
   * randomized-estimator audits. Three genuinely new shapes for the
   * engine: full-batch gradient training where the DISTRIBUTED update
   * arithmetic must equal a sequential oracle bit-for-bit (x181), a
   * Poisson-bootstrap confidence interval built from deterministic
   * hash-quantized resampling weights (x182), and an AMS second-moment
   * sketch audited against the exact F2 (x183). All arithmetic is
   * integer / fixed-point so DuckDB re-derives every intermediate.
   * Elsewhere: x182 (ExperimentQueries); x183 (EngineOpsQueries).
   */

  // ---------------------------------------------------------------- x181

  private val PIters = 6

  /** x181: distributed full-batch perceptron training with a geometric
    * step schedule — the "train a quality classifier over the corpus"
    * family member where the DISTRIBUTED update arithmetic is proven
    * equal to a sequential oracle. Each iteration is one scan: rows
    * misclassified under the current weights (margin y·(w·x) ≤ 0)
    * contribute y·x to a summed subgradient g; the weight step is the
    * AVERAGED subgradient in 1/256 margin units with a halving learning
    * rate, upd = trunc(256·g / (n_mis·2^it)) — all integer, so map-side
    * partial aggregation reconstructs the sequential batch update
    * EXACTLY (integer addition is associative; unlike float GD there is
    * no reduction-order drift to hide). Constant-step batch perceptron
    * OSCILLATES on this data (measured: it bounces between the two
    * all-one-class corners); the 2^-it decay is what makes the
    * trajectory reach ZERO training errors by iteration 6 at all three
    * SFs (measured). Label: n_chars ≥ 300; feature: n_chars div 100 —
    * separable by construction, so 0 errors is the correct fixed point.
    * Division is truncation toward zero on BOTH sides (Scala `/` here,
    * sign-split floor-div in the oracle — DuckDB `//` floors, which
    * differs on negative numerators).
    *
    * Output: one row per iteration — misclassified count under the
    * entering weights, weights after the update.
    *
    * Scale: the classic distributed-GD loop — per iteration ONE full
    * scan with a 3-long partial aggregate; only the scalar weight
    * vector moves through the driver (broadcast back as literals). At
    * 100 TB: iterations cost linear scans; no shuffle wider than the
    * partial-sum tree. */
  /** One distributed subgradient step: misclassified count and summed
    * (y, y·c) over rows with margin y·(wb + wc·c) ≤ 0. The unit the
    * PropertySpec pins against a sequential fold on arbitrary data. */
  private[graft] def perceptronStep(feats: DataFrame, wb: Long, wc: Long):
      (Long, Long, Long) = {
    import feats.sparkSession.implicits._
    val g = feats.filter($"y" * (lit(wb) + lit(wc) * $"c") <= 0)
      .agg(count(lit(1)).as("mis"), sum($"y").as("gb"), sum($"y" * $"c").as("gc"))
      .select(coalesce($"mis", lit(0L)), coalesce($"gb", lit(0L)),
        coalesce($"gc", lit(0L)))
      .head()
    (g.getLong(0), g.getLong(1), g.getLong(2))
  }

  def perceptronTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = Tables.documents(spark, dir).select(
      expr("CAST(n_chars AS BIGINT) div 100").as("c"),
      when($"n_chars" >= 300, 1L).otherwise(-1L).as("y"))
      .localCheckpoint(true)
    var wb = 0L; var wc = 0L
    val rows = (1 to PIters).map { it =>
      val (mis, gb, gc) = perceptronStep(feats, wb, wc)
      if (mis > 0) {
        val d = mis * (1L << it)
        wb += 256L * gb / d // Scala / truncates toward zero
        wc += 256L * gc / d
      }
      (it, mis, wb, wc)
    }
    spark.createDataFrame(rows)
      .toDF("it", "n_mis", "w_bias", "w_chars")
      .orderBy("it")
  }

  /** Oracle for [[perceptronTrain]]: the same PIters iterations unrolled
    * as CTE pairs (g_t = summed subgradient + misclassified count under
    * w_{t-1}; w_t = decayed averaged step). `tdiv` emulates Scala's
    * truncation toward zero via a sign split over DuckDB's flooring //. */
  private val perceptronOracle: String = {
    def tdiv(num: String, den: String) =
      s"CASE WHEN $num >= 0 THEN ($num) // ($den) ELSE -((-($num)) // ($den)) END"
    def gCte(t: Int, wb: String, wc: String) =
      s"""g$t AS (SELECT CAST(count(*) AS BIGINT) AS mis,
         |            CAST(COALESCE(sum(y), 0) AS BIGINT) AS gb,
         |            CAST(COALESCE(sum(y * c), 0) AS BIGINT) AS gc
         |     FROM feats WHERE y * ($wb + ($wc) * c) <= 0)""".stripMargin
    def wCte(t: Int, prev: String) = {
      val d = s"CASE WHEN g$t.mis = 0 THEN 1 ELSE g$t.mis * ${1L << t} END"
      s"""w$t AS (SELECT $prev.wb + ${tdiv(s"256 * g$t.gb", d)} AS wb,
         |            $prev.wc + ${tdiv(s"256 * g$t.gc", d)} AS wc
         |     FROM $prev, g$t)""".stripMargin
    }
    val ctes = new StringBuilder(
      """WITH feats AS (
        |  SELECT CAST(n_chars AS BIGINT) // 100 AS c,
        |         CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END AS y
        |  FROM documents),
        |w0 AS (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS wc)""".stripMargin)
    (1 to PIters).foreach { t =>
      ctes.append(",\n").append(gCte(t, s"w${t - 1}.wb", s"w${t - 1}.wc")
        .replace("FROM feats WHERE", s"FROM feats, w${t - 1} WHERE"))
      ctes.append(",\n").append(wCte(t, s"w${t - 1}"))
    }
    val sel = (1 to PIters).map { t =>
      s"SELECT $t AS it, (SELECT mis FROM g$t) AS n_mis, wb AS w_bias, wc AS w_chars FROM w$t"
    }.mkString("\nUNION ALL\n")
    ctes.append("\n").append(sel).append("\nORDER BY it").toString
  }

  /* Exact split-enumeration training (the
   * distributed-GBDT building block, contrasting x181's iterative GD),
   * a differentially-private histogram release with deterministic
   * discrete-Laplace noise, and split-conformal prediction coverage —
   * the calibration layer a production classifier pipeline puts behind
   * every model it ships.
   * Elsewhere: x186 (AnalyticsQueries).
   */

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
  private val stumpCtes =
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

  /* Model-governance additions — subgroup
   * fairness audit of a trained classifier (x189) and an entropy-based
   * gibberish gate (x190), completing the governance family around x166
   * (calibration), x113 (AUC), and x42 (heuristic quality).
   * Elsewhere: x190 (CurationQueries).
   */

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
    val m = stumpTrain(spark, dir).head()
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
    "WITH " + stumpCtes +
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

  /** Unrolled MM iterations (Hunter 2004). */
  private val BtIters = 8

  /** x241: Bradley–Terry preference strengths — fit p_i for each event
    * type from per-user pairwise comparisons (type i beats type j for a
    * user when the user has strictly more i-events; ties drop). The MM
    * update p_i ← W_i / Σ_j n_ij/(p_i+p_j) runs [[BtIters]] unrolled
    * rounds with every per-j term quantized to fixed point BEFORE its
    * sum (integer sums are order-free, so Spark's partitioned aggregate
    * equals DuckDB's sequential one exactly — the x35 trained-aggregate
    * recipe); the two remaining double ops per round (the W/den ratio
    * and the normalization) are single IEEE expressions spelled
    * identically in both engines. Published: rank, strength (1e-9 fixed
    * point, Σ≈1), wins, games per item.
    *
    * Scale: the comparison build is one corpus-scale self-join keyed by
    * user (co-partitioned, never all-pairs across users); everything
    * after lives on K items / K² pairs — at preference-data scale K is
    * #models or #response-variants, thousands at most, so the MM rounds
    * are driver-free joins over broadcast-size frames. */
  def bradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val uc = Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
    val cmp = uc.toDF("u", "i", "ca")
      .join(uc.toDF("u", "j", "cb"), "u")
      .filter($"i" < $"j" && $"ca" =!= $"cb")
      .select($"i", $"j", ($"ca" > $"cb").cast("long").as("win_i"))
    val pa = cmp.groupBy($"i", $"j")
      .agg(count(lit(1)).as("n"), sum($"win_i").as("w_i"))
      .localCheckpoint(true)
    val nd = pa.select($"i", $"j", $"n")
      .unionByName(pa.select($"j".as("i"), $"i".as("j"), $"n"))
      .localCheckpoint(true)
    val wins = pa.select($"i", $"w_i".as("w"))
      .unionByName(pa.select($"j".as("i"), ($"n" - $"w_i").as("w")))
      .groupBy($"i").agg(sum($"w").as("w"))
      .localCheckpoint(true)
    // scalar totals (the item count, each round's normalization sum) are
    // computed as single-partition window aggregates over the K-item frame
    // instead of crossJoin(broadcast(agg(...))): identical values, but no
    // separate broadcast-build job per round — the K-row frames make the
    // one-partition window free, and each round stays at exactly one
    // (checkpoint) job.
    val p0 = wins
      .select($"i", expr("CAST(floor(1e9 / (count(*) OVER ()) + 0.5) AS BIGINT)").as("p"))
    val pN = (1 to BtIters).foldLeft(p0) { (p, _) =>
      val pc = p.localCheckpoint(true)
      val den = nd
        .join(pc.select($"i", $"p".as("pi_")), "i")
        .join(pc.select($"i".as("j"), $"p".as("pj_")), "j")
        .select($"i", expr(
          "CAST(floor(CAST(n AS DOUBLE) * 1e18 / (pi_ + pj_) + 0.5) AS BIGINT)")
          .as("term"))
        .groupBy($"i").agg(sum($"term").as("den_fp"))
      den.join(wins, "i")
        .select($"i", expr(
          "CAST(floor(CAST(w AS DOUBLE) * 1e9 / CAST(den_fp AS DOUBLE) * 1e9 + 0.5) AS BIGINT)")
          .as("praw_fp"))
        .select($"i", expr(
          "CAST(floor(CAST(praw_fp AS DOUBLE) * 1e9 / CAST(sum(praw_fp) OVER () AS DOUBLE) + 0.5) AS BIGINT)")
          .as("p"))
    }
    val games = nd.groupBy($"i").agg(sum($"n").as("games"))
    pN.join(wins, "i").join(games, "i")
      .withColumn("rk", row_number().over(
        Window.orderBy($"p".desc, $"i")).cast("long"))
      .select($"rk", $"i".as("item"), $"p".as("bt_fp9"), $"w".as("wins"),
        $"games")
      .orderBy("rk")
  }

  private def btRoundSql(r: Int): String = {
    val prev = s"p${r - 1}"
    s"""d$r AS (
       |  SELECT nd.i,
       |         CAST(sum(CAST(floor(CAST(nd.n AS DOUBLE) * 1e18 / (pi.p + pj.p)
       |                + 0.5) AS BIGINT)) AS BIGINT) AS den_fp
       |  FROM nd JOIN $prev pi ON pi.i = nd.i
       |          JOIN $prev pj ON pj.i = nd.j
       |  GROUP BY nd.i),
       |u$r AS MATERIALIZED (
       |  SELECT d.i,
       |         CAST(floor(CAST(w.w AS DOUBLE) * 1e9 / CAST(d.den_fp AS DOUBLE)
       |                * 1e9 + 0.5) AS BIGINT) AS praw_fp
       |  FROM d$r d JOIN wins w ON w.i = d.i),
       |p$r AS MATERIALIZED (
       |  SELECT i, CAST(floor(CAST(praw_fp AS DOUBLE) * 1e9 / t.tot + 0.5)
       |              AS BIGINT) AS p
       |  FROM u$r, (SELECT CAST(sum(praw_fp) AS DOUBLE) AS tot FROM u$r) t)"""
      .stripMargin
  }

  private val bradleyTerryOracle = {
    val rounds = (1 to BtIters).map(btRoundSql).mkString(",\n")
    s"""WITH uc AS (
       |  SELECT user_id, event_type, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |cmp AS (
       |  SELECT a.event_type AS i, b.event_type AS j,
       |         CASE WHEN a.c > b.c THEN 1 ELSE 0 END AS win_i
       |  FROM uc a JOIN uc b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  WHERE a.c <> b.c),
       |pa AS MATERIALIZED (
       |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(win_i) AS BIGINT) AS w_i
       |  FROM cmp GROUP BY 1, 2),
       |nd AS MATERIALIZED (
       |  SELECT i, j, n FROM pa UNION ALL SELECT j AS i, i AS j, n FROM pa),
       |wins AS MATERIALIZED (
       |  SELECT i, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT i, w_i AS w FROM pa
       |    UNION ALL SELECT j AS i, n - w_i AS w FROM pa) z
       |  GROUP BY i),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM wins),
       |p0 AS MATERIALIZED (
       |  SELECT i, CAST(floor(1e9 / k + 0.5) AS BIGINT) AS p FROM wins, kk),
       |$rounds,
       |games AS (SELECT i, CAST(sum(n) AS BIGINT) AS games FROM nd GROUP BY i)
       |SELECT CAST(row_number() OVER (ORDER BY p.p DESC, p.i) AS BIGINT) AS rk,
       |       p.i AS item, p.p AS bt_fp9, w.w AS wins, g.games
       |FROM p$BtIters p JOIN wins w ON w.i = p.i JOIN games g ON g.i = p.i
       |ORDER BY rk""".stripMargin
  }

  /* Three distributed-algorithm staples a 100 TB
   * curation stack needs that the registry still lacked — a TRAINED
   * logistic-regression quality classifier via unrolled full-batch
   * gradient descent (the x35 trained-aggregate recipe applied to a
   * model with a nonlinearity), exact rank selection without a global
   * sort (the classic two-phase histogram drill-down), and a skyline
   * (Pareto-frontier) operator with grid pruning so the exact dominance
   * check never goes all-pairs on the corpus.
   *
   * Cross-engine discipline: every trained sum is quantized to fixed
   * point BEFORE aggregation (integer sums are accumulation-order-free);
   * the sigmoid is the algebraic Elliott form `0.5 + z/(2(1+|z|))` —
   * rational arithmetic only, bit-identical in both engines, where
   * `exp()` would be libm-dependent; every double expression is written
   * with pinned association on both sides.
   * Elsewhere: x260 (EngineOpsQueries); x261 (AnalyticsQueries).
   */

  /** GD iterations / learning rate / gradient fixed-point scale. The
    * Elliott sigmoid's gradient is bounded by 1/2, so it needs a larger
    * step than exp-sigmoid logistic; eta=16 with 16 steps lands within
    * a point of the Newton-solved ceiling (79.9% vs 80.8% train acc)
    * while keeping the unrolled oracle at 16 CTE pairs. Features are
    * centered with FIXED literal offsets (a data-derived mean would be
    * a double sum — accumulation-order-dependent, not oracle-safe). */
  private val GdIters = 16
  private val GdEta = "16.0"
  private val GdScale = "100000000.0" // 1e8, exactly representable
  private val GdCenters = Seq("0.3", "0.17", "0.285", "0.55")

  // ---------------------------------------------------------------- x259

  /** Shared feature definitions: label `y` = "document mentions the
    * token `spark`" — a property genuinely encoded in the text (the
    * fixture's `lang` label is NOT: the word soup is identical across
    * languages, so any lang classifier collapses to majority class).
    * Containment probability rises with document length, so a linear
    * model on these length/shape features has real signal to find.
    * Features are exact rationals of integer character counts, so both
    * engines derive bit-identical doubles; the label substring itself
    * is excluded from the features. */
  private def featFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nd = $"n_chars".cast("double")
    val toks = split($"text", " ")
    Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select(
        $"doc_id",
        when($"text".contains("spark"), 1.0).otherwise(0.0).as("y"),
        (nd / 1000.0 - lit(GdCenters(0).toDouble)).as("x1"),
        ((length($"text") - length(regexp_replace($"text", " ", ""))).cast("double") / nd
          - lit(GdCenters(1).toDouble)).as("x2"),
        ((length($"text") - length(translate($"text", "aeiou", ""))).cast("double") / nd
          - lit(GdCenters(2).toDouble)).as("x3"),
        (size(array_distinct(toks)).cast("double") / size(toks).cast("double")
          - lit(GdCenters(3).toDouble)).as("x4"))
  }

  private val featSql =
    s"""SELECT doc_id,
      |       CASE WHEN contains(text, 'spark') THEN 1.0 ELSE 0.0 END AS y,
      |       CAST(n_chars AS DOUBLE) / 1000.0 - ${GdCenters(0)} AS x1,
      |       CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
      |         / CAST(n_chars AS DOUBLE) - ${GdCenters(1)} AS x2,
      |       CAST(length(text) - length(translate(text, 'aeiou', '')) AS DOUBLE)
      |         / CAST(n_chars AS DOUBLE) - ${GdCenters(2)} AS x3,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |         / CAST(len(string_split(text, ' ')) AS DOUBLE) - ${GdCenters(3)} AS x4
      |FROM documents WHERE n_chars > 0""".stripMargin

  /** Pinned-association score `z` and Elliott sigmoid `p` — the Scala
    * and SQL renderings MUST mirror each other op for op. */
  private def zCol(w0: Column, w1: Column, w2: Column, w3: Column, w4: Column): Column =
    ((((w0 + w1 * col("x1")) + w2 * col("x2")) + w3 * col("x3")) + w4 * col("x4"))

  private def pCol(z: Column): Column = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  private def zSql(w: Int => String): String =
    s"((((${w(0)} + ${w(1)} * x1) + ${w(2)} * x2) + ${w(3)} * x3) + ${w(4)} * x4)"

  private def pSql(z: String): String = s"0.5 + $z / (2.0 * (1.0 + abs($z)))"

  /** x259: full-batch logistic-regression quality classifier trained by
    * [[GdIters]] unrolled gradient-descent steps — the missing TRAINED
    * MODEL next to x35's trained k-means: each step is ONE map-side
    * partial aggregation of per-row gradient contributions
    * `floor((p - y) * x_j * 1e8 + 0.5)` (BIGINT — order-free), and the
    * weight update `w_j - eta * (g_j / 1e8) / n` runs on a one-row
    * frame. The sigmoid is the Elliott rational approximation (no
    * libm), so weights are bit-identical across engines and the final
    * confusion matrix / accuracy can be oracle-paired exactly.
    *
    * Scale: per step, the corpus-sized work is one narrow projection +
    * partial-sum aggregate (the textbook distributed full-batch GD
    * shape); weight frames are broadcast one-row crosses. At 1000
    * executors each iteration is a single tree-aggregated pass — the
    * same plan MLlib's LogisticRegression runs per iteration. */
  /** The unrolled training loop, shared by x259 and the x359 capstone
    * gate: returns the one-row weight frame after [[GdIters]] steps. */
  private def trainedW(feats: DataFrame): DataFrame = {
    import feats.sparkSession.implicits._
    var w: DataFrame = feats.sparkSession.range(1).select(
      lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"),
      lit(0.0).as("w3"), lit(0.0).as("w4"))
    for (_ <- 1 to GdIters) {
      val p = pCol(zCol($"w0", $"w1", $"w2", $"w3", $"w4"))
      val scored = feats.crossJoin(broadcast(w))
        .select($"y", $"x1", $"x2", $"x3", $"x4",
          $"w0", $"w1", $"w2", $"w3", $"w4", p.as("p"))
      def g(x: Column): Column =
        sum(floor(($"p" - $"y") * x * lit(GdScale.toDouble) + 0.5).cast("long"))
      val grads = scored.agg(
        sum(floor(($"p" - $"y") * lit(GdScale.toDouble) + 0.5).cast("long")).as("g0"),
        g($"x1").as("g1"), g($"x2").as("g2"), g($"x3").as("g3"), g($"x4").as("g4"),
        count(lit(1)).as("n"))
      def upd(wc: Column, gc: Column): Column =
        wc - lit(GdEta.toDouble) * (gc.cast("double") / lit(GdScale.toDouble)) / $"n".cast("double")
      w = grads.crossJoin(broadcast(w)).select(
        upd($"w0", $"g0").as("w0"), upd($"w1", $"g1").as("w1"),
        upd($"w2", $"g2").as("w2"), upd($"w3", $"g3").as("w3"),
        upd($"w4", $"g4").as("w4")).localCheckpoint(true)
    }
    w
  }

  /** Capstone gate (x359): doc_ids the TRAINED classifier scores
    * positive — train on the corpus, then gate the corpus, the
    * C4/CCNet-style quality-classifier stage. */
  private[queries] def logisticKeepIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = featFrame(spark, dir).localCheckpoint(true)
    val w = trainedW(feats)
    feats.crossJoin(broadcast(w))
      .filter(zCol($"w0", $"w1", $"w2", $"w3", $"w4") > 0)
      .select($"doc_id")
  }

  def logisticGd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = featFrame(spark, dir).localCheckpoint(true)
    val w = trainedW(feats)
    val z = zCol($"w0", $"w1", $"w2", $"w3", $"w4")
    feats.crossJoin(broadcast(w))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(z > 0 && $"y" === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when(z > 0 && $"y" === 0.0, 1L).otherwise(0L)).as("fp"),
        sum(when(!(z > 0) && $"y" === 1.0, 1L).otherwise(0L)).as("fn"),
        sum(when(!(z > 0) && $"y" === 0.0, 1L).otherwise(0L)).as("tn"),
        QueryUtil.halfUp(first($"w0"), 6).as("w0q"),
        QueryUtil.halfUp(first($"w1"), 6).as("w1q"),
        QueryUtil.halfUp(first($"w2"), 6).as("w2q"),
        QueryUtil.halfUp(first($"w3"), 6).as("w3q"),
        QueryUtil.halfUp(first($"w4"), 6).as("w4q"))
      .select(lit(GdIters).cast("long").as("iters"),
        $"w0q", $"w1q", $"w2q", $"w3q", $"w4q",
        $"n_total", $"tp", $"fp", $"fn", $"tn",
        QueryUtil.halfUp4(($"tp" + $"tn").cast("double") / $"n_total".cast("double")).as("acc"))
  }

  /** The GD iteration CTE chain with a name prefix (x259 uses "", the
    * x359 capstone uses "lr" to avoid colliding with the capstone's
    * other CTE names). Column names inside are unprefixed — only CTE
    * names collide. */
  private def gdIterCtes(prefix: String): String = {
    def wRef(i: Int, j: Int): String = if (i == 0) "0.0" else s"w$j"
    (1 to GdIters).map { i =>
      val p = pSql(zSql(j => wRef(i - 1, j)))
      val from = if (i == 1) s"${prefix}feat" else s"${prefix}feat, ${prefix}w${i - 1}"
      val gs = (0 to 4).map { j =>
        val x = if (j == 0) "" else s" * x$j"
        s"CAST(sum(CAST(floor((p - y)$x * $GdScale + 0.5) AS BIGINT)) AS BIGINT) AS g$j"
      }.mkString(",\n|              ")
      val ws = (0 to 4).map { j =>
        s"${wRef(i - 1, j)} - $GdEta * (CAST(g$j AS DOUBLE) / $GdScale) / CAST(n AS DOUBLE) AS w$j"
      }.mkString(",\n|             ")
      val wFrom = if (i == 1) s"${prefix}g$i" else s"${prefix}g$i, ${prefix}w${i - 1}"
      s"""${prefix}g$i AS MATERIALIZED (SELECT $gs,
         |              CAST(count(*) AS BIGINT) AS n
         |       FROM (SELECT y, x1, x2, x3, x4, $p AS p FROM $from)),
         |${prefix}w$i AS MATERIALIZED (SELECT $ws
         |      FROM $wFrom)""".stripMargin
    }.mkString(",\n")
  }

  /** Capstone gate CTE block: feature frame + trained weights + the
    * positive-score keep list, all lr-prefixed. */
  private[queries] lazy val lrKeepCtes: String =
    s"""lrfeat AS MATERIALIZED ($featSql),
       |${gdIterCtes("lr")},
       |lr_keep AS MATERIALIZED (
       |  SELECT f.doc_id FROM lrfeat f, lrw$GdIters
       |  WHERE ${zSql(j => s"w$j")} > 0)""".stripMargin

  private val logisticGdOracle = {
    val iterCtes = gdIterCtes("")
    val zf = zSql(j => s"w$j")
    s"""WITH feat AS MATERIALIZED ($featSql),
       |$iterCtes
       |SELECT CAST($GdIters AS BIGINT) AS iters,
       |       floor(w0 * 1000000 + 0.5) / 1000000.0 AS w0q,
       |       floor(w1 * 1000000 + 0.5) / 1000000.0 AS w1q,
       |       floor(w2 * 1000000 + 0.5) / 1000000.0 AS w2q,
       |       floor(w3 * 1000000 + 0.5) / 1000000.0 AS w3q,
       |       floor(w4 * 1000000 + 0.5) / 1000000.0 AS w4q,
       |       CAST(count(*) AS BIGINT) AS n_total,
       |       CAST(sum(CASE WHEN $zf > 0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |       CAST(sum(CASE WHEN $zf > 0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |       CAST(sum(CASE WHEN NOT ($zf > 0) AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |       CAST(sum(CASE WHEN NOT ($zf > 0) AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |       floor((CAST(sum(CASE WHEN ($zf > 0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
       |              / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS acc
       |FROM feat, w$GdIters
       |GROUP BY w0, w1, w2, w3, w4""".stripMargin
  }

  /** Fixed-point scale for cross-bin Brier terms (order-free sums). */
  private val BrScale = "1000000000000.0" // 1e12

  // ---------------------------------------------------------------- x275

  /** x275: Murphy decomposition of the Brier score for the x99/x166
    * hashed quality classifier (forecast p = (score+1)/2 against the
    * length label): BS = reliability − resolution + uncertainty +
    * within-bin variance. The EXACT Brier score is a pure integer sum
    * (`(p_fp − 10⁴·y)²` per row); the three binned components quantize
    * each bin's term to 1e-12 fixed point BEFORE the cross-bin sum
    * (order-free), and the within-bin variance is emitted as the exact
    * remainder BS − (rel − res + unc) — the identity audits the whole
    * decomposition.
    *
    * Scale: x99's scorer is one token shuffle + a 64-row broadcast
    * model; the decomposition is a 10-row fold above it. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = CurationQueries.scoreDocs(Tables.documents(spark, dir))
      .join(Tables.documents(spark, dir).select($"doc_id", $"n_chars"), "doc_id")
      .select(
        // p in [0,1] fixed-point 1e4: (score_fp + 10000) / 2 (integer halves -> 5e3 units)
        ((floor($"score" * 10000 + lit(0.5)).cast("long") + 10000L)).as("p2"),
        ($"n_chars" >= 300).cast("long").as("y"))
      .withColumn("bin", least(expr("p2 * 10 DIV 20000"), lit(9L)))
    // exact Brier: p = p2/2e4; (p - y)^2 = (p2 - 2e4*y)^2 / 4e8
    val exact = scored.agg(
      count(lit(1)).as("n"), sum($"y").as("npos"),
      sum(($"p2" - lit(20000L) * $"y") * ($"p2" - lit(20000L) * $"y")).as("bs_num"))
    val bins = scored.groupBy($"bin")
      .agg(count(lit(1)).as("nk"), sum($"y").as("yk"), sum($"p2").as("p2k"))
    val terms = bins.crossJoin(broadcast(exact))
      .withColumn("pbar", $"p2k".cast("double") / ($"nk".cast("double") * 20000.0))
      .withColumn("ybark", $"yk".cast("double") / $"nk".cast("double"))
      .withColumn("ybar", $"npos".cast("double") / $"n".cast("double"))
      .withColumn("rel_q", floor($"nk".cast("double")
        * ($"pbar" - $"ybark") * ($"pbar" - $"ybark")
        * lit(BrScale.toDouble) + 0.5).cast("long"))
      .withColumn("res_q", floor($"nk".cast("double")
        * ($"ybark" - $"ybar") * ($"ybark" - $"ybar")
        * lit(BrScale.toDouble) + 0.5).cast("long"))
    terms.groupBy()
      .agg(max($"n").as("n"), max($"npos").as("npos"), max($"bs_num").as("bs_num"),
        count(lit(1)).as("n_bins"),
        sum($"rel_q").as("rel_sum"), sum($"res_q").as("res_sum"))
      .select($"n", $"npos", $"n_bins", $"bs_num",
        QueryUtil.halfUp($"bs_num".cast("double")
          / ($"n".cast("double") * 400000000.0), 6).as("brier"),
        QueryUtil.halfUp($"rel_sum".cast("double")
          / (lit(BrScale.toDouble) * $"n".cast("double")), 6).as("reliability"),
        QueryUtil.halfUp($"res_sum".cast("double")
          / (lit(BrScale.toDouble) * $"n".cast("double")), 6).as("resolution"),
        QueryUtil.halfUp(($"npos".cast("double") / $"n".cast("double"))
          * (lit(1.0) - $"npos".cast("double") / $"n".cast("double")), 6)
          .as("uncertainty"),
        QueryUtil.halfUp($"bs_num".cast("double")
          / ($"n".cast("double") * 400000000.0)
          - $"rel_sum".cast("double") / (lit(BrScale.toDouble) * $"n".cast("double"))
          + $"res_sum".cast("double") / (lit(BrScale.toDouble) * $"n".cast("double"))
          - ($"npos".cast("double") / $"n".cast("double"))
          * (lit(1.0) - $"npos".cast("double") / $"n".cast("double")), 6)
          .as("within_bin_var"))
  }

  private val brierDecompositionOracle = {
    val nb = 64
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(${QueryUtil.md5IntSql("concat_ws('|', 'qc', tok)", 4)} % $nb AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket,
       |        CAST(${QueryUtil.md5IntSql("concat_ws('|', 'qw', CAST(range AS VARCHAR))", 4)} % 2001 - 1000 AS BIGINT) AS w
       |      FROM range($nb)),
       |sc AS (SELECT doc_id,
       |         CAST(floor((floor((CAST(sum(w) AS DOUBLE)
       |                / (CAST(count(*) AS DOUBLE) * 1000.0)) * 10000 + 0.5) / 10000.0)
       |                * 10000 + 0.5) AS BIGINT) AS score_fp
       |       FROM tok JOIN w USING (bucket)
       |       GROUP BY doc_id),
       |scored AS MATERIALIZED (
       |  SELECT sc.score_fp + 10000 AS p2,
       |         CAST(d.n_chars >= 300 AS BIGINT) AS y,
       |         least((sc.score_fp + 10000) * 10 // 20000, 9) AS bin
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS npos,
       |         CAST(sum((p2 - 20000 * y) * (p2 - 20000 * y)) AS BIGINT) AS bs_num
       |  FROM scored),
       |bins AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS nk, CAST(sum(y) AS BIGINT) AS yk,
       |         CAST(sum(p2) AS BIGINT) AS p2k
       |  FROM scored GROUP BY bin),
       |terms AS (
       |  SELECT b.*, ex.n, ex.npos, ex.bs_num,
       |    CAST(floor(CAST(nk AS DOUBLE)
       |      * (CAST(p2k AS DOUBLE) / (CAST(nk AS DOUBLE) * 20000.0)
       |         - CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE))
       |      * (CAST(p2k AS DOUBLE) / (CAST(nk AS DOUBLE) * 20000.0)
       |         - CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE))
       |      * $BrScale + 0.5) AS BIGINT) AS rel_q,
       |    CAST(floor(CAST(nk AS DOUBLE)
       |      * (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)
       |         - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)
       |         - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
       |      * $BrScale + 0.5) AS BIGINT) AS res_q
       |  FROM bins b, ex)
       |SELECT max(n) AS n, max(npos) AS npos,
       |       CAST(count(*) AS BIGINT) AS n_bins, max(bs_num) AS bs_num,
       |       floor(CAST(max(bs_num) AS DOUBLE)
       |             / (CAST(max(n) AS DOUBLE) * 400000000.0)
       |             * 1000000 + 0.5) / 1000000.0 AS brier,
       |       floor(CAST(sum(rel_q) AS DOUBLE)
       |             / ($BrScale * CAST(max(n) AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS reliability,
       |       floor(CAST(sum(res_q) AS DOUBLE)
       |             / ($BrScale * CAST(max(n) AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS resolution,
       |       floor((CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE))
       |             * (1.0 - CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS uncertainty,
       |       floor((CAST(max(bs_num) AS DOUBLE)
       |              / (CAST(max(n) AS DOUBLE) * 400000000.0)
       |              - CAST(sum(rel_q) AS DOUBLE) / ($BrScale * CAST(max(n) AS DOUBLE))
       |              + CAST(sum(res_q) AS DOUBLE) / ($BrScale * CAST(max(n) AS DOUBLE))
       |              - (CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE))
       |                * (1.0 - CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE)))
       |             * 1000000 + 0.5) / 1000000.0 AS within_bin_var
       |FROM terms""".stripMargin
  }

  /* The two modern model-evaluation primitives
   * the eval family still lacked — the paired k-fold t-test that decides
   * whether one classifier actually beats another (decision evaluated as
   * ONE cross-multiplied DECIMAL(38) predicate, no float accumulation),
   * and split conformal prediction (distribution-free intervals with a
   * coverage guarantee — the calibration quantile is an exact rank
   * selection, the guarantee is audited on a held-out test split).
   */

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
    val predA = logisticKeepIds(spark, dir)
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
    s"""WITH ${lrKeepCtes},
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

  // ---------------------------------------------------------------- x326

  /** x326: Gini decision stump — the split primitive every distributed
    * tree learner (GBDT/random forest) evaluates billions of times: the
    * threshold t on n_chars minimizing the weighted Gini impurity of
    * the (lang = en) label, argmin over the value census. The ranking
    * key n_L·Gini_L + n_R·Gini_R expands to
    * n − Σ_side (a_side² + b_side²)/n_side; both engines derive it from
    * the same BIGINT prefix sums with identical double arithmetic, so
    * the argmin (tie-broken by smallest t) is engine-stable unrounded.
    * Emits the chosen threshold, its exact split counts, the impurity
    * drop against the root, and the resulting majority-vote accuracy —
    * all the numbers a stump learner reports.
    *
    * Scale: one census groupBy + one window pass, O(|distinct values|)
    * candidates — the histogram-split strategy XGBoost/LightGBM use at
    * scale, with the census as the (exact) histogram. */
  def giniStump(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = StatsQueries.enCharsCensus(spark, dir)
    val wCum = Window.orderBy($"v").rowsBetween(Long.MinValue, 0)
    val wAll = Window.partitionBy(lit(1))
    val cand = census
      .withColumn("al", sum($"ta").over(wCum))
      .withColumn("bl", sum($"tb").over(wCum))
      .withColumn("na", sum($"ta").over(wAll))
      .withColumn("nb", sum($"tb").over(wAll))
      .filter($"al" + $"bl" < $"na" + $"nb") // right side must be non-empty
    def d(c: Column) = c.cast("double")
    val nl = $"al" + $"bl"
    val nr = $"na" + $"nb" - nl
    val ar = $"na" - $"al"
    val br = $"nb" - $"bl"
    // minimizing weighted Gini == maximizing sum of per-side squared-count
    // ratios (n is constant): key = (al²+bl²)/nl + (ar²+br²)/nr
    val keyed = cand.withColumn("skey",
      (d($"al") * d($"al") + d($"bl") * d($"bl")) / d(nl)
        + (d(ar) * d(ar) + d(br) * d(br)) / d(nr))
    keyed
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy($"skey".desc, $"v")))
      .filter($"rk" === 1)
      .select($"v".as("threshold"), $"al", $"bl", (ar).as("ar"), (br).as("br"),
        QueryUtil.halfUp(
          // impurity drop: root Gini mass minus split Gini mass, /n
          (($"skey" - (d($"na") * d($"na") + d($"nb") * d($"nb"))
            / d($"na" + $"nb"))) / d($"na" + $"nb"), 6).as("gini_drop"),
        QueryUtil.halfUp(
          (greatest(d($"al"), d($"bl")) + greatest(d(ar), d(br)))
            / d($"na" + $"nb"), 6).as("stump_acc"))
  }

  private val giniStumpOracle =
    """WITH census AS MATERIALIZED (
      |  SELECT CAST(n_chars AS BIGINT) AS v,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS tb
      |  FROM documents WHERE n_chars > 0 GROUP BY 1),
      |cand AS (
      |  SELECT v,
      |         sum(ta) OVER wc AS al, sum(tb) OVER wc AS bl,
      |         sum(ta) OVER wa AS na, sum(tb) OVER wa AS nb
      |  FROM census
      |  WINDOW wc AS (ORDER BY v ROWS UNBOUNDED PRECEDING),
      |         wa AS ()),
      |keyed AS (
      |  SELECT *,
      |         (CAST(al AS DOUBLE) * CAST(al AS DOUBLE)
      |          + CAST(bl AS DOUBLE) * CAST(bl AS DOUBLE)) / CAST(al + bl AS DOUBLE)
      |         + (CAST(na - al AS DOUBLE) * CAST(na - al AS DOUBLE)
      |            + CAST(nb - bl AS DOUBLE) * CAST(nb - bl AS DOUBLE))
      |           / CAST(na + nb - al - bl AS DOUBLE) AS skey
      |  FROM cand WHERE al + bl < na + nb),
      |best AS (
      |  SELECT *, row_number() OVER (ORDER BY skey DESC, v) AS rk FROM keyed)
      |SELECT v AS threshold, CAST(al AS BIGINT) AS al, CAST(bl AS BIGINT) AS bl,
      |       CAST(na - al AS BIGINT) AS ar, CAST(nb - bl AS BIGINT) AS br,
      |       floor((skey - (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)
      |                     + CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE))
      |                    / CAST(na + nb AS DOUBLE)) / CAST(na + nb AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000.0 AS gini_drop,
      |       floor((greatest(CAST(al AS DOUBLE), CAST(bl AS DOUBLE))
      |              + greatest(CAST(na - al AS DOUBLE), CAST(nb - bl AS DOUBLE)))
      |             / CAST(na + nb AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS stump_acc
      |FROM best WHERE rk = 1""".stripMargin

  /* Pass@k (the unbiased LLM-eval estimator as
   * exact combinatorics), inverted-index posting compression sizing
   * (delta + varint byte counts — the storage arithmetic behind every
   * search index), and the range-partitioner boundary audit (sample →
   * boundaries → exact balance measurement, Spark's RangePartitioner
   * contract made inspectable).
   * Elsewhere: x328 (RetrievalQueries); x329 (EngineOpsQueries).
   */

  // ---------------------------------------------------------------- x327

  /** Samples per problem and the k of pass@k. */
  private val PassN = 20
  private val PassK = 5
  /** Π_{i<k}(n−i) for n = [[PassN]] — the fixed denominator. */
  private val PassDen = (0 until PassK).map(i => (PassN - i).toLong).product

  /** x327: pass@k — the Codex-paper unbiased estimator
    * 1 − C(n−c, k)/C(n, k) over n samples with c successes, THE metric
    * every code/reasoning eval reports. Each "problem" is a user, its
    * first [[PassN]] events (by event_id) are the samples, and a
    * high-value purchase is a "pass". The combinatorial ratio is the
    * telescoping product Π_{i<k}(n−c−i)/(n−i) — exact BIGINTs at
    * n = 20 (num ≤ 20⁵), zero when n−c < k, so the estimate is an
    * exact rational and only the reported pass@k is quantized. The
    * final row (-1) macro-averages pass@k across problems the way eval
    * suites do — as the exact SUM of per-problem numerators over a
    * common denominator, immune to float accumulation order.
    *
    * Scale: one groupBy(user) with map-side partials; the per-problem
    * arithmetic is O(k) multiplications on the aggregate row. */
  def passAtK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = Tables.events(spark, dir)
      .select($"user_id", $"event_id",
        when($"event_type" === "purchase" && $"value" > 150.0, 1L)
          .otherwise(0L).as("ok"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"user_id").orderBy($"event_id")))
      .filter($"rk" <= PassN)
    val per = ranked.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"ok").as("c"))
      .filter($"n" === PassN.toLong)
    val numExpr = (0 until PassK)
      .map(i => ($"n" - $"c" - i.toLong))
      .reduce(_ * _)
    val scored = per
      .withColumn("fail_num",
        when($"n" - $"c" >= PassK.toLong, numExpr).otherwise(0L))
      .withColumn("den", lit(PassDen))
    val rows = scored.select($"user_id", $"n", $"c", $"fail_num", $"den",
      QueryUtil.halfUp(lit(1.0)
        - $"fail_num".cast("double") / $"den".cast("double"), 6).as("passk"))
    val macroRow = scored.agg(
      count(lit(1)).as("n"), sum($"c").as("c"),
      sum($"fail_num").as("fail_num"),
      (count(lit(1)) * PassDen).as("den"))
      .select(lit(-1L).as("user_id"), $"n", $"c", $"fail_num", $"den",
        QueryUtil.halfUp(lit(1.0)
          - $"fail_num".cast("double") / $"den".cast("double"), 6).as("passk"))
    rows.unionByName(macroRow).orderBy($"user_id")
  }

  private val passAtKOracle = {
    val numSql = (0 until PassK).map(i => s"(n - c - $i)").mkString(" * ")
    s"""WITH ranked AS (
       |  SELECT user_id,
       |         CASE WHEN event_type = 'purchase' AND value > 150.0
       |              THEN 1 ELSE 0 END AS ok,
       |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rk
       |  FROM events),
       |per AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(ok) AS BIGINT) AS c
       |  FROM ranked WHERE rk <= $PassN GROUP BY 1 HAVING count(*) = $PassN),
       |scored AS (
       |  SELECT user_id, n, c,
       |         CASE WHEN n - c >= $PassK THEN $numSql ELSE 0 END AS fail_num,
       |         CAST($PassDen AS BIGINT) AS den
       |  FROM per)
       |SELECT user_id, n, c, fail_num, den,
       |       floor((1.0 - CAST(fail_num AS DOUBLE) / CAST(den AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS passk
       |FROM scored
       |UNION ALL
       |SELECT -1, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
       |       CAST(sum(fail_num) AS BIGINT),
       |       CAST(count(*) * $PassDen AS BIGINT),
       |       floor((1.0 - CAST(sum(fail_num) AS DOUBLE)
       |                    / CAST(count(*) * $PassDen AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0
       |FROM scored
       |ORDER BY user_id""".stripMargin
  }

  /** x374 forecast bins (centers (2k+1)/20) and the outcome label. */
  private val BrierBins = 10
  private val BrierLabelChars = 300

  /** x374: Murphy decomposition of the Brier score — reliability −
    * resolution + uncertainty, the forecast-quality triple behind x166's
    * ECE: forecast = hash-assigned bin center (2k+1)/20, outcome = the
    * long-document label. Every component reduces to exact integer
    * censuses: the Brier sum is a per-row integer ((2k+1) − 20·o)²; the
    * per-bin REL/RES terms have integer numerators ((2k+1)n_k − 20p_k)²
    * and (N·p_k − P·n_k)² (BIGINT-safe to N ≈ 5e4), quantized half-up
    * 1e-9 per bin before the order-free integer sum. Emits the identity
    * residual — computed from the same doubles in both engines — as the
    * self-check column. */
  def brierDecompositionX374(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val binned = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        (QueryUtil.md5Int(concat_ws("|", lit("brier"), $"doc_id"), 4) % BrierBins).as("k"),
        ($"n_chars" >= BrierLabelChars).cast("long").as("o"))
    val perBin = binned.groupBy($"k")
      .agg(count(lit(1)).as("nk"), sum($"o").as("pk"),
        sum(((lit(2) * $"k" + 1 - lit(20) * $"o")
          * (lit(2) * $"k" + 1 - lit(20) * $"o"))).as("bsum"))
    val totals = perBin.agg(
      sum($"nk").as("n"), sum($"pk").as("p"), sum($"bsum").as("bsum")).localCheckpoint(true)
    val nTot = totals.select($"n").head().getLong(0)
    val pTot = totals.select($"p").head().getLong(0)
    val relres = perBin.select(
      floor(((lit(2) * $"k" + 1) * $"nk" - lit(20) * $"pk").cast("double")
        * ((lit(2) * $"k" + 1) * $"nk" - lit(20) * $"pk").cast("double")
        / (lit(400.0) * $"nk".cast("double")) * lit(1e9) + lit(0.5))
        .cast("long").as("rel_fp"),
      floor((lit(nTot) * $"pk" - lit(pTot) * $"nk").cast("double")
        * (lit(nTot) * $"pk" - lit(pTot) * $"nk").cast("double")
        / (lit(nTot).cast("double") * lit(nTot) * $"nk".cast("double")) * lit(1e9) + lit(0.5))
        .cast("long").as("res_fp"))
      .agg(sum($"rel_fp").as("rel_fp"), sum($"res_fp").as("res_fp"))
    totals.crossJoin(relres)
      .select($"n", $"p",
        QueryUtil.halfUp($"bsum".cast("double") / (lit(400.0) * $"n"), 6).as("brier"),
        QueryUtil.halfUp($"rel_fp".cast("double") / (lit(1e9) * $"n"), 6).as("rel"),
        QueryUtil.halfUp($"res_fp".cast("double") / (lit(1e9) * $"n"), 6).as("res"),
        QueryUtil.halfUp($"p".cast("double") * ($"n" - $"p") / ($"n".cast("double") * $"n"), 6)
          .as("unc"),
        QueryUtil.halfUp(
          $"bsum".cast("double") / (lit(400.0) * $"n")
            - ($"rel_fp".cast("double") / (lit(1e9) * $"n")
              - $"res_fp".cast("double") / (lit(1e9) * $"n")
              + $"p".cast("double") * ($"n" - $"p") / ($"n".cast("double") * $"n")), 6)
          .as("identity_resid"))
  }

  private val brierOracle = {
    val h16 = QueryUtil.md5IntSql("concat_ws('|', 'brier', CAST(doc_id AS VARCHAR))", 4)
    s"""WITH b AS (SELECT doc_id,
       |             CAST($h16 % $BrierBins AS BIGINT) AS k,
       |             CASE WHEN n_chars >= $BrierLabelChars THEN 1 ELSE 0 END AS o
       |           FROM documents),
       |pb AS (SELECT k, CAST(count(*) AS BIGINT) AS nk, CAST(sum(o) AS BIGINT) AS pk,
       |         CAST(sum((2 * k + 1 - 20 * o) * (2 * k + 1 - 20 * o)) AS BIGINT) AS bsum
       |       FROM b GROUP BY k),
       |tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(pk) AS BIGINT) AS p,
       |          CAST(sum(bsum) AS BIGINT) AS bsum FROM pb),
       |rr AS (SELECT
       |         CAST(sum(CAST(floor(
       |           CAST(((2 * k + 1) * nk - 20 * pk) AS DOUBLE)
       |           * CAST(((2 * k + 1) * nk - 20 * pk) AS DOUBLE)
       |           / (400.0 * CAST(nk AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS rel_fp,
       |         CAST(sum(CAST(floor(
       |           CAST((tot.n * pk - tot.p * nk) AS DOUBLE)
       |           * CAST((tot.n * pk - tot.p * nk) AS DOUBLE)
       |           / (CAST(tot.n AS DOUBLE) * tot.n * CAST(nk AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS res_fp
       |       FROM pb, tot)
       |SELECT tot.n, tot.p,
       |  floor(CAST(tot.bsum AS DOUBLE) / (400.0 * tot.n) * 1000000 + 0.5) / 1000000.0 AS brier,
       |  floor(CAST(rr.rel_fp AS DOUBLE) / (1e9 * tot.n) * 1000000 + 0.5) / 1000000.0 AS rel,
       |  floor(CAST(rr.res_fp AS DOUBLE) / (1e9 * tot.n) * 1000000 + 0.5) / 1000000.0 AS res,
       |  floor(CAST(tot.p AS DOUBLE) * (tot.n - tot.p) / (CAST(tot.n AS DOUBLE) * tot.n) * 1000000 + 0.5) / 1000000.0 AS unc,
       |  floor((CAST(tot.bsum AS DOUBLE) / (400.0 * tot.n)
       |         - (CAST(rr.rel_fp AS DOUBLE) / (1e9 * tot.n)
       |            - CAST(rr.res_fp AS DOUBLE) / (1e9 * tot.n)
       |            + CAST(tot.p AS DOUBLE) * (tot.n - tot.p) / (CAST(tot.n AS DOUBLE) * tot.n))) * 1000000 + 0.5) / 1000000.0 AS identity_resid
       |FROM tot, rr""".stripMargin
  }

  /* Uncertainty + robustness tier — split-conformal
   * prediction intervals (x379), deterministic RANSAC line fitting (x380),
   * and the doubly-robust off-policy estimate completing x378's family
   * (x381). Everything reduces to integer censuses, exact order
   * statistics, or cross-multiplied rational comparisons.
   * Elsewhere: x380 (TimeSeriesQueries); x381 (ExperimentQueries).
   */

  /** Conformal miscoverage α = 1/10 (exact integer rank arithmetic:
    * q index = ceil(9(n+1)/10)). */
  private val ConfNum = 9
  private val ConfDen = 10

  /** x379: split-conformal prediction intervals per event type — the
    * distribution-free uncertainty wrapper a model-serving pipeline
    * calibrates: a deterministic hash splits events into calibration and
    * test halves; the nonconformity score is the scaled residual
    * |n·cents − sum| against the calibration mean (integer — the n-scaled
    * form avoids rational means); the interval radius is the EXACT
    * ceil(9(n+1)/10)-th order statistic of calibration scores; coverage
    * is then audited on the test half (guaranteed >= 90% in expectation).
    * Scale: two grouped passes + one rank window, all keyed on the small
    * type dimension. */
  def conformalIntervals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"event_type",
        floor($"value" * 100 + lit(0.5)).cast("long").as("cents"),
        (QueryUtil.md5Int(concat_ws("|", lit("conf"), $"event_id"), 4) < 32768L)
          .cast("int").as("is_cal"))
    val stats = ev.filter($"is_cal" === 1).groupBy($"event_type")
      .agg(count(lit(1)).as("n_cal"), sum($"cents").as("cal_sum"))
    val scored = ev.join(broadcast(stats), "event_type")
      .withColumn("score", abs($"n_cal" * $"cents" - $"cal_sum"))
      .localCheckpoint(true) // the rank pass and the coverage pass both scan it
    val wRank = Window.partitionBy($"event_type").orderBy($"score", $"event_id")
    val q = scored.filter($"is_cal" === 1)
      .withColumn("rk", row_number().over(wRank))
      .filter($"rk" === ceil(($"n_cal" + 1) * ConfNum / lit(ConfDen.toDouble)).cast("long"))
      .select($"event_type", $"score".as("q_score"))
    scored.filter($"is_cal" === 0)
      .join(broadcast(q), Seq("event_type"), "left")
      .groupBy($"event_type")
      .agg(max($"n_cal").as("n_cal"), count(lit(1)).as("n_test"),
        max($"q_score").as("q_score"),
        sum(($"score" <= $"q_score").cast("long")).as("covered"))
      .select($"event_type", $"n_cal", $"n_test",
        coalesce($"q_score", lit(-1L)).as("q_score"),
        coalesce($"covered", lit(0L)).as("covered"),
        QueryUtil.halfUp(coalesce($"covered", lit(0L)).cast("double") / $"n_test", 4)
          .as("coverage"))
      .orderBy("event_type")
  }

  private val conformalOracleX379 = {
    val h16 = QueryUtil.md5IntSql("concat_ws('|', 'conf', CAST(event_id AS VARCHAR))", 4)
    s"""WITH ev AS (SELECT event_id, event_type,
       |              CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
       |              CASE WHEN $h16 < 32768 THEN 1 ELSE 0 END AS is_cal
       |            FROM events),
       |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
       |         CAST(sum(cents) AS BIGINT) AS cal_sum
       |       FROM ev WHERE is_cal = 1 GROUP BY event_type),
       |sc AS (SELECT ev.*, st.n_cal, abs(st.n_cal * ev.cents - st.cal_sum) AS score
       |       FROM ev JOIN st ON st.event_type = ev.event_type),
       |q AS (SELECT event_type, score AS q_score
       |      FROM (SELECT event_type, score, n_cal,
       |              row_number() OVER (PARTITION BY event_type ORDER BY score, event_id) AS rk
       |            FROM sc WHERE is_cal = 1)
       |      WHERE rk = CAST(ceil((n_cal + 1) * $ConfNum / ${ConfDen.toDouble}) AS BIGINT))
       |SELECT sc.event_type, CAST(max(sc.n_cal) AS BIGINT) AS n_cal,
       |       CAST(count(*) AS BIGINT) AS n_test,
       |       CAST(coalesce(max(q.q_score), -1) AS BIGINT) AS q_score,
       |       CAST(coalesce(sum(CASE WHEN sc.score <= q.q_score THEN 1 ELSE 0 END), 0) AS BIGINT) AS covered,
       |       floor(CAST(coalesce(sum(CASE WHEN sc.score <= q.q_score THEN 1 ELSE 0 END), 0) AS DOUBLE)
       |             / count(*) * 10000 + 0.5) / 10000.0 AS coverage
       |FROM sc LEFT JOIN q ON q.event_type = sc.event_type
       |WHERE sc.is_cal = 0
       |GROUP BY sc.event_type
       |ORDER BY sc.event_type""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x21_feature_hashing",
      "signed feature hashing (hashing trick): 64-bucket COO feature matrix, no vocabulary broadcast",
      featureHashing, Some(featureHashingOracle)),
    QueryDef("x20_pmi_cooccur",
      "skip-gram PMI/PPMI co-occurrence (±2 window, array-local pair generation, fixed-point ln)",
      pmiCooccur, Some(pmiCooccurOracle)),
    QueryDef("x23_dist_drift",
      "corpus drift monitor: Jensen-Shannon divergence + top drifted tokens (fixed-point)",
      distDrift, Some(distDriftOracle)),
    QueryDef("x22_perplexity_buckets",
      "CCNet head/middle/tail perplexity bucketing on exact rational scores",
      perplexityBuckets, Some(perplexityBucketsOracle)),
    QueryDef("x88_bigram_surprisal",
      "interpolated bigram-LM surprisal scoring (fixed-point sums, broadcast models)",
      bigramSurprisal, Some(bigramSurprisalOracle)),
    QueryDef("x85_temperature_mixture",
      "temperature-α=0.5 language rebalancing via exact integer hash predicate", temperatureMixture, Some(temperatureMixtureOracle)),
    QueryDef("x54_chunk_windows",
      "sliding-window training-sample chunking (W=32, S=24)", chunkWindows, Some(chunkWindowsOracle)),
    QueryDef("x55_chunk_dedup",
      "corpus-level chunk dedup with doc rebuild (CCNet-style)", chunkDedup, Some(chunkDedupOracle)),
    QueryDef("x56_unigram_surprisal",
      "unigram-LM mean surprisal quality score (fixed-point sums)", unigramSurprisal, Some(unigramSurprisalOracle)),
    QueryDef("x57_stratified_split",
      "deterministic hash train/val/test split audit", stratifiedSplit, Some(stratifiedSplitOracle)),
    QueryDef("x58_repetition_stats",
      "Gopher-style repetition filters (top-token, dup-bigram)", repetitionStats, Some(repetitionStatsOracle)),
    QueryDef("x59_weighted_sample",
      "deterministic weighted sampling w/o replacement (Efraimidis-Spirakis)", weightedSample, Some(weightedSampleOracle)),
    QueryDef("x169_knn_eval",
      "kNN majority-vote classifier eval: broadcast test cohort, top-5 train neighbors, deterministic vote, per-point verdicts",
      knnEval, Some(knnEvalOracle)),
    QueryDef("x174_negative_sampling",
      "word2vec unigram^(3/4) negative-sampling table via exact integer fourth roots + largest-remainder budget allocation",
      negativeSampling, Some(negativeSamplingOracle)),
    QueryDef("x181_perceptron_train",
      "distributed full-batch perceptron, 6 decayed-step iterations to zero training error, integer updates equal to the sequential oracle",
      perceptronTrain, Some(perceptronOracle)),
    QueryDef("x184_stump_train",
      "exact decision-stump split enumeration (distributed GBDT split-finder): histogram + prefix-sum argmin over thresholds",
      stumpTrain, Some(stumpOracle)),
    QueryDef("x187_conformal_coverage",
      "split-conformal prediction: finite-sample conformal quantile on a calibration half, coverage audit on the test half",
      conformalCoverage, Some(conformalOracle)),
    QueryDef("x189_fairness_audit",
      "subgroup fairness of the trained stump: per-lang positive rate / TPR / FPR + demographic-parity gap",
      fairnessAudit, Some(fairnessOracle)),
    QueryDef("x241_bradley_terry",
      "Bradley-Terry preference strengths from per-user pairwise comparisons: 8 unrolled MM rounds, per-term fixed-point quantization, rank/strength/wins panel",
      bradleyTerry, Some(bradleyTerryOracle)),
    QueryDef("x259_logistic_gd",
      "unrolled full-batch logistic GD (Elliott sigmoid, fixed-point gradients) with confusion audit",
      logisticGd, Some(logisticGdOracle)),
    QueryDef("x275_brier_decomposition",
      "Murphy Brier decomposition (reliability/resolution/uncertainty) with exact-identity audit",
      brierDecomposition, Some(brierDecompositionOracle)),
    QueryDef("x281_paired_ttest",
      "paired 5-fold t-test (logistic vs hash-gate classifier) with exact DECIMAL(38) decision",
      pairedTtest, Some(pairedTtestOracle)),
    QueryDef("x282_split_conformal",
      "split conformal prediction intervals on the monthly OLS trend with held-out coverage audit",
      splitConformal, Some(splitConformalOracle)),
    QueryDef("x326_gini_stump",
      "Gini decision stump over the value census: histogram-split argmin with unrounded ranking key, exact split counts",
      giniStump, Some(giniStumpOracle)),
    QueryDef("x327_pass_at_k",
      "pass@k unbiased estimator: exact telescoping-product combinatorics per problem plus a float-accumulation-free macro average",
      passAtK, Some(passAtKOracle)),
    QueryDef("x374_brier_decomposition",
      "Murphy decomposition of the Brier score: REL - RES + UNC from integer censuses, identity residual emitted (stats)",
      brierDecompositionX374, Some(brierOracle)),
    QueryDef("x379_conformal_intervals",
      "split-conformal prediction intervals per event type: exact order-statistic radius, test-half coverage audit (stats)",
      conformalIntervals, Some(conformalOracleX379)))
}
