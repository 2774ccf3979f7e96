package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryUtil.{halfUp4, md5Int, md5IntSql}

/** Training-corpus preparation operators beyond the x50–x53 tier (north
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

  /** Mean-surprisal ceiling for the x359 capstone's perplexity-outlier
    * gate (fixture distribution: median 3.402, p90 3.41, max ~4.0 — the
    * ceiling drops the ~5-8% high-perplexity tail). */
  private[queries] val SurprisalMax = 3.43

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

  /** High-perplexity outlier gate for the x359 capstone: docs whose mean
    * surprisal (exact rational) is at most [[SurprisalMax]]. */
  private[queries] def surprisalKeepIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    surprisalScores(spark, dir)
      .filter($"sum_fp".cast("double") / 1e6 / $"n_tok" <= SurprisalMax)
      .select($"doc_id")
  }

  /** Repetition gate for the x359 capstone: keep-flagged doc ids. */
  private[queries] def repetitionKeepIds(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(spark, dir).filter(col("keep")).select(col("doc_id"))

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

  private[queries] def surKeepCte: String =
    s"""sur_keep AS (SELECT doc_id FROM sur
       |             WHERE CAST(sum_fp AS DOUBLE) / 1000000.0 / n_tok <= $SurprisalMax)""".stripMargin

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

  private[queries] def repKeepCte: String =
    s"""rep_keep AS (SELECT doc_id FROM rep_m
       |             WHERE top_share <= $TopShareMax AND dup_share <= $DupBigramMax)""".stripMargin

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
    val t = split(col("text"), " ")
    val n = size(t)
    def pairsAt(d: Int) = zip_with(
      slice(t, lit(1), greatest(n - d, lit(0))),
      slice(t, lit(1 + d), greatest(n - d, lit(0))),
      (x, y) => struct(least(x, y).as("a"), greatest(x, y).as("b")))
    val cab = Tables.documents(spark, dir)
      .select(explode(concat(pairsAt(1), pairsAt(2))).as("pr"))
      .select($"pr.a".as("a"), $"pr.b".as("b"))
      .filter($"a" =!= $"b")
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
    val h16 = (1 to 4).map(i => s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")
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

  lazy val defs: Seq[QueryDef] = Seq(
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
      "deterministic weighted sampling w/o replacement (Efraimidis-Spirakis)", weightedSample, Some(weightedSampleOracle)))
}
