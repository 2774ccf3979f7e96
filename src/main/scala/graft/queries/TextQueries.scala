package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Graph, TextAnalysis}
import QueryUtil.{halfUp4, md5Int, md5IntSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text family: tokenization and BPE, n-gram language models and smoothing,
  * keyphrase and topic segmentation, stylometry, multi-pattern scans and
  * PII/regex redaction over `documents`.
  *
  * Text-analysis coverage over the `documents` fixture (north star X4):
  * token statistics, quality scoring, language-ID heuristic, k-gram
  * fingerprinting, corpus term frequencies. */
object TextQueries {

  private val stopList = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString(", ")

  def tokenStats(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    Tables.documents(spark, dir).select(
      $"doc_id",
      size(toks).as("n_tok"),
      size(array_distinct(toks)).as("n_uniq"),
      halfUp4(TextAnalysis.sumTokenLen(toks).cast("double") / size(toks)).as("avg_tok_len"),
      halfUp4(TextAnalysis.countIn(toks, TextAnalysis.StopwordsEn).cast("double") / size(toks)).as("stop_ratio"))
      .orderBy("doc_id")
  }

  private val tokenStatsOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |SELECT doc_id,
       |       CAST(len(toks) AS INTEGER) AS n_tok,
       |       CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
       |       floor((CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000.0 AS avg_tok_len,
       |       floor((CAST(len(list_filter(toks, t -> t IN ($stopList))) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000.0 AS stop_ratio
       |FROM t
       |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: marker-token scores per language, deterministic
    * argmax (LangMarkers priority order), confusion counts vs the labeled
    * `lang` column. */
  def langId(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val scores = TextAnalysis.LangMarkers.map { case (l, ws) => l -> TextAnalysis.countIn(toks, ws) }
    Tables.documents(spark, dir)
      .select($"lang", TextAnalysis.predictedLang(scores).as("pred"))
      .groupBy($"lang", $"pred")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred")
  }

  /** The tokenize → score → argmax chain ending in `p(lang, pred)` — one
    * definition for the x41 confusion oracle and x131's metrics oracle. */
  private def langPredCtes: String = {
    val scoreExpr = TextAnalysis.LangMarkers.map { case (l, ws) =>
      s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$l"
    }.mkString(",\n       |       ")
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val cases = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN s_$l > 0 AND $ge THEN '$l'"
    }.mkString("\n       |            ")
    s"""WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT lang,
       |       $scoreExpr
       |      FROM t),
       |p AS (SELECT lang,
       |       CASE $cases
       |            ELSE 'und' END AS pred
       |      FROM s)""".stripMargin
  }

  private val langIdOracle =
    langPredCtes + s"""
       |SELECT lang, pred, count(*) AS n
       |FROM p
       |GROUP BY lang, pred
       |ORDER BY lang, pred""".stripMargin

  /** x131: per-class precision / recall / F1 for the x41 language-ID
    * heuristic — the multiclass evaluation rollup of the confusion
    * matrix (binary metrics live in x112–x114): per true language,
    * tp / fp / fn as exact integers; precision and recall are half-up
    * ratios and F1 uses the single-division form 2·tp / (2·tp + fp + fn)
    * — algebraically equal to the harmonic mean but with ONE rounding
    * site instead of composing two already-rounded ratios. 'und'
    * predictions count as false negatives for their true class. Scale:
    * one scored scan, two tiny per-language aggregates. */
  def langPrf(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val scores = TextAnalysis.LangMarkers.map { case (l, ws) => l -> TextAnalysis.countIn(toks, ws) }
    val pred = Tables.documents(spark, dir)
      .select($"lang", TextAnalysis.predictedLang(scores).as("pred"))
    val tpFn = pred.groupBy($"lang")
      .agg(sum(($"pred" === $"lang").cast("long")).as("tp"),
        sum(($"pred" =!= $"lang").cast("long")).as("fn"))
    val fp = pred.filter($"pred" =!= $"lang")
      .groupBy($"pred").agg(count(lit(1)).as("fp"))
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, lit(0.0))
        .otherwise(QueryUtil.halfUp(num.cast("double") / den.cast("double"), 4))
    tpFn.join(fp, $"lang" === $"pred", "left")
      .select($"lang", $"tp", coalesce($"fp", lit(0L)).as("fp"), $"fn")
      .select($"lang", $"tp", $"fp", $"fn",
        ratio($"tp", $"tp" + $"fp").as("precision"),
        ratio($"tp", $"tp" + $"fn").as("recall"),
        ratio(lit(2) * $"tp", lit(2) * $"tp" + $"fp" + $"fn").as("f1"))
      .orderBy("lang")
  }

  private val langPrfOracle =
    langPredCtes + s""",
       |tf AS (SELECT lang,
       |         CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN pred <> lang THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |       FROM p GROUP BY lang),
       |fpc AS (SELECT pred, CAST(count(*) AS BIGINT) AS fp
       |        FROM p WHERE pred <> lang GROUP BY pred),
       |m AS (SELECT tf.lang, tf.tp, coalesce(fpc.fp, 0) AS fp, tf.fn
       |      FROM tf LEFT JOIN fpc ON fpc.pred = tf.lang)
       |SELECT lang, tp, fp, fn,
       |       CASE WHEN tp + fp = 0 THEN 0.0
       |            ELSE floor((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) * 10000 + 0.5) / 10000.0 END AS precision,
       |       CASE WHEN tp + fn = 0 THEN 0.0
       |            ELSE floor((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) * 10000 + 0.5) / 10000.0 END AS recall,
       |       CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
       |            ELSE floor((CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)) * 10000 + 0.5) / 10000.0 END AS f1
       |FROM m
       |ORDER BY lang""".stripMargin

  /** Quality score: bounded length, non-stopword share, mean token length —
    * combined with fixed weights, rounded once. */
  def quality(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val stopRatio = TextAnalysis.countIn(toks, TextAnalysis.StopwordsEn).cast("double") / size(toks)
    Tables.documents(spark, dir).select(
      $"doc_id",
      size(toks).as("n_tok"),
      halfUp4(stopRatio).as("stop_ratio"),
      halfUp4(TextAnalysis.qualityScore(toks)).as("quality"))
      .orderBy("doc_id")
  }

  private val qualityOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |m AS (SELECT doc_id,
       |       CAST(len(toks) AS INTEGER) AS n_tok,
       |       CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_len,
       |       CAST(len(list_filter(toks, t -> t IN ($stopList))) AS DOUBLE) / len(toks) AS stop_ratio
       |      FROM t)
       |SELECT doc_id, n_tok,
       |       floor(stop_ratio * 10000 + 0.5) / 10000.0 AS stop_ratio,
       |       floor((0.3 * (CAST(least(n_tok, 100) AS DOUBLE) / 100.0)
       |             + 0.4 * (1.0 - stop_ratio)
       |             + 0.3 * (least(avg_len, 10.0) / 10.0)) * 10000 + 0.5) / 10000.0 AS quality
       |FROM m
       |ORDER BY doc_id""".stripMargin

  /** K-gram fingerprint (X4 "document fingerprinting"): min-md5 over all
    * character 16-grams. */
  def fingerprint(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id",
      TextAnalysis.fingerprint($"text", 16).as("fp"),
      greatest(length($"text") - 15, lit(1)).as("n_grams"))
      .orderBy("doc_id")
  }

  private val fingerprintOracle =
    """SELECT doc_id,
      |       list_aggregate(list_transform(range(1, greatest(length(text) - 15, 1) + 1),
      |                                     i -> md5(substr(text, CAST(i AS INTEGER), 16))), 'min') AS fp,
      |       CAST(greatest(length(text) - 15, 1) AS INTEGER) AS n_grams
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Corpus term frequency: explode + count + top-50 (TakeOrdered). */
  def termFreq(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens($"text")).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"term")
      .limit(50)
  }

  private val termFreqOracle =
    """SELECT term, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |GROUP BY term
      |ORDER BY cnt DESC, term
      |LIMIT 50""".stripMargin

  /** TF-IDF: per-doc term scores tf * ln(N/df), top-3 terms per doc. */
  def tfidf(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val terms = docs
      .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"term")
    terms.join(dfreq, "term").crossJoin(n)
      .select($"doc_id", $"term",
        round($"tf" * log($"n_docs" / $"df"), 4).as("score"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"doc_id", $"rk", $"term", $"score")
      .orderBy("doc_id", "rk")
  }

  private val tfidfOracle =
    """WITH terms AS (SELECT doc_id, term, count(*) AS tf
      |               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |               GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (SELECT doc_id, term,
      |             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
      |           FROM terms JOIN dfreq USING (term) CROSS JOIN n),
      |r AS (SELECT doc_id, term, score,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      |      FROM scored)
      |SELECT doc_id, rk, term, score FROM r
      |WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Corpus bigram frequencies (order-sensitive n-gram stats). Native
    * one-pass `token_ngrams` — the declarative
    * `transform(sequence(...), i -> concat_ws(...))` form pays an
    * interpreted lambda per element, which dominated this query's bench. */
  def bigrams(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(call_function("token_ngrams", $"text", lit(2))).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bigram")
      .limit(40)
  }

  private val bigramsOracle =
    """SELECT bigram, count(*) AS cnt
      |FROM (SELECT unnest(CASE WHEN len(toks) >= 2
      |               THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
      |               ELSE [] END) AS bigram
      |      FROM (SELECT string_split(text, ' ') AS toks FROM documents))
      |GROUP BY bigram
      |ORDER BY cnt DESC, bigram
      |LIMIT 40""".stripMargin

  /** X4/X1: winnowing fingerprint sets (MOSS scheme) — min md5 per sliding
    * window of 8-gram position hashes, the position-robust signature used
    * for substring-level dedup. Output is scalar-only (count, first, set
    * hash): the driver compare can't sort list cells, and the set hash
    * pins the full set anyway. */
  def winnow(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        QueryUtil.fence(call_function("winnow_fps", $"text", lit(8), lit(4))).as("fps"))
      .select($"doc_id",
        size($"fps").as("n_fp"),
        element_at($"fps", 1).as("fp_first"),
        md5(array_join($"fps", "")).as("fp_set_hash"))
      .orderBy("doc_id")
  }

  private val winnowOracle =
    """WITH h AS (SELECT doc_id,
      |             list_transform(range(1, greatest(length(text) - 7, 1) + 1),
      |                            i -> md5(substr(text, CAST(i AS INTEGER), 8))) AS hs
      |           FROM documents),
      |w AS (SELECT doc_id, hs, len(hs) AS m FROM h),
      |f AS (SELECT doc_id,
      |        list_sort(list_distinct(list_transform(range(1, greatest(m - 4 + 1, 1) + 1),
      |          j -> list_aggregate(hs[CAST(j AS INTEGER):CAST(least(j + 3, m) AS INTEGER)], 'min')))) AS fps
      |      FROM w)
      |SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fp, fps[1] AS fp_first,
      |       md5(array_to_string(fps, '')) AS fp_set_hash
      |FROM f
      |ORDER BY doc_id""".stripMargin

  /** Count-min dimensions for x24 (d hash rows × w columns). */
  private val CmsD = 4
  private val CmsW = 256

  /** x24: count-min-sketch heavy hitters, the sketch BUILT IN-ENGINE with
    * plain relational ops (q31 uses Spark's built-in HLL/KLL; this shows
    * the engine can also construct a sketch declaratively): d=4 salted
    * md5 hash rows × w=256 counters, cell = sum of true counts hashing
    * there, estimate = min over rows — est ≥ exact ALWAYS (the CMS
    * guarantee, asserted per row in the result), overcount = collision
    * mass. Deterministic hashes → both engines build the identical
    * sketch. 100 TB: the sketch is d·w counters (an aggregate of the
    * token counts, broadcast-sized); heavy-hitter candidates come from
    * the exact top-k here (fixture vocab is tiny) — at scale the same
    * cells serve point queries without the exact table. */
  def countMinTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    val hashed = exact.select($"tok", $"c",
      explode(array((0 until CmsD).map(j => struct(lit(j).as("j"),
        (md5Int(concat_ws(":", lit(j), $"tok"), 4) % CmsW).as("h"))): _*)).as("s"))
      .select($"tok", $"c", $"s.j".as("j"), $"s.h".as("h"))
    val cells = hashed.groupBy($"j", $"h").agg(sum($"c").as("cell"))
    val est = hashed.join(cells, Seq("j", "h"))
      .groupBy($"tok", $"c").agg(min($"cell").as("est"))
    val wTop = Window.orderBy($"c".desc, $"tok")
    est.withColumn("rk", row_number().over(wTop))
      .filter($"rk" <= 5)
      .select($"rk", $"tok", $"c".as("exact_c"), $"est",
        ($"est" - $"c").as("overcount"), ($"est" >= $"c").as("cms_bound_holds"))
      .orderBy("rk")
  }

  private val countMinOracle = {
    val rows = (0 until CmsD).map(j =>
      s"SELECT tok, c, $j AS j, ${QueryUtil.md5IntSql(s"'$j' || ':' || tok", 4)} % $CmsW AS h FROM exact")
      .mkString("\n       UNION ALL ")
    s"""WITH exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       |           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |           GROUP BY tok),
       |hashed AS (
       |       $rows),
       |cells AS (SELECT j, h, CAST(sum(c) AS BIGINT) AS cell FROM hashed GROUP BY j, h),
       |est AS (SELECT hashed.tok, hashed.c, min(cells.cell) AS est
       |        FROM hashed JOIN cells ON hashed.j = cells.j AND hashed.h = cells.h
       |        GROUP BY hashed.tok, hashed.c),
       |r AS (SELECT tok, c, est, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM est)
       |SELECT CAST(rk AS INTEGER) AS rk, tok, c AS exact_c, est,
       |       est - c AS overcount, (est >= c) AS cms_bound_holds
       |FROM r WHERE rk <= 5
       |ORDER BY rk""".stripMargin
  }

  /** x111's query phrases: (label, first word, second word) spanning the
    * fixture frequency range — a hot phrase, two mid ones, a singleton,
    * and one with zero matches (the empty-result path both engines must
    * agree on). Shared by the Spark frame and the generated VALUES. */
  private val PhraseSet = Seq(
    ("table hash", "table", "hash"), ("merge group", "merge", "group"),
    ("customer join", "customer", "join"), ("line dup", "line", "dup"),
    ("spark nowhere", "spark", "nowhere"))

  /** x111: positional phrase search — exact "w1 w2" phrase lookup against
    * a positional posting list (doc_id, pos, term), the inverted-index
    * primitive BM25-style scoring can't express (bag-of-words loses
    * adjacency). Each phrase joins the postings twice: p1 on the first
    * word, p2 on (same doc, pos+1, second word); per phrase: occurrence
    * count, matching-doc count, first matching doc. A zero-hit phrase
    * stays in the output via the left join (count 0). Scale: the phrase
    * list is a broadcast literal frame, so BOTH posting sides are pruned
    * to the queried words before the (doc_id, pos) equi-join — postings
    * for a 5-word vocabulary subset, not the corpus; in a deployment the
    * postings table is bucketed by term so this is a broadcast-pruned
    * scan per word. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posts = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "term")))
    val phrases = PhraseSet.toDF("phrase", "w1", "w2")
    val m = broadcast(phrases)
      .join(posts.as("p1"), $"p1.term" === $"w1")
      .join(posts.as("p2"),
        $"p2.doc_id" === $"p1.doc_id" && $"p2.pos" === $"p1.pos" + 1 &&
          $"p2.term" === $"w2")
      .groupBy($"phrase")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct($"p1.doc_id").as("n_docs"),
        min($"p1.doc_id").as("first_doc"))
    phrases.select($"phrase").join(m, Seq("phrase"), "left")
      .select($"phrase", coalesce($"n_occ", lit(0L)).as("n_occ"),
        coalesce($"n_docs", lit(0L)).as("n_docs"), $"first_doc")
      .orderBy("phrase")
  }

  private val phraseSearchOracle = {
    val values = PhraseSet
      .map { case (p, a, b) => s"('$p', '$a', '$b')" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM t),
       |p AS (SELECT doc_id, i AS pos, toks[i] AS term FROM e),
       |ph(phrase, w1, w2) AS (VALUES $values),
       |m AS (SELECT ph.phrase, count(*) AS n_occ,
       |        count(DISTINCT p1.doc_id) AS n_docs,
       |        min(p1.doc_id) AS first_doc
       |      FROM ph
       |      JOIN p p1 ON p1.term = ph.w1
       |      JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
       |                AND p2.term = ph.w2
       |      GROUP BY ph.phrase)
       |SELECT ph.phrase, coalesce(m.n_occ, 0) AS n_occ,
       |       coalesce(m.n_docs, 0) AS n_docs, m.first_doc
       |FROM ph LEFT JOIN m USING (phrase)
       |ORDER BY phrase""".stripMargin
  }

  /** x94's redaction pattern. The fixtures are synthetic word salad with
    * no real PII, so the pattern targets a token family that IS present
    * ("customer"); the deliverable is the regex scan/replace plumbing and
    * its cross-engine parity (Java regex vs RE2 agree on this conservative
    * alternation-free class), with the pattern a config knob. */
  private val RedactPat = "cust[a-z]*"

  /** x94: regex scan + redaction — count pattern hits per document,
    * redact them, and emit the redacted text's length and md5 (the
    * auditable trace a PII-scrub stage leaves without storing cleartext).
    * Scale: narrow per-row work, no shuffle until the final sort. */
  def regexRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val red = regexp_replace($"text", RedactPat, "[X]")
    Tables.documents(spark, dir)
      .select($"doc_id",
        regexp_count($"text", lit(RedactPat)).cast("long").as("n_hits"),
        length(red).cast("long").as("red_len"),
        md5(red).as("red_md5"))
      .orderBy("doc_id")
  }

  private val regexRedactOracle =
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$RedactPat')) AS BIGINT) AS n_hits,
       |       CAST(length(regexp_replace(text, '$RedactPat', '[X]', 'g')) AS BIGINT) AS red_len,
       |       md5(regexp_replace(text, '$RedactPat', '[X]', 'g')) AS red_md5
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** x120: BPE merge-round statistics — the tokenizer-induction aggregate:
    * weighted adjacent-character-pair counts over the corpus vocabulary
    * (pair count = Σ word_freq over each within-word adjacency position,
    * the quantity byte-pair encoding maximizes per merge), top-10 merge
    * candidates with the number of distinct word forms containing each.
    * Rank 1 IS the next BPE merge. Pair enumeration is ARRAY-LOCAL
    * (transform over sequence — the x20 recipe: zero shuffle to build
    * adjacencies); the only corpus-scale shuffle is the word-frequency
    * aggregate, and everything after is vocab-bounded. The final ranking
    * window is global but runs over the distinct-pair frame (≤ |alphabet|²
    * rows — the q62 documented-tiny single-partition sort). */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("wc"))
      .filter(length($"word") > 1)
    val pairs = words.select($"word", $"wc",
      explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
    val pc = pairs.groupBy($"pair")
      .agg(sum($"wc").as("n_occ"), countDistinct($"word").as("n_word_forms"))
    pc.withColumn("rk",
        row_number().over(Window.orderBy($"n_occ".desc, $"pair")))
      .filter($"rk" <= 10)
      .select($"rk", $"pair", $"n_occ", $"n_word_forms")
      .orderBy("rk")
  }

  private val bpePairsOracle =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |w AS (SELECT word, count(*) AS wc FROM toks GROUP BY word),
      |bg AS (SELECT word, wc,
      |         unnest(list_transform(generate_series(1, length(word) - 1),
      |                               i -> substr(word, i, 2))) AS pair
      |       FROM w WHERE length(word) > 1),
      |pc AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occ,
      |              count(DISTINCT word) AS n_word_forms
      |       FROM bg GROUP BY pair),
      |r AS (SELECT pair, n_occ, n_word_forms,
      |        row_number() OVER (ORDER BY n_occ DESC, pair) AS rk
      |      FROM pc)
      |SELECT rk, pair, n_occ, n_word_forms FROM r
      |WHERE rk <= 10
      |ORDER BY rk""".stripMargin

  /** Rank depth for the Zipf fit (the whole vocabulary when smaller). */
  private val ZipfTopN = 100

  /** x121: Zipf-law fit — the corpus-statistics QA: OLS of ln(freq) on
    * ln(rank) over the top-[[ZipfTopN]] tokens. Natural language sits near
    * slope −1; a synthetic or templated corpus shows up as a flat or
    * kinked rank-frequency line, which is exactly what this monitor
    * exists to catch. Determinism: each ln is quantized HALF-UP to 1e-9
    * fixed point BEFORE the moment sums (the x20/x59 ln recipe), so Σx,
    * Σy are int64 and Σxy, Σx², Σy² are decimal/HUGEINT — the q70
    * exact-moment OLS on exact integers, doubles entering only in the
    * final slope/intercept/r² divisions. Scale: token-frequency aggregate
    * is the one corpus-scale shuffle; ranking and regression run on the
    * vocab-bounded then [[ZipfTopN]]-row frame. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val tf = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("f"))
    val ranked = tf
      .withColumn("rk", row_number().over(Window.orderBy($"f".desc, $"tok")))
      .filter($"rk" <= ZipfTopN)
    val fp = ranked.select(
      floor(log($"rk".cast("double")) * 1e9 + 0.5).cast("long").as("x"),
      floor(log($"f".cast("double")) * 1e9 + 0.5).cast("long").as("y"))
    val m = fp.agg(count(lit(1)).cast("long").as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x".cast(dec) * $"y".cast(dec)).as("sxy"),
      sum($"x".cast(dec) * $"x".cast(dec)).as("sxx"),
      sum($"y".cast(dec) * $"y".cast(dec)).as("syy"))
    val cov = ($"n".cast(dec) * $"sxy" - $"sx".cast(dec) * $"sy".cast(dec)).cast("double")
    val varx = ($"n".cast(dec) * $"sxx" - $"sx".cast(dec) * $"sx".cast(dec)).cast("double")
    val vary = ($"n".cast(dec) * $"syy" - $"sy".cast(dec) * $"sy".cast(dec)).cast("double")
    m.withColumn("slope_raw", cov / varx)
      .select($"n".as("n_terms"),
        QueryUtil.halfUp($"slope_raw", 6).as("slope"),
        QueryUtil.halfUp((($"sy".cast("double") - $"slope_raw" * $"sx".cast("double"))
          / $"n".cast("double")) / 1e9, 6).as("intercept_ln"),
        QueryUtil.halfUp(cov * cov / (varx * vary), 6).as("r2"))
  }

  private val zipfFitOracle =
    s"""WITH tf AS (SELECT tok, count(*) AS f
       |           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |           GROUP BY tok),
       |ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rk FROM tf),
       |fp AS (SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS x,
       |              CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS y
       |       FROM ranked WHERE rk <= $ZipfTopN),
       |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |        sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
       |        sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
       |        sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
       |      FROM fp)
       |SELECT CAST(n AS BIGINT) AS n_terms,
       |       floor((CAST(n * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
       |              / CAST(n * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS slope,
       |       floor((((CAST(sy AS DOUBLE)
       |                - (CAST(n * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
       |                   / CAST(n * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE))
       |                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 1000000000.0) * 1000000 + 0.5) / 1000000.0 AS intercept_ln,
       |       floor(((CAST(n * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
       |               * CAST(n * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE))
       |              / (CAST(n * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
       |                 * CAST(n * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE))) * 1000000 + 0.5) / 1000000.0 AS r2
       |FROM m""".stripMargin

  // ---------------------------------------------------------------- x149

  /** Absolute discount for interpolated Kneser-Ney. */
  private val KnD = 0.75

  private val KnTopN = 25

  /** x149: Kneser-Ney-smoothed bigram LM — the corpus language-model
    * statistic the surprisal family builds toward: for the top bigrams,
    * the interpolated-KN probability
    * P(w2|w1) = max(c−D,0)/c(w1·) + D·N1+(w1,·)/c(w1·) · N1+(·,w2)/B,
    * where the continuation counts N1+ are DISTINCT-neighbor counts (the
    * KN insight: "how many contexts does w2 complete" rather than raw
    * frequency) and B is the bigram-type count. Everything is exact
    * integer counts; the one double expression is written in the same
    * operation order in both engines and rounded half-up once.
    *
    * Scale: all aggregates live on the bigram TYPE table (vocab-bounded,
    * corpus-size-free): one explode+group per marginal, joined back on
    * w1/w2 — the same shuffle shape as x46's TF-IDF. The occurrence
    * stream itself is touched once. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = Tables.documents(spark, dir)
      .select(explode(call_function("token_ngrams", $"text", lit(2))).as("bigram"))
      .select(split_part($"bigram", lit(" "), lit(1)).as("w1"),
        split_part($"bigram", lit(" "), lit(2)).as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
    val left = bg.groupBy($"w1")
      .agg(sum($"c").as("cw1"), count(lit(1)).as("n1r"))
    val right = bg.groupBy($"w2").agg(count(lit(1)).as("n1l"))
    val types = bg.agg(count(lit(1)).as("bt"))
    bg.join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(types))
      .select(concat($"w1", lit(" "), $"w2").as("bigram"),
        $"c", $"cw1", $"n1r", $"n1l", $"bt",
        halfUp4(
          greatest($"c".cast("double") - KnD, lit(0.0)) / $"cw1".cast("double")
            + lit(KnD) * ($"n1r".cast("double") / $"cw1".cast("double"))
              * ($"n1l".cast("double") / $"bt".cast("double"))).as("p_kn"))
      .orderBy($"c".desc, $"bigram")
      .limit(KnTopN)
  }

  private val kneserNeyOracle =
    s"""WITH bg AS (
       |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(CASE WHEN len(toks) >= 2
       |                 THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
       |                 ELSE [] END) AS bigram
       |        FROM (SELECT string_split(text, ' ') AS toks FROM documents))
       |  GROUP BY 1, 2),
       |l AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1, CAST(count(*) AS BIGINT) AS n1r
       |      FROM bg GROUP BY w1),
       |r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1l FROM bg GROUP BY w2),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM bg)
       |SELECT bg.w1 || ' ' || bg.w2 AS bigram, c, cw1, n1r, n1l, bt,
       |       floor((greatest(CAST(c AS DOUBLE) - $KnD, 0.0) / CAST(cw1 AS DOUBLE)
       |              + $KnD * (CAST(n1r AS DOUBLE) / CAST(cw1 AS DOUBLE))
       |                * (CAST(n1l AS DOUBLE) / CAST(bt AS DOUBLE))) * 10000 + 0.5) / 10000.0 AS p_kn
       |FROM bg JOIN l ON bg.w1 = l.w1 JOIN r ON bg.w2 = r.w2 CROSS JOIN t
       |ORDER BY c DESC, bigram
       |LIMIT $KnTopN""".stripMargin

  /** PII patterns shared verbatim by the Spark expressions and the DuckDB
    * oracle (plain char classes + bounded quantifiers — identical
    * semantics under Java regex and RE2). */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** x159: PII detection + redaction — the scrubbing pass a training-data
    * pipeline runs before anything else. The fixture corpus contains no
    * PII, so every 5th document gets a DETERMINISTIC synthetic email and
    * phone appended (derived from doc_id, identically in both engines —
    * the x130 clone trick), then the scrubber counts and masks both
    * pattern families. The md5 of the redacted text pins the exact
    * replacement behavior (all occurrences, left-to-right), and the
    * counts are the per-doc audit a privacy review reads.
    *
    * Scale: pure per-row map — no shuffle at all except the driver-facing
    * ORDER BY; regex matching is codegen'd string work, embarrassingly
    * parallel over any partitioning. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withPii = Tables.documents(spark, dir)
      .select($"doc_id",
        when($"doc_id" % 5 === 0,
          concat($"text", lit(" contact user"), $"doc_id", lit("@example.com or 555-01"),
            lpad(($"doc_id" % 100).cast("string"), 2, "0"), lit("-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
          .otherwise($"text").as("text"))
    withPii.select(
        $"doc_id",
        regexp_count($"text", lit(EmailRe)).cast("int").as("n_email"),
        regexp_count($"text", lit(PhoneRe)).cast("int").as("n_phone"),
        md5(regexp_replace(regexp_replace($"text", EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  private val piiRedactOracle =
    s"""WITH p AS (SELECT doc_id,
       |        CASE WHEN doc_id % 5 = 0
       |             THEN text || ' contact user' || doc_id || '@example.com or 555-01'
       |                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
       |                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |             ELSE text END AS text
       |      FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER) AS n_email,
       |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INTEGER) AS n_phone,
       |       md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |           '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM p
       |ORDER BY doc_id""".stripMargin

  /* TextRank keyword extraction (PageRank over the
   * word co-occurrence graph), sliding-window distinct counting with
   * mergeable HLL day-sketches, and range-predicate selectivity estimation
   * from the q97 histogram — closing the stats loop stats → estimate →
   * audit for scans the way q94/q98 closed it for joins.
   * Elsewhere: x162 and x163 (EngineOpsQueries).
   */

  /** x161 PageRank iterations (matches x63's unroll depth). */
  private val TrIters = 3

  /** Unordered token pairs `(a, b)` (a < b) of each document's
    * whitespace tokens at distance 1 and 2, one row per occurrence —
    * the ±2-window co-occurrence edges of x161 (TextRank) and x20 (PMI).
    * Pair generation is array-local: two shifted `slice` + `zip_with`
    * passes per row, no token self-join. */
  private[queries] def windowPairs(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val n = size(t)
    def pairsAt(d: Int) = zip_with(
      slice(t, lit(1), greatest(n - d, lit(0))),
      slice(t, lit(1 + d), greatest(n - d, lit(0))),
      (x, y) => struct(least(x, y).as("a"), greatest(x, y).as("b")))
    docs.select(explode(concat(pairsAt(1), pairsAt(2))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Oracle rendering of [[windowPairs]]: the `pr(a, b)` CTE (after
    * `base` and `tokpos`). */
  private[queries] def windowPairsSql: String =
    """base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tokpos AS MATERIALIZED (
      |  SELECT doc_id, pos, toks[pos] AS tok FROM (
      |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM base)),
      |pr AS MATERIALIZED (
      |  SELECT least(l.tok, r.tok) AS a, greatest(l.tok, r.tok) AS b
      |  FROM tokpos l JOIN tokpos r
      |    ON l.doc_id = r.doc_id AND r.pos > l.pos AND r.pos <= l.pos + 2
      |  WHERE l.tok <> r.tok)""".stripMargin

  /** x161: TextRank keyword extraction (Mihalcea & Tarau 2004) — corpus
    * keywords are the highest-PageRank nodes of the word co-occurrence
    * graph (±2 token window, symmetrized, weight = co-occurrence count).
    * Reuses x20's ARRAY-LOCAL pair generation (shifted slice + zip_with,
    * zero shuffle until the vocab-bounded edge aggregate) and x63's
    * exact-integer 1e-9 fixed-point PageRank trajectory, so the oracle
    * can re-derive the full 3-iteration ranking with integer `//` CTEs.
    * Symmetrization guarantees no dangling nodes, hence zero dangling
    * share in both engines.
    *
    * Scale: pair generation is per-row; the edge aggregate and every
    * rank iteration are vocab-bounded (graph size = vocabulary², sparse)
    * — independent of corpus size beyond the first aggregate. */
  def textrank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cab = windowPairs(Tables.documents(spark, dir))
      .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
    val edges = cab.select($"a".as("src"), $"b".as("dst"), $"w")
      .unionByName(cab.select($"b".as("src"), $"a".as("dst"), $"w"))
    Graph.pageRank(edges, TrIters)
      .orderBy($"rank_fp".desc, $"node")
      .limit(15)
      .select($"node".as("token"), $"rank_fp",
        ($"rank_fp" / lit(1e9)).as("rank"))
  }

  private val textrankOracle: String = {
    s"""WITH $windowPairsSql,
       |cab AS MATERIALIZED (SELECT a, b, count(*) AS w FROM pr GROUP BY 1, 2),
       |e0 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, w FROM cab
       |  UNION ALL SELECT b, a, w FROM cab),
       |${GraphQueries.pageRankSql}
       |SELECT node AS token, rank_fp, rank_fp / 1000000000.0 AS rank
       |FROM r3
       |ORDER BY rank_fp DESC, token
       |LIMIT 15""".stripMargin
  }

  /* Topic segmentation (TextTiling's block-cosine
   * cut detection in exact integer arithmetic) and Inverse-Cloze-Task
   * training pairs (the retrieval-pretraining example builder).
   * Elsewhere: x176 (PipelineQueries).
   */

  /** x175 window width (tokens). */
  private val SegW = 16

  /** x175: topic segmentation — TextTiling's core (Hearst 1997): cut a
    * document where adjacent fixed-width token windows stop looking
    * alike. Window similarity is the bag-of-words cosine, and the cut
    * decision cos < 0.5 is the cross-multiplied EXACT-integer predicate
    * 4·dot² < ‖a‖²·‖b‖² — counts are integers, so no sqrt, no float
    * threshold, no drift. Adjacent windows sharing no token (dot = 0)
    * cut by definition; the per-doc output pins the ordered cut set with
    * an md5 (the x75 scene-cut convention, applied to text).
    *
    * Scale: window token counts are one explode + count keyed on
    * (doc, win, tok); the adjacent-window dot is an equi-join on
    * (doc, tok, win+1) — everything stays keyed by doc_id, no
    * corpus-wide stage at all. */
  def topicSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tc = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(SegW)).cast("int"))).as("w"))
      .select($"doc_id", $"w",
        explode(slice($"toks", $"w" * SegW + 1, lit(SegW))).as("tok"))
      .groupBy($"doc_id", $"w", $"tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // norms + both dot sides
    val norm = tc.groupBy($"doc_id", $"w").agg(sum($"cnt" * $"cnt").as("nn"))
    val dots = tc.select($"doc_id", $"w", $"tok", $"cnt")
      .join(tc.select($"doc_id", ($"w" - 1).as("w"), $"tok", $"cnt".as("cnt_b")),
        Seq("doc_id", "w", "tok"))
      .groupBy($"doc_id", $"w")
      .agg(sum($"cnt" * $"cnt_b").as("dot"))
    val spine = norm.select($"doc_id", $"w", $"nn")
      .join(norm.select($"doc_id", ($"w" - 1).as("w"), $"nn".as("nn_b")),
        Seq("doc_id", "w"))
      .join(dots, Seq("doc_id", "w"), "left")
      .na.fill(0L, Seq("dot"))
      // label the cut with the RIGHT window index (the window the new
      // topic starts at — and the oracle's n2.w)
      .select($"doc_id", ($"w" + 1).as("w"),
        (lit(4) * $"dot" * $"dot" < $"nn" * $"nn_b").cast("int").as("cut"))
    spine.groupBy($"doc_id")
      .agg((count(lit(1)) + 1).cast("int").as("n_windows"),
        sum($"cut").cast("int").as("n_cuts"),
        md5(coalesce(array_join(
          transform(sort_array(collect_list(when($"cut" === 1, struct($"w")))),
            s => s.getField("w").cast("string")), ","), lit(""))).as("cuts_md5"))
      .orderBy("doc_id")
  }

  private val topicSegmentsOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // $SegW) + 1)) AS w FROM t),
       |tok AS (SELECT doc_id, w, unnest(list_slice(toks, w * $SegW + 1, w * $SegW + $SegW)) AS tok
       |        FROM e),
       |tc AS MATERIALIZED (
       |  SELECT doc_id, w, tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2, 3),
       |nrm AS MATERIALIZED (
       |  SELECT doc_id, w, CAST(sum(cnt * cnt) AS BIGINT) AS nn FROM tc GROUP BY 1, 2),
       |dots AS (
       |  SELECT a.doc_id, b.w AS w, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
       |  FROM tc a JOIN tc b
       |    ON a.doc_id = b.doc_id AND a.tok = b.tok AND b.w = a.w + 1
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT n1.doc_id, n2.w,
       |         CAST(4 * coalesce(d.dot, 0) * coalesce(d.dot, 0)
       |              < n1.nn * n2.nn AS INTEGER) AS cut
       |  FROM nrm n1
       |  JOIN nrm n2 ON n1.doc_id = n2.doc_id AND n2.w = n1.w + 1
       |  LEFT JOIN dots d ON d.doc_id = n2.doc_id AND d.w = n2.w)
       |SELECT doc_id,
       |       CAST(count(*) + 1 AS INTEGER) AS n_windows,
       |       CAST(sum(cut) AS INTEGER) AS n_cuts,
       |       md5(coalesce(string_agg(CASE WHEN cut = 1 THEN CAST(w AS VARCHAR) END,
       |                               ',' ORDER BY w), '')) AS cuts_md5
       |FROM spine
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /* Unsupervised keyphrase extraction —
   * RAKE (x215), the degree/frequency co-occurrence scorer that
   * complements x161's TextRank (graph centrality) with a one-pass
   * phrase statistic. */

  /** RAKE stopwords in this corpus (the fixture's function words). */
  private val RakeStops = Seq("the", "a")

  /** Maximum phrase length — stopword-delimited runs are re-chunked to
    * this cap so the sparse-stopword fixture can't produce degenerate
    * 50-token "phrases". */
  private val RakeMaxLen = 3

  /** Published keyphrases. */
  private val RakeTop = 20

  /** x215: RAKE keyphrase extraction — candidate phrases are maximal
    * non-stopword runs (re-chunked to ≤ [[RakeMaxLen]] tokens), each
    * word scores deg/freq (deg = total length of phrases it appears
    * in, freq = its phrase occurrences — words keeping long company
    * outrank merely frequent ones), and a phrase scores the sum of its
    * members' scores. Word scores are exact integer ratios in 1e-6
    * fixed point BEFORE the phrase sum, so every ranking key is an
    * order-free integer. Publishes the top [[RakeTop]] by
    * (score, phrase).
    *
    * Scale: tokenize+explode is the standard corpus pass (x40's
    * shape); phrase and word stats are vocab-bounded aggregates; the
    * scoring join is phrase-member-sized — no pairwise blowup
    * anywhere. */
  def rake(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stops = RakeStops.map(s => s"'$s'").mkString("(", ", ", ")")
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      .filter(length($"tok") > 0)
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val marked = toks.withColumn("is_stop",
      expr(s"CASE WHEN tok IN $stops THEN 1 ELSE 0 END"))
      .withColumn("run_id", sum($"is_stop").over(wDoc))
      .filter($"is_stop" === 0)
    val wRun = Window.partitionBy($"doc_id", $"run_id").orderBy($"pos")
    val chunked = marked
      .withColumn("pn", (row_number().over(wRun) - lit(1)).cast("long"))
      .withColumn("k", expr(s"pn div $RakeMaxLen"))
    val members = chunked.select($"doc_id", $"run_id", $"k", $"pos", $"tok")
      .localCheckpoint(true)
    val wordStats = members
      .join(members.groupBy($"doc_id", $"run_id", $"k")
        .agg(count(lit(1)).as("plen")), Seq("doc_id", "run_id", "k"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
      .select($"tok", expr("(deg * 1000000) div freq").as("wscore_fp"))
    val phrases = members
      .groupBy($"doc_id", $"run_id", $"k")
      .agg(expr("array_join(transform(sort_array(collect_list(" +
        "struct(pos, tok))), s -> s.tok), ' ')").as("phrase"))
    val scored = members.join(broadcast(wordStats), "tok")
      .groupBy($"doc_id", $"run_id", $"k")
      .agg(sum($"wscore_fp").as("pscore_fp"))
      .join(phrases, Seq("doc_id", "run_id", "k"))
    scored.groupBy($"phrase")
      .agg(count(lit(1)).as("support"), max($"pscore_fp").as("score_fp"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"score_fp".desc, $"phrase")).cast("long"))
      .filter($"rk" <= RakeTop)
      .select($"rk", $"phrase", $"support", $"score_fp")
      .orderBy($"rk")
  }

  private val rakeOracle = {
    val stops = RakeStops.map(s => s"'$s'").mkString("(", ", ", ")")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) t
       |  WHERE length(tok) > 0),
       |marked AS MATERIALIZED (
       |  SELECT doc_id, pos, tok,
       |         CAST(sum(CASE WHEN tok IN $stops THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS run_id,
       |         CASE WHEN tok IN $stops THEN 1 ELSE 0 END AS is_stop
       |  FROM toks),
       |members AS MATERIALIZED (
       |  SELECT doc_id, run_id, pos, tok,
       |         CAST((row_number() OVER (PARTITION BY doc_id, run_id
       |           ORDER BY pos) - 1) // $RakeMaxLen AS BIGINT) AS k
       |  FROM marked WHERE is_stop = 0),
       |plens AS (SELECT doc_id, run_id, k, CAST(count(*) AS BIGINT) AS plen
       |          FROM members GROUP BY doc_id, run_id, k),
       |word_stats AS MATERIALIZED (
       |  SELECT m.tok,
       |         CAST((sum(p.plen) * 1000000) // count(*) AS BIGINT) AS wscore_fp
       |  FROM members m JOIN plens p
       |    ON p.doc_id = m.doc_id AND p.run_id = m.run_id AND p.k = m.k
       |  GROUP BY m.tok),
       |phrases AS (
       |  SELECT doc_id, run_id, k,
       |         string_agg(tok, ' ' ORDER BY pos) AS phrase
       |  FROM members GROUP BY doc_id, run_id, k),
       |scored AS (
       |  SELECT m.doc_id, m.run_id, m.k,
       |         CAST(sum(w.wscore_fp) AS BIGINT) AS pscore_fp
       |  FROM members m JOIN word_stats w ON w.tok = m.tok
       |  GROUP BY m.doc_id, m.run_id, m.k),
       |agg0 AS (
       |  SELECT p.phrase, CAST(count(*) AS BIGINT) AS support,
       |         CAST(max(s.pscore_fp) AS BIGINT) AS score_fp
       |  FROM scored s JOIN phrases p
       |    ON p.doc_id = s.doc_id AND p.run_id = s.run_id AND p.k = s.k
       |  GROUP BY p.phrase)
       |SELECT rk, phrase, support, score_fp FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, phrase)
       |              AS BIGINT) AS rk, phrase, support, score_fp
       |  FROM agg0) t
       |WHERE rk <= $RakeTop
       |ORDER BY rk""".stripMargin
  }

  /* Stylometry — Burrows' Delta between
   * document sources (x225), the authorship-attribution distance that
   * compares z-scored most-frequent-word profiles. */

  /** Most-frequent-word profile width. */
  private val DeltaWords = 20

  /** x225: Burrows' Delta — for each source, the per-million rate of
    * the corpus' top-[[DeltaWords]] words; rates are z-scored ACROSS
    * sources per word (exact integer moments, one IEEE sqrt, z
    * quantized to 1e-6 per cell), and Delta(s1,s2) is the mean
    * |z1 − z2| over the profile — one integer div. Published for every
    * source pair, most-similar first: the template-farm detector that
    * works when texts share STYLE but not content (x101's inflation
    * report needs near-identical text; Delta doesn't).
    *
    * Scale: one tokenize+group pass (x40's shape), a vocab-bounded
    * top-M selection, and a |sources|²-row pair frame — the profile
    * matrix is |sources|×M regardless of corpus size. */
  def burrowsDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .localCheckpoint(true)
    val top = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"c".desc, $"tok")))
      .filter($"rk" <= DeltaWords)
      .select($"tok")
    val totals = toks.groupBy($"source").agg(count(lit(1)).as("nt"))
    val cells = toks.join(broadcast(top), "tok")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("cw"))
    // Complete the source × word grid (a source missing a top word has
    // rate 0, not a missing row).
    val grid = totals.crossJoin(broadcast(top))
      .join(cells, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("cw"))
      .select($"source", $"tok", expr("(cw * 1000000) div nt").as("f"))
      .localCheckpoint(true)
    val mom = grid.groupBy($"tok").agg(count(lit(1)).as("ns"),
      sum($"f").as("sf"), sum($"f" * $"f").as("sff"))
    val z = grid.join(broadcast(mom), "tok")
      .select($"source", $"tok",
        expr("CASE WHEN ns * sff - sf * sf > 0 THEN" +
          " CAST(floor((CAST(f AS DOUBLE) - CAST(sf AS DOUBLE)" +
          " / CAST(ns AS DOUBLE))" +
          " / sqrt((CAST(ns AS DOUBLE) * CAST(sff AS DOUBLE)" +
          " - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE))" +
          " / (CAST(ns AS DOUBLE) * CAST(ns - 1 AS DOUBLE)))" +
          " * 1000000 + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("z_fp"))
      .localCheckpoint(true)
    val pairs = z.toDF("s1", "tok", "z1")
      .join(z.toDF("s2", "tok", "z2"), "tok")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2")
      .agg(expr("sum(abs(z1 - z2)) div count(1)").as("delta_fp"))
    pairs.withColumn("rk", row_number().over(
      Window.orderBy($"delta_fp", $"s1", $"s2")).cast("long"))
      .select($"rk", $"s1", $"s2", $"delta_fp")
      .orderBy($"rk")
  }

  private val burrowsOracle =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT source, tok FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS tok
       |    FROM documents) t
       |  WHERE length(tok) > 0),
       |top AS MATERIALIZED (
       |  SELECT tok FROM (
       |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
       |    FROM toks GROUP BY tok) t
       |  WHERE rk <= $DeltaWords),
       |totals AS (SELECT source, CAST(count(*) AS BIGINT) AS nt
       |           FROM toks GROUP BY source),
       |cells AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cw
       |          FROM toks JOIN top USING (tok) GROUP BY source, tok),
       |grid AS MATERIALIZED (
       |  SELECT t.source, w.tok,
       |         CAST((COALESCE(c.cw, 0) * 1000000) // t.nt AS BIGINT) AS f
       |  FROM totals t CROSS JOIN top w
       |  LEFT JOIN cells c ON c.source = t.source AND c.tok = w.tok),
       |mom AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS ns, CAST(sum(f) AS BIGINT) AS sf,
       |         CAST(sum(f * f) AS BIGINT) AS sff
       |  FROM grid GROUP BY tok),
       |z AS MATERIALIZED (
       |  SELECT g.source, g.tok,
       |         CASE WHEN m.ns * m.sff - m.sf * m.sf > 0 THEN
       |           CAST(floor((CAST(g.f AS DOUBLE) - CAST(m.sf AS DOUBLE)
       |             / CAST(m.ns AS DOUBLE))
       |             / sqrt((CAST(m.ns AS DOUBLE) * CAST(m.sff AS DOUBLE)
       |             - CAST(m.sf AS DOUBLE) * CAST(m.sf AS DOUBLE))
       |             / (CAST(m.ns AS DOUBLE) * CAST(m.ns - 1 AS DOUBLE)))
       |             * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS z_fp
       |  FROM grid g JOIN mom m ON m.tok = g.tok),
       |pairs AS (
       |  SELECT a.source AS s1, b.source AS s2,
       |         CAST(sum(abs(a.z_fp - b.z_fp)) // count(*) AS BIGINT) AS delta_fp
       |  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT rk, s1, s2, delta_fp FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY delta_fp, s1, s2) AS BIGINT)
       |           AS rk, s1, s2, delta_fp
       |  FROM pairs) t
       |ORDER BY rk""".stripMargin

  /* APPLYING the learned BPE merges — x120 ranks merge candidates; this actually runs tokenizer
   * induction end-to-end and tokenizes the corpus with the result, then
   * feeds the BPE token counts through x50/x151's sequence packer.
   * Elsewhere: x237 (DedupQueries); x238 (SimilarityQueries); x239
   * (StreamingQueries).
   */

  /** Learned merge rounds — each unrolled as one vocab-local pass (the
    * x63/x35 unrolled-iterations recipe, shared with the oracle CTEs). */
  private val BpeMerges = 6

  /** Token budget per packed sequence (x50/x151's convention). */
  private val PackBudget = 512L

  /** x236: BPE merge application — full tokenizer induction + corpus
    * tokenization as ONE oracle-paired pipeline. Both engines run the
    * IDENTICAL algorithm on the identical representation: each word's
    * segmentation is the string `|s1||s2||...|`, so "merge the best pair
    * (a,b)" is literally `replace(seq, '|a||b|', '|ab|')` — `replace` is
    * left-to-right non-overlapping in both engines, which IS greedy BPE
    * merge order, and the `|...|` wrapping anchors symbol boundaries so a
    * pair can never match across symbols. Per round: adjacent-pair counts
    * weighted by word frequency (x120's quantity) → deterministic argmax
    * (count DESC, pair ASC) → one vocab-local replace. After
    * [[BpeMerges]] rounds the corpus is re-tokenized by joining the doc
    * word stream against the learned vocab segmentation, emitting per doc
    * the BPE token count, an md5 pin of the full in-order token sequence
    * (hash-match = the token STREAMS agree, not just counts), and x151's
    * packing columns (shard cursor prefix-sum, seq_id/seq_off) over the
    * BPE counts — the packer finally running on learned-tokenizer counts
    * instead of whitespace counts.
    *
    * Scale: merge learning is vocab-bounded (Heaps' law — pair counting
    * explodes symbols per VOCAB TYPE, weighted by frequency, never per
    * corpus token) with one tiny argmax per round; each round's replace
    * is one map over the vocab; the final tokenize is one corpus
    * explode + a vocab dimension join (broadcast-able at any realistic
    * vocab) + one per-doc aggregate. Each round localCheckpoints the
    * vocab so the unrolled lineage never re-executes prior rounds. */
  /** (word, wc) vocab of a docs frame with the initial char-level
    * `|s1||s2|...` segmentation. */
  private def bpeVocab(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
      .withColumn("seq", expr(
        "concat('|', array_join(transform(sequence(1, length(word)), " +
          "i -> substring(word, i, 1)), '||'), '|')"))
  }

  /** The weighted argmax pair of a vocab frame (count DESC, pair ASC),
    * with the sentinel always-losing row: when the corpus runs out of
    * pairs (every word fully merged) the round must NO-OP, not
    * cross-join against an empty argmax and erase the vocab. '' symbols
    * build the pattern '|||||', which no real seq contains. */
  private def bpeTopPair(spark: SparkSession, vocab: DataFrame): DataFrame = {
    import spark.implicits._
    val withSyms = vocab.withColumn("sy",
      expr("split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|')"))
    // guard size>1: sequence(1, n) DESCENDS for n < 1 (r7 gotcha)
    withSyms.filter(size($"sy") > 1)
      .select($"wc", explode(expr(
        "transform(sequence(1, size(sy) - 1), " +
          "i -> struct(element_at(sy, i) AS a, element_at(sy, i + 1) AS b))"))
        .as("pr"))
      .groupBy($"pr.a".as("a"), $"pr.b".as("b"))
      .agg(sum($"wc").as("n"))
      .unionByName(Seq(("", "", -1L)).toDF("a", "b", "n"))
      .orderBy($"n".desc, $"a", $"b").limit(1)
      .select($"a", $"b")
  }

  /** Apply one learned merge (a, b) to every word of a vocab frame. */
  private def bpeMerge(vocab: DataFrame, top: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    vocab.crossJoin(broadcast(top))
      .withColumn("seq", expr(
        "replace(seq, concat('|', a, '||', b, '|'), concat('|', a, b, '|'))"))
      .select(col("word"), col("wc"), col("seq"))
  }

  /** Learn [[BpeMerges]] merges on `dir`'s documents and re-tokenize: per
    * doc the BPE token count and the in-order token-stream md5 pin —
    * x236's core, package-visible so the x359 capstone can pack on LEARNED
    * token counts instead of whitespace counts. */
  private[queries] def bpeDocTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val vocab = (1 to BpeMerges).foldLeft(bpeVocab(spark, docs)) { (w0, _) =>
      val w = w0.localCheckpoint() // cut the unrolled lineage per round
      bpeMerge(w, bpeTopPair(spark, w))
    }
    val segs = vocab.select($"word",
      expr("replace(substring(seq, 2, length(seq) - 2), '||', ' ')").as("seg"),
      expr("size(split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|'))")
        .cast("long").as("n_sym"))
    docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
      .filter(length($"word") > 0)
      .join(segs, "word") // vocab dim join; broadcasts via AQE at any sane vocab
      .groupBy($"doc_id")
      .agg(sum($"n_sym").as("n_tok"),
        md5(array_join(transform(sort_array(collect_list(struct($"pos", $"seg"))),
          x => x.getField("seg")), " ")).as("toks_md5"))
  }

  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docToks = bpeDocTokenCounts(spark, dir)
    val cw = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docToks
      .withColumn("shard", $"doc_id" % 8)
      .withColumn("cum_before", coalesce(sum($"n_tok").over(cw), lit(0L)))
      .select($"doc_id", $"shard", $"n_tok", $"toks_md5", $"cum_before",
        expr(s"cum_before div $PackBudget").as("seq_id"),
        ($"cum_before" % PackBudget).as("seq_off"))
      .orderBy($"doc_id")
  }

  /** One unrolled merge round of the oracle (v$i from v${i-1}), with all
    * CTE names behind prefix `p` so the chain can embed inside a larger
    * oracle (the x359 capstone) without name collisions. */
  private def bpeRoundSql(i: Int, p: String): String = {
    val prev = s"${p}v${i - 1}"
    s"""${p}p$i AS (
       |  SELECT pr.a AS a, pr.b AS b, CAST(sum(wc) AS BIGINT) AS n
       |  FROM (SELECT wc,
       |          unnest(list_transform(generate_series(1, len(sy) - 1),
       |            i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS pr
       |        FROM (SELECT wc,
       |                string_split(substr(seq, 2, length(seq) - 2), '||') AS sy
       |              FROM $prev) s
       |        WHERE len(sy) > 1) q
       |  GROUP BY 1, 2),
       |${p}t$i AS (SELECT a, b FROM (SELECT a, b, n FROM ${p}p$i
       |                          UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
       |        ORDER BY n DESC, a, b LIMIT 1),
       |${p}v$i AS MATERIALIZED (
       |  SELECT word, wc,
       |         replace(seq, '|' || a || '||' || b || '|',
       |                 '|' || a || b || '|') AS seq
       |  FROM $prev CROSS JOIN ${p}t$i)""".stripMargin
  }

  /** The full BPE learn→apply oracle chain as CTE text (ends in
    * `${p}doc(doc_id, n_tok, toks_md5)`), name-prefixed for embedding.
    * ONE rendering shared by x236's own oracle (p = "") and the x359 capstone
    * (p = "bpe_") so the two can never drift. */
  private[queries] def bpeChainCtes(p: String): String = {
    val rounds = (1 to BpeMerges).map(bpeRoundSql(_, p)).mkString(",\n")
    s"""${p}w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |${p}v0 AS MATERIALIZED (
       |  SELECT word, wc,
       |         '|' || array_to_string(list_transform(
       |             generate_series(1, length(word)), i -> substr(word, i, 1)),
       |           '||') || '|' AS seq
       |  FROM ${p}w),
       |$rounds,
       |${p}segs AS (
       |  SELECT word,
       |         replace(substr(seq, 2, length(seq) - 2), '||', ' ') AS seg,
       |         CAST(len(string_split(substr(seq, 2, length(seq) - 2), '||'))
       |              AS BIGINT) AS n_sym
       |  FROM ${p}v$BpeMerges),
       |${p}dt AS (
       |  SELECT doc_id, u.pos AS pos, u.word AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
       |       unnest(list_transform(generate_series(1, len(tk)),
       |         i -> struct_pack(pos := i, word := tk[i]))) AS t(u)
       |  WHERE u.word <> ''),
       |${p}doc AS (
       |  SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tok,
       |         md5(string_agg(seg, ' ' ORDER BY pos)) AS toks_md5
       |  FROM ${p}dt JOIN ${p}segs USING (word)
       |  GROUP BY doc_id)""".stripMargin
  }

  private val bpeApplyOracle = {
    s"""WITH ${bpeChainCtes("")}
       |SELECT doc_id, doc_id % 8 AS shard, n_tok, toks_md5,
       |       CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8
       |              ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            AS BIGINT) AS cum_before,
       |       CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8
       |              ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            // $PackBudget AS BIGINT) AS seq_id,
       |       CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8
       |              ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            % $PackBudget AS BIGINT) AS seq_off
       |FROM doc
       |ORDER BY doc_id""".stripMargin
  }

  /** The held-out source for x240 (trained on every OTHER source). */
  private val HoldoutSource = "src0"

  /** x240: held-out tokenizer fertility — the missing EVAL half of
    * tokenizer induction: merges learned on the TRAINING split only
    * (every source except [[HoldoutSource]]) are applied — apply-only,
    * no pair counting — to the held-out split, and the published panel
    * compares fertility (BPE tokens per word) and compression (chars
    * per token) across splits. A tokenizer that only memorized its
    * training corpus shows a held-out fertility gap; this is the
    * standard generalization check before freezing a vocab. The learn
    * fold reuses x236's helpers; each round's argmax comes from the
    * train vocab and the SAME merge is applied to both vocabs, exactly
    * like production tokenizer deployment.
    *
    * Scale: identical to x236 (vocab-bounded learning, one corpus-scale
    * word count per split); the held-out application adds one
    * vocab-local replace per round. */
  def bpeHoldout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val train0 = bpeVocab(spark, docs.filter($"source" =!= HoldoutSource))
    val held0 = bpeVocab(spark, docs.filter($"source" === HoldoutSource))
    val (trainN, heldN) = (1 to BpeMerges).foldLeft((train0, held0)) {
      case ((tr0, he0), _) =>
        val tr = tr0.localCheckpoint()
        val he = he0.localCheckpoint()
        val top = bpeTopPair(spark, tr).localCheckpoint() // learned on TRAIN only
        (bpeMerge(tr, top), bpeMerge(he, top))
    }
    def panel(vocab: DataFrame, split: String): DataFrame =
      vocab.select($"wc", length($"word").cast("long").as("n_chars"),
        expr("size(split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|'))")
          .cast("long").as("n_sym"))
        .agg(sum($"wc").as("n_words"),
          sum($"wc" * $"n_sym").as("n_tokens"),
          sum($"wc" * $"n_chars").as("n_chars"))
        .select(lit(split).as("split"), $"n_words", $"n_tokens", $"n_chars",
          QueryUtil.halfUp4($"n_tokens".cast("double") / $"n_words".cast("double"))
            .as("fertility"),
          QueryUtil.halfUp4($"n_chars".cast("double") / $"n_tokens".cast("double"))
            .as("chars_per_token"))
    panel(trainN, "train").unionByName(panel(heldN, "heldout"))
      .orderBy("split")
  }

  /** Apply-only oracle round: train learns (p/t CTEs from the TRAIN
    * vocab), and the SAME t$i merges both vocabs. */
  private def bpeHoldoutRoundSql(i: Int): String = {
    val prevT = s"vt${i - 1}"
    val prevH = s"vh${i - 1}"
    s"""p$i AS (
       |  SELECT pr.a AS a, pr.b AS b, CAST(sum(wc) AS BIGINT) AS n
       |  FROM (SELECT wc,
       |          unnest(list_transform(generate_series(1, len(sy) - 1),
       |            i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS pr
       |        FROM (SELECT wc,
       |                string_split(substr(seq, 2, length(seq) - 2), '||') AS sy
       |              FROM $prevT) s
       |        WHERE len(sy) > 1) q
       |  GROUP BY 1, 2),
       |t$i AS (SELECT a, b FROM (SELECT a, b, n FROM p$i
       |                          UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
       |        ORDER BY n DESC, a, b LIMIT 1),
       |vt$i AS MATERIALIZED (
       |  SELECT word, wc, replace(seq, '|' || a || '||' || b || '|',
       |                           '|' || a || b || '|') AS seq
       |  FROM $prevT CROSS JOIN t$i),
       |vh$i AS MATERIALIZED (
       |  SELECT word, wc, replace(seq, '|' || a || '||' || b || '|',
       |                           '|' || a || b || '|') AS seq
       |  FROM $prevH CROSS JOIN t$i)""".stripMargin
  }

  private val bpeHoldoutOracle = {
    val rounds = (1 to BpeMerges).map(bpeHoldoutRoundSql).mkString(",\n")
    def vocabSql(name: String, filt: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT word, wc,
         |         '|' || array_to_string(list_transform(
         |             generate_series(1, length(word)), i -> substr(word, i, 1)),
         |           '||') || '|' AS seq
         |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS wc
         |        FROM (SELECT unnest(string_split(text, ' ')) AS word
         |              FROM documents WHERE $filt)
         |        WHERE word <> '' GROUP BY word))""".stripMargin
    def panelSql(vocab: String, split: String) =
      s"""SELECT '$split' AS split,
         |       CAST(sum(wc) AS BIGINT) AS n_words,
         |       CAST(sum(wc * n_sym) AS BIGINT) AS n_tokens,
         |       CAST(sum(wc * n_chars) AS BIGINT) AS n_chars,
         |       floor((CAST(sum(wc * n_sym) AS DOUBLE) / CAST(sum(wc) AS DOUBLE))
         |             * 10000 + 0.5) / 10000.0 AS fertility,
         |       floor((CAST(sum(wc * n_chars) AS DOUBLE)
         |              / CAST(sum(wc * n_sym) AS DOUBLE)) * 10000 + 0.5) / 10000.0
         |         AS chars_per_token
         |FROM (SELECT wc, CAST(length(word) AS BIGINT) AS n_chars,
         |        CAST(len(string_split(substr(seq, 2, length(seq) - 2), '||'))
         |             AS BIGINT) AS n_sym
         |      FROM $vocab) v""".stripMargin
    s"""WITH ${vocabSql("vt0", s"source <> '$HoldoutSource'")},
       |${vocabSql("vh0", s"source = '$HoldoutSource'")},
       |$rounds
       |SELECT * FROM (
       |${panelSql(s"vt$BpeMerges", "train")}
       |UNION ALL
       |${panelSql(s"vh$BpeMerges", "heldout")}) u
       |ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- x245

  /** x245: stupid-backoff trigram scoring on a HELD-OUT split (Brants et
    * al. 2007, the web-scale LM score behind production perplexity
    * filters). Counts train on even doc_ids; odd doc_ids are scored, so
    * the backoff chain genuinely fires (scoring the training corpus on
    * itself never backs off — every trigram is in the model):
    * S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂) if seen, else 0.4·c(w₂w₃)/c(w₂) if
    * seen, else 0.4·0.4·(c(w₃)+1)/(N+V) (add-one on the final level so
    * OOV tokens stay finite). Per-token −ln S is quantized HALF-UP to
    * 1e-6 fixed point BEFORE the per-doc sum (order-free integer sums,
    * the x56/x88 recipe; the ln-boundary-margin caveat recorded in
    * PLANS.md round 8 applies). Published per doc: scored-position count,
    * how often each backoff level fired (the model-coverage diagnostic),
    * and the average score. 100 TB: all three count tables are
    * vocab-bounded and broadcast; the token stream shuffles once on
    * doc_id for the two lag windows, then never again. */
  def stupidBackoff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "w3")))
      .withColumn("w2", lag($"w3", 1).over(w))
      .withColumn("w1", lag($"w3", 2).over(w))
    val train = tok.filter($"doc_id" % 2 === 0)
    val score = tok.filter($"doc_id" % 2 === 1 && $"w1".isNotNull)
    val c3 = train.filter($"w1".isNotNull)
      .groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c3"))
    val c12 = train.filter($"w2".isNotNull)
      .groupBy($"w2".as("w1"), $"w3".as("w2")).agg(count(lit(1)).as("c12"))
    val cb2 = train.filter($"w2".isNotNull)
      .groupBy($"w2", $"w3").agg(count(lit(1)).as("cb2"))
    val c1 = train.groupBy($"w3").agg(count(lit(1)).as("c1"))
    val nv = c1.agg(sum($"c1").as("n_train"),
      count(lit(1)).as("v_train"))
    val s = expr(
      """CASE WHEN c3 IS NOT NULL THEN CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE)
        |     WHEN cb2 IS NOT NULL THEN 0.4 * (CAST(cb2 AS DOUBLE) / CAST(c1w2 AS DOUBLE))
        |     ELSE 0.4 * 0.4 * (CAST(COALESCE(c1w3, 0) + 1 AS DOUBLE) / CAST(n_train + v_train AS DOUBLE)) END"""
        .stripMargin)
    score
      .join(broadcast(c3), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(c12), Seq("w1", "w2"), "left")
      .join(broadcast(cb2), Seq("w2", "w3"), "left")
      .join(broadcast(c1.select($"w3".as("w2"), $"c1".as("c1w2"))), Seq("w2"), "left")
      .join(broadcast(c1.select($"w3", $"c1".as("c1w3"))), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select($"doc_id",
        when($"c3".isNotNull, 0).when($"cb2".isNotNull, 1).otherwise(2)
          .cast("int").as("lvl"),
        floor(-log(s) * lit(1e6) + lit(0.5)).cast("long").as("sfp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_scored"),
        sum(($"lvl" === 0).cast("long")).as("n_tri"),
        sum(($"lvl" === 1).cast("long")).as("n_bi"),
        sum(($"lvl" === 2).cast("long")).as("n_uni"),
        sum($"sfp").as("sum_fp"))
      .select($"doc_id", $"n_scored", $"n_tri", $"n_bi", $"n_uni",
        halfUp4($"sum_fp".cast("double") / 1e6 / $"n_scored").as("avg_sb"))
      .orderBy("doc_id")
  }

  private val stupidBackoffOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
       |e AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS w3,
       |        CASE WHEN i > 1 THEN toks[CAST(i AS INTEGER) - 1] END AS w2,
       |        CASE WHEN i > 2 THEN toks[CAST(i AS INTEGER) - 2] END AS w1
       |      FROM e0),
       |tr AS (SELECT * FROM e WHERE doc_id % 2 = 0),
       |sc0 AS (SELECT * FROM e WHERE doc_id % 2 = 1 AND w1 IS NOT NULL),
       |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
       |       FROM tr WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
       |c12 AS (SELECT w2 AS w1, w3 AS w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM tr WHERE w2 IS NOT NULL GROUP BY 1, 2),
       |cb2 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cb2
       |        FROM tr WHERE w2 IS NOT NULL GROUP BY 1, 2),
       |c1 AS (SELECT w3, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
       |nv AS (SELECT CAST(sum(c1) AS BIGINT) AS n_train,
       |              CAST(count(*) AS BIGINT) AS v_train FROM c1),
       |sb AS (SELECT sc0.doc_id,
       |         CASE WHEN c3.c3 IS NOT NULL THEN 0
       |              WHEN cb2.cb2 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
       |         CAST(floor(-ln(
       |           CASE WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / CAST(c12.c12 AS DOUBLE)
       |                WHEN cb2.cb2 IS NOT NULL THEN 0.4 * (CAST(cb2.cb2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
       |                ELSE 0.4 * 0.4 * (CAST(COALESCE(u3.c1, 0) + 1 AS DOUBLE) / CAST(nv.n_train + nv.v_train AS DOUBLE)) END)
       |           * 1000000.0 + 0.5) AS BIGINT) AS sfp
       |       FROM sc0
       |       LEFT JOIN c3 ON c3.w1 = sc0.w1 AND c3.w2 = sc0.w2 AND c3.w3 = sc0.w3
       |       LEFT JOIN c12 ON c12.w1 = sc0.w1 AND c12.w2 = sc0.w2
       |       LEFT JOIN cb2 ON cb2.w2 = sc0.w2 AND cb2.w3 = sc0.w3
       |       LEFT JOIN c1 u2 ON u2.w3 = sc0.w2
       |       LEFT JOIN c1 u3 ON u3.w3 = sc0.w3
       |       CROSS JOIN nv)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       |       CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
       |       CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
       |       CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
       |       floor((CAST(sum(sfp) AS DOUBLE) / 1000000.0 / count(*)) * 10000 + 0.5) / 10000.0 AS avg_sb
       |FROM sb GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- x254

  /** x254: simple Good-Turing count-of-counts smoothing (Gale & Sampson
    * 1995, the pre-regression "Turing estimate" table) over whitespace
    * unigrams: for each observed frequency r, the species count `N_r`,
    * the adjusted count `r* = (r+1) N_{r+1} / N_r` (falling back to the
    * raw r when no species occurs exactly r+1 times — the unsmoothed
    * table's standard gap fallback), and the total probability mass
    * `r* N_r / N` the estimate assigns to that frequency class. The
    * r=1 row's raw mass `N_1 / N` is the classic leave-one-out unseen
    * estimate. `N_{r+1}` is an equi-join on r+1 (NOT lead() — the next
    * PRESENT frequency is not r+1 once the tail goes sparse).
    *
    * Scale: explode + two hash aggregations (term counts, then
    * count-of-counts); the count-of-counts frame is tiny (distinct
    * frequency values), so the final join/normalize is free. Doubles
    * divide identical exact integers in both engines — IEEE-identical
    * before the halfUp4. */
  def goodTuring(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("r"))
    val cofc = counts.groupBy($"r").agg(count(lit(1)).as("n_species"))
      .localCheckpoint(true)
    val tot = cofc.agg(sum($"r" * $"n_species").as("n_tokens"))
    val nxt = cofc.select(($"r" - 1L).as("r"), $"n_species".as("n_next"))
    cofc.join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("r_star",
        when($"n_next".isNotNull,
          ($"r" + 1L).cast("double") * $"n_next".cast("double")
            / $"n_species".cast("double"))
          .otherwise($"r".cast("double")))
      .select($"r", $"n_species",
        QueryUtil.halfUp4($"r_star").as("r_star"),
        QueryUtil.halfUp4($"r_star" * $"n_species".cast("double")
          / $"n_tokens".cast("double")).as("mass"))
      .orderBy("r")
  }

  private val goodTuringOracle =
    """WITH counts AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS r
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY term),
      |cofc AS MATERIALIZED (
      |  SELECT r, CAST(count(*) AS BIGINT) AS n_species
      |  FROM counts GROUP BY r),
      |tot AS (SELECT CAST(sum(r * n_species) AS BIGINT) AS n_tokens FROM cofc),
      |gt AS (
      |  SELECT c.r, c.n_species,
      |         CASE WHEN n.n_species IS NOT NULL
      |              THEN (c.r + 1) * CAST(n.n_species AS DOUBLE)
      |                   / CAST(c.n_species AS DOUBLE)
      |              ELSE CAST(c.r AS DOUBLE) END AS r_star
      |  FROM cofc c LEFT JOIN cofc n ON n.r = c.r + 1)
      |SELECT r, n_species,
      |       floor(r_star * 10000 + 0.5) / 10000.0 AS r_star,
      |       floor(r_star * n_species / CAST(n_tokens AS DOUBLE) * 10000 + 0.5)
      |         / 10000.0 AS mass
      |FROM gt, tot
      |ORDER BY r""".stripMargin

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

  // ---------------------------------------------------------------- x344

  /** x344: Witten–Bell smoothed bigram LM — interpolation weight from
    * CONTINUATION DIVERSITY: p(w|v) = (c(vw) + T(v)·p_uni(w)) /
    * (c(v) + T(v)) with T(v) = distinct continuations of v. Trained on
    * even docs, scored on odd docs (the x240/x245 held-out split). The
    * probability is kept EXACT: p = (c(vw)·N + T(v)·c(w)) /
    * (N·(c(v)+T(v))), micro-quantized with truncating division, the
    * product in DECIMAL(38)/HUGEINT (c(vw)·N·10⁶ passes 2⁶³ at ~10⁶
    * train tokens — the x330 rule). Unseen histories back off to the
    * quantized unigram c(w)·10⁶ DIV N (0 for unseen w). No logs — the
    * whole score path is integer.
    *
    * Scale: count tables are vocab-bounded and broadcast; the token
    * stream shuffles once on doc_id for the lag window (x245's audited
    * shape). */
  def wittenBell(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "w2")))
      .withColumn("w1", lag($"w2", 1).over(w))
    val train = tok.filter($"doc_id" % 2 === 0)
    val score = tok.filter($"doc_id" % 2 === 1 && $"w1".isNotNull)
    val cvw = train.filter($"w1".isNotNull)
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cvw"))
    val hist = train.filter($"w1".isNotNull)
      .groupBy($"w1").agg(count(lit(1)).as("cv"), countDistinct($"w2").as("tv"))
    val uni = train.groupBy($"w2").agg(count(lit(1)).as("cw"))
    val nTot = train.agg(count(lit(1)).as("n_tok"))
    val pMicro = expr(
      """CASE WHEN cv IS NOT NULL THEN
        |  CAST((CAST(COALESCE(cvw, 0) AS DECIMAL(38,0)) * n_tok
        |        + CAST(tv AS DECIMAL(38,0)) * COALESCE(cw, 0)) * 1000000
        |       DIV (CAST(n_tok AS DECIMAL(38,0)) * (cv + tv)) AS BIGINT)
        |ELSE (COALESCE(cw, 0) * 1000000) DIV n_tok END""".stripMargin)
    score
      .join(broadcast(cvw), Seq("w1", "w2"), "left")
      .join(broadcast(hist), Seq("w1"), "left")
      .join(broadcast(uni), Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
      .select($"doc_id", when($"cv".isNull, 1L).otherwise(0L).as("unseen"),
        pMicro.as("p_micro"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_scored"), sum($"unseen").as("n_unseen_hist"),
        sum($"p_micro").as("sum_p"))
      .select($"doc_id", $"n_scored", $"n_unseen_hist", $"sum_p",
        QueryUtil.halfUp4($"sum_p".cast("double") / 1e6 / $"n_scored").as("avg_p"))
      .orderBy($"doc_id")
  }

  private val wittenBellOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |e0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
      |tok AS MATERIALIZED (
      |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w2,
      |         CASE WHEN i > 1 THEN toks[CAST(i AS INTEGER) - 1] END AS w1
      |  FROM e0),
      |train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
      |score AS (SELECT * FROM tok WHERE doc_id % 2 = 1 AND w1 IS NOT NULL),
      |cvw AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cvw
      |        FROM train WHERE w1 IS NOT NULL GROUP BY 1, 2),
      |hist AS (SELECT w1, CAST(count(*) AS BIGINT) AS cv,
      |                CAST(count(DISTINCT w2) AS BIGINT) AS tv
      |         FROM train WHERE w1 IS NOT NULL GROUP BY 1),
      |uni AS (SELECT w2, CAST(count(*) AS BIGINT) AS cw FROM train GROUP BY 1),
      |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM train),
      |scored AS (
      |  SELECT s.doc_id,
      |         CASE WHEN h.cv IS NULL THEN 1 ELSE 0 END AS unseen,
      |         CASE WHEN h.cv IS NOT NULL THEN
      |           CAST((CAST(COALESCE(c.cvw, 0) AS HUGEINT) * n.n_tok
      |                 + CAST(h.tv AS HUGEINT) * COALESCE(u.cw, 0)) * 1000000
      |                // (CAST(n.n_tok AS HUGEINT) * (h.cv + h.tv)) AS BIGINT)
      |         ELSE (COALESCE(u.cw, 0) * 1000000) // n.n_tok END AS p_micro
      |  FROM score s
      |  LEFT JOIN cvw c ON c.w1 = s.w1 AND c.w2 = s.w2
      |  LEFT JOIN hist h ON h.w1 = s.w1
      |  LEFT JOIN uni u ON u.w2 = s.w2
      |  CROSS JOIN ntot n)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
      |       CAST(sum(unseen) AS BIGINT) AS n_unseen_hist,
      |       CAST(sum(p_micro) AS BIGINT) AS sum_p,
      |       floor(CAST(sum(p_micro) AS DOUBLE) / 1e6 / count(*) * 10000 + 0.5) / 10000.0 AS avg_p
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /* Readability scoring and survival-model
   * evaluation — Flesch–Kincaid grade level (the classic text-quality
   * signal beside x42's heuristic quality score, from pure integer
   * censuses: words, pseudo-sentences, vowel-group syllables) and
   * Harrell's C-index (concordance of a risk score with survival order
   * under right-censoring — the standard survival-analysis companion to
   * x197 Kaplan–Meier / x198 log-rank, and rank-identity kin of x113's
   * AUC).
   * Elsewhere: x346 (ExperimentQueries).
   */

  /** Pseudo-sentence length: the corpus has no punctuation, so sentences
    * are fixed 10-word windows — documented, deterministic, and the same
    * on both engines. */
  private[queries] val SentWords = 10L

  // ---------------------------------------------------------------- x345

  /** x345: Flesch–Kincaid grade level per document. Words = space-split
    * count, sentences = ⌈words/10⌉ (pseudo-sentences), syllables =
    * count of [aeiouy]+ vowel groups over the whole text (spaces break
    * groups, so no per-word explode is needed — ONE regex scan per doc;
    * the regex text is Java-regex/RE2-portable per the x159 rule).
    * grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59 computed as identical
    * doubles from the three BIGINT censuses, halfUp4-quantized.
    *
    * Scale: embarrassingly parallel per-document projection — no
    * shuffle at all beyond the final ORDER BY. */
  /** The shared FK census: (doc_id, words, sents, syls) — one copy feeds
    * both the x345 query and the capstone-v8 gate so the two can never
    * drift. */
  private[queries] def fkCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("words"),
        size(regexp_extract_all($"text", lit("[aeiouy]+"), lit(0))).cast("long").as("syls"))
      .withColumn("sents", expr(s"(words + ${SentWords - 1}) DIV $SentWords"))
  }

  /** The FK grade expression over [[fkCensus]] columns. */
  private[queries] def fkGrade(spark: SparkSession): Column = {
    import spark.implicits._
    lit(0.39) * ($"words".cast("double") / $"sents".cast("double")) +
      lit(11.8) * ($"syls".cast("double") / $"words".cast("double")) - lit(15.59)
  }

  def fleschKincaid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fkCensus(spark, dir).select($"doc_id", $"words", $"sents", $"syls",
      QueryUtil.halfUp4(fkGrade(spark)).as("fk_grade"))
      .orderBy($"doc_id")
  }

  private val fleschKincaidOracle =
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
       |         CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syls
       |  FROM documents),
       |s AS (
       |  SELECT *, (words + ${SentWords - 1}) // $SentWords AS sents FROM base)
       |SELECT doc_id, words, sents, syls,
       |       floor((0.39 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))
       |              + 11.8 * (CAST(syls AS DOUBLE) / CAST(words AS DOUBLE))
       |              - 15.59) * 10000 + 0.5) / 10000.0 AS fk_grade
       |FROM s ORDER BY doc_id""".stripMargin

  /* Three missing named operators — Aho–Corasick
   * multi-pattern scanning (x370), rendezvous/HRW shard routing with a
   * node-removal remap audit (x371), and merge-on-read deletion-vector
   * maintenance with a compaction decision (x372).
   * Elsewhere: x371 (PipelineQueries); x372 (EtlQueries).
   */

  /** x370's dictionary: literal patterns over the fixture vocabulary,
    * deliberately including substring-of-another-pattern cases ("an" in
    * "scan", "win" in "window", "der" in "order") — those matches are only
    * findable through the automaton's fail/output links — and two-token
    * phrases. */
  private val AcPatterns = Seq("scan", "an", "order", "der", "window",
    "win", "batch", "stream", "merge", "hash", "table scan", "key order")

  /** x370: Aho–Corasick multi-pattern scan — one O(N + matches) pass per
    * document counts ALL occurrences of every dictionary pattern (the
    * blocklist/PII/contamination-gate scan shape; x95's gate does term
    * joins, this is the byte-level scanner for patterns that need not be
    * whole tokens). The oracle counts positions i where
    * substr(text, i, len) = pattern — the same all-occurrences semantics,
    * O(N * P) in SQL, which is exactly why the engine side ships the
    * automaton. Full (doc x pattern) grid, zeros kept. */
  def ahoCorasickScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pats = AcPatterns // stable local for the closure
    Tables.documents(spark, dir).select($"doc_id", $"text")
      .as[(Long, String)].mapPartitions { it =>
        val ac = new graft.operators.AhoCorasick(pats)
        it.flatMap { case (docId, text) =>
          val counts = ac.countAll(text)
          pats.indices.iterator.map(i => (docId, pats(i), counts(i)))
        }
      }.toDF("doc_id", "pattern", "n")
      .orderBy("doc_id", "pattern")
  }

  private val ahoCorasickOracle = {
    val patList = AcPatterns.map(p => s"'${p}'").mkString(", ")
    s"""WITH p AS (SELECT unnest([$patList]) AS pattern),
       |d AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |cnt AS (SELECT d.doc_id, p.pattern,
       |          CAST(coalesce(list_sum(list_transform(
       |            range(1, greatest(d.n - length(p.pattern) + 2, 1)),
       |            i -> CASE WHEN substr(d.text, CAST(i AS INTEGER), length(p.pattern)) = p.pattern
       |                      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n
       |        FROM d CROSS JOIN p)
       |SELECT doc_id, pattern, n
       |FROM cnt
       |ORDER BY doc_id, pattern""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x111_phrase_search",
      "positional phrase search over (doc,pos,term) postings with zero-hit phrases preserved",
      phraseSearch, Some(phraseSearchOracle)),
    QueryDef("x24_countmin_topk",
      "count-min sketch built in-engine: heavy hitters with per-row bound check (X4)",
      countMinTopK, Some(countMinOracle)),
    QueryDef("x49_winnowing", "winnowing fingerprint sets (MOSS min-per-window) (X4)", winnow, Some(winnowOracle)),
    QueryDef("x40_token_stats", "per-doc token statistics (X4)", tokenStats, Some(tokenStatsOracle)),
    QueryDef("x41_lang_id", "marker-lexicon language-ID heuristic (X4)", langId, Some(langIdOracle)),
    QueryDef("x42_quality_score", "document quality scoring (X4)", quality, Some(qualityOracle)),
    QueryDef("x43_fingerprint", "character k-gram min-hash fingerprint (X4)", fingerprint, Some(fingerprintOracle)),
    QueryDef("x44_term_freq", "corpus term frequency top-50 (X4)", termFreq, Some(termFreqOracle)),
    QueryDef("x46_tfidf", "TF-IDF top-3 terms per document (X4)", tfidf, Some(tfidfOracle)),
    QueryDef("x47_bigrams", "corpus bigram frequency top-40 (X4)", bigrams, Some(bigramsOracle)),
    QueryDef("x131_lang_prf",
      "per-class precision/recall/F1 for the lang-ID heuristic (single-division F1, exact tp/fp/fn) (X4 eval)",
      langPrf, Some(langPrfOracle)),
    QueryDef("x94_regex_redact",
      "regex scan + redaction trace (hit counts, redacted length/md5) — PII-scrub plumbing",
      regexRedact, Some(regexRedactOracle)),
    QueryDef("x120_bpe_pairs",
      "BPE merge-round statistics: weighted adjacent-char-pair counts, top-10 merge candidates (tokenizer induction)",
      bpePairs, Some(bpePairsOracle)),
    QueryDef("x121_zipf_fit",
      "Zipf-law fit: exact-moment OLS of ln(freq) on ln(rank) over top vocabulary (corpus-statistics QA)",
      zipfFit, Some(zipfFitOracle)),
    QueryDef("x149_kneser_ney",
      "interpolated Kneser-Ney bigram LM: discounted ML + continuation-count backoff over the vocab-bounded bigram type table",
      kneserNey, Some(kneserNeyOracle)),
    QueryDef("x159_pii_redact",
      "PII detection + redaction over injected synthetic emails/phones; counts + redacted-text md5",
      piiRedact, Some(piiRedactOracle)),
    QueryDef("x161_textrank",
      "TextRank keywords: exact fixed-point PageRank over the +-2-window word co-occurrence graph, 3 unrolled iterations",
      textrank, Some(textrankOracle)),
    QueryDef("x175_topic_segments",
      "TextTiling topic cuts: adjacent-window bag cosine < 0.5 decided by the exact integer 4*dot^2 < n1*n2 predicate",
      topicSegments, Some(topicSegmentsOracle)),
    QueryDef("x215_rake",
      "RAKE keyphrase extraction: stopword-delimited capped phrases, integer deg/freq word scores, top-20 by summed phrase score",
      rake, Some(rakeOracle)),
    QueryDef("x225_burrows_delta",
      "Burrows' Delta stylometry between sources: z-scored top-20 word rates, mean |z| distance per source pair, most-similar first",
      burrowsDelta, Some(burrowsOracle)),
    QueryDef("x236_bpe_apply",
      "BPE tokenizer induction APPLIED: 6 unrolled learn-merge rounds over the weighted vocab, corpus re-tokenized, token-stream md5 pins + x151 packing on BPE counts",
      bpeApply, Some(bpeApplyOracle)),
    QueryDef("x240_bpe_holdout",
      "held-out tokenizer fertility: merges learned on train sources only, apply-only on the held-out source; fertility + chars/token panel per split",
      bpeHoldout, Some(bpeHoldoutOracle)),
    QueryDef("x245_stupid_backoff",
      "held-out stupid-backoff trigram scoring with backoff-level counts",
      stupidBackoff, Some(stupidBackoffOracle)),
    QueryDef("x254_good_turing",
      "simple Good-Turing count-of-counts frequency smoothing",
      goodTuring, Some(goodTuringOracle)),
    QueryDef("x291_chao1",
      "Chao1 unseen-vocabulary estimator from the frequency-of-frequency census",
      chao1, Some(chao1Oracle)),
    QueryDef("x344_witten_bell",
      "Witten-Bell smoothed bigram LM on the held-out split: diversity-weighted interpolation as exact micro-quantized rationals",
      wittenBell, Some(wittenBellOracle)),
    QueryDef("x345_flesch_kincaid",
      "Flesch-Kincaid grade per doc: word/pseudo-sentence/vowel-group censuses, one portable regex scan, no explode",
      fleschKincaid, Some(fleschKincaidOracle)),
    QueryDef("x370_aho_corasick",
      "Aho-Corasick multi-pattern scan: one automaton pass counts all occurrences incl. dictionary-substring matches (X4)",
      ahoCorasickScan, Some(ahoCorasickOracle)))
}
