package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryUtil.halfUp4

/** Text-analysis coverage over the `documents` fixture (north star X4):
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
        (conv(substring(md5(concat_ws(":", lit(j), $"tok")), 1, 4), 16, 10)
          .cast("long") % CmsW).as("h"))): _*)).as("s"))
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

  lazy val defs: Seq[QueryDef] = Seq(
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
      langPrf, Some(langPrfOracle)))
}
