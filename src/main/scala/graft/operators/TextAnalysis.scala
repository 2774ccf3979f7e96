package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface (north star X4):
  * tokenization, token statistics, stopword/quality scoring, language-ID
  * heuristic, and k-gram fingerprinting. All built-in expressions (split /
  * higher-order array functions / md5) so everything stays inside
  * whole-stage codegen and has an exact DuckDB-oracle equivalent.
  *
  * Scale: all are per-row narrow transforms — no shuffle, embarrassingly
  * parallel, safe at any scale. Only downstream group-bys shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenization (documents fixture is space-separated tokens). */
  def tokens(text: Column): Column = split(text, " ")

  /** Sorted-distinct token set — sorted so pair-join consumers can use the
    * native merge-walk intersection (Dedup.jaccardSorted). Native one-pass
    * expression: the declarative array_sort pays an interpreted comparator
    * lambda per comparison. */
  def tokenSet(text: Column): Column = call_function("sorted_token_set", text)

  /** Total character count across tokens (engine-stable long). */
  def sumTokenLen(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))

  /** Count of tokens drawn from `words`. */
  def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "is", "in")

  /** SQL literal list of [[StopwordsEn]] for oracle fragments. */
  val StopwordsEnSql: String = StopwordsEn.map(w => s"'$w'").mkString(", ")

  /** The x42 quality score (UNROUNDED — callers apply halfUp4): bounded
    * length + non-stopword share + mean token length with fixed weights.
    * ONE definition shared by every query that gates on quality, so the
    * scoring can't silently drift between them. */
  def qualityScore(toks: Column): Column = {
    val nTok = size(toks)
    val avgLen = sumTokenLen(toks).cast("double") / nTok
    val stopRatio = countIn(toks, StopwordsEn).cast("double") / nTok
    lit(0.3) * (least(nTok, lit(100)).cast("double") / 100.0) +
      lit(0.4) * (lit(1.0) - stopRatio) +
      lit(0.3) * (least(avgLen, lit(10.0)) / 10.0)
  }

  /** DuckDB rendering of [[qualityScore]] over a token-list column —
    * identical operations in identical order, so the doubles match
    * bit-for-bit. */
  def qualityScoreSql(toks: String): String =
    s"""(0.3 * (CAST(least(len($toks), 100) AS DOUBLE) / 100.0)
       | + 0.4 * (1.0 - CAST(len(list_filter($toks, t -> t IN ($StopwordsEnSql))) AS DOUBLE) / len($toks))
       | + 0.3 * (least(CAST(list_sum(list_transform($toks, t -> length(t))) AS DOUBLE) / len($toks), 10.0) / 10.0))""".stripMargin

  /** Language marker lexicons for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "fr" -> Seq("le", "la", "les", "et", "un"),
    "zh" -> Seq("的", "是", "了", "我"))

  /** Deterministic argmax over marker scores: first language (in LangMarkers
    * order) whose score is positive and >= all others; 'und' when no marker
    * hits. Mirrors a sequential CASE in the oracle SQL. */
  def predictedLang(scores: Seq[(String, Column)]): Column = {
    val cases = scores.zipWithIndex.map { case ((lang, s), _) =>
      val geAll = scores.filter(_._1 != lang).map(o => s >= o._2).reduce(_ && _)
      (s > 0 && geAll, lang)
    }
    cases.foldRight(lit("und"): Column) { case ((cond, lang), els) => when(cond, lang).otherwise(els) }
  }

  /** K-gram document fingerprint: min md5 over all character k-grams — a
    * winnowing-style content signature robust to small edits at either end.
    * Short docs (< k chars) hash the whole text. Native one-pass expression
    * (graft.functions.KgramMinMd5) — the declarative
    * `array_min(transform(sequence(...), i -> md5(substr(...))))` pays an
    * interpreted lambda + hex allocation per text position. */
  def fingerprint(text: Column, k: Int): Column =
    call_function("kgram_min_md5", text, lit(k))

  /** Distinct character k-grams (k <= 4) bijectively packed into longs
    * (base-65536 big-endian over UTF-16 code units; absent chars -> 0) and
    * sorted — the allocation-free representation for
    * Dedup.jaccardSortedLong. Bijective for all BMP text (incl. CJK), so
    * intersection counts are identical to the string-gram version. */
  def charNgramLongs(text: Column, k: Int): Column = {
    require(k <= 4, "long packing holds at most 4 UTF-16 code units")
    call_function("char_ngram_longs", text, lit(k))
  }
}
