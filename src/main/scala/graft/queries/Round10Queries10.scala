package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 tenth tier: C4-style boilerplate removal (the remove-everywhere
  * counterpart of x55's first-survivor chunk dedup), PII detection and
  * redaction over an injected-PII corpus, and a Deequ-style declarative
  * data-quality constraint suite. */
object Round10Queries10 {

  /** x158 span width (tokens). Deliberately differs from x55's 16-token
    * chunks: boilerplate detection wants spans short enough that shared
    * template fragments align. */
  private val SpanW = 8

  /** x158: boilerplate span removal — the C4 rule family's dedup arm
    * (Raffel et al. 2020 discarded any three-sentence span occurring more
    * than once): cut every document into non-overlapping 8-token spans,
    * call a span BOILERPLATE when it appears in ≥ 2 DISTINCT documents,
    * and remove it from EVERY document (including the first — unlike
    * x55's first-occurrence-survivor, which keeps one copy). Emits the
    * per-doc span counts and the md5 of the rebuilt text, plus the number
    * of distinct docs sharing the doc's worst span (boilerplate evidence).
    *
    * Scale: one hash shuffle on the span text for the distinct-doc count
    * (map-side partial), one span-keyed join back, one doc_id fold for
    * the rebuild — the x10/x55 shape; no all-pairs anything. */
  def boilerplateDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(SpanW)).cast("int"))).as("k"))
      .select($"doc_id", $"k",
        array_join(slice($"toks", $"k" * SpanW + 1, lit(SpanW)), " ").as("span"))
    val docsPerSpan = spans.groupBy($"span")
      .agg(countDistinct($"doc_id").as("nd"))
    spans.join(docsPerSpan, "span")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_spans"),
        sum(when($"nd" >= 2, 1).otherwise(0)).cast("int").as("n_removed"),
        max($"nd").cast("int").as("max_shared_docs"),
        md5(array_join(
          transform(
            sort_array(collect_list(when($"nd" < 2, struct($"k", $"span")))),
            s => s.getField("span")),
          " ")).as("kept_md5"))
      .orderBy("doc_id")
  }

  private val boilerplateDedupOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // $SpanW) + 1)) AS k FROM t),
       |c AS (SELECT doc_id, k,
       |        array_to_string(list_slice(toks, k * $SpanW + 1, k * $SpanW + $SpanW), ' ') AS span
       |      FROM e),
       |d AS (SELECT span, count(DISTINCT doc_id) AS nd FROM c GROUP BY span)
       |SELECT c.doc_id,
       |       CAST(count(*) AS INTEGER) AS n_spans,
       |       CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS INTEGER) AS n_removed,
       |       CAST(max(d.nd) AS INTEGER) AS max_shared_docs,
       |       md5(coalesce(string_agg(CASE WHEN d.nd < 2 THEN c.span END, ' ' ORDER BY c.k), '')) AS kept_md5
       |FROM c JOIN d USING (span)
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** The x158 gate reduced to surviving doc ids — keep a document iff
    * less than 20% of its spans are cross-document boilerplate (strict
    * integer predicate 5·removed < spans). An x359 capstone stage. */
  private[queries] def boilerplateKeepIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(SpanW)).cast("int"))).as("k"))
      .select($"doc_id",
        array_join(slice($"toks", $"k" * SpanW + 1, lit(SpanW)), " ").as("span"))
    val docsPerSpan = spans.groupBy($"span")
      .agg(countDistinct($"doc_id").as("nd"))
    spans.join(docsPerSpan, "span")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_removed"))
      .filter($"n_removed" * 5 < $"n_spans")
      .select($"doc_id")
  }

  /** Splice-ready CTE block (names prefixed `bp_`) ending in
    * `boiler_keep(doc_id)` — the capstone-v5 gate. */
  private[queries] lazy val boilerKeepCtes: String =
    s"""bp_t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |bp_e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // $SpanW) + 1)) AS k
       |         FROM bp_t),
       |bp_c AS (SELECT doc_id,
       |           array_to_string(list_slice(toks, k * $SpanW + 1, k * $SpanW + $SpanW), ' ') AS span
       |         FROM bp_e),
       |bp_d AS (SELECT span, count(DISTINCT doc_id) AS nd FROM bp_c GROUP BY span),
       |boiler_keep AS (
       |  SELECT c.doc_id
       |  FROM bp_c c JOIN bp_d d USING (span)
       |  GROUP BY c.doc_id
       |  HAVING 5 * sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) < count(*))""".stripMargin

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

  /** q103: declarative data-quality constraint suite (the Deequ shape) —
    * a checklist of named constraints evaluated in ONE pass over the fact
    * table plus one FK probe, emitted as (constraint, metric, passed)
    * rows: key uniqueness, column completeness, value-domain membership,
    * range sanity, and referential integrity. The metric is always the
    * VIOLATION count (0 = pass), so the suite reads uniformly and the
    * pass flag is `metric = 0`.
    *
    * Scale: the five table-local metrics share one aggregation (one scan,
    * map-side partial); the FK check is one anti-join against the
    * (broadcastable) customer key set. No per-constraint rescans — the
    * profile-once-evaluate-many layout Deequ uses at fleet scale. */
  def dqSuite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val base = o.agg(
      (count(lit(1)) - countDistinct($"o_orderkey")).as("dup_keys"),
      sum(when($"o_orderdate".isNull, 1L).otherwise(0L)).as("null_dates"),
      sum(when(!$"o_orderstatus".isin("O", "F", "P"), 1L).otherwise(0L)).as("bad_status"),
      sum(when($"o_totalprice" <= 0, 1L).otherwise(0L)).as("bad_price"))
    val fk = o.join(
        broadcast(Tables.customer(spark, dir).select($"c_custkey")),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("orphans"))
    // ONE stack over the single metrics row — a union of five selects
    // from the same frame would re-run the aggregation (and the scan)
    // five times (plan-audited; the whole point is profile-once).
    base.crossJoin(fk)
      .selectExpr(
        """stack(5,
          |  'fk_custkey_in_customer', orphans,
          |  'orderdate_complete', null_dates,
          |  'orderkey_unique', dup_keys,
          |  'status_in_domain', bad_status,
          |  'totalprice_positive', bad_price) as (constraint, metric)""".stripMargin)
      .select(col("constraint"), col("metric"),
        (col("metric") === 0).cast("int").as("passed"))
      .orderBy("constraint")
  }

  private val dqSuiteOracle =
    """WITH base AS (
      |  SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
      |         CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_dates,
      |         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
      |         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price
      |  FROM orders),
      |fk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS orphans
      |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |SELECT c.constraint, c.metric, CAST(c.metric = 0 AS INTEGER) AS passed
      |FROM base, fk, LATERAL (VALUES
      |  ('fk_custkey_in_customer', fk.orphans),
      |  ('orderdate_complete', base.null_dates),
      |  ('orderkey_unique', base.dup_keys),
      |  ('status_in_domain', base.bad_status),
      |  ('totalprice_positive', base.bad_price)) AS c("constraint", metric)
      |ORDER BY c.constraint""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x158_boilerplate_dedup",
      "C4-style boilerplate span removal: cross-doc shared 8-token spans removed EVERYWHERE, per-doc rebuild audit",
      boilerplateDedup, Some(boilerplateDedupOracle)),
    QueryDef("x159_pii_redact",
      "PII detection + redaction over injected synthetic emails/phones; counts + redacted-text md5",
      piiRedact, Some(piiRedactOracle)),
    QueryDef("q103_dq_suite",
      "Deequ-style declarative DQ constraint suite: one-pass profile + FK probe, violation counts + pass flags",
      dqSuite, Some(dqSuiteOracle)))
}
