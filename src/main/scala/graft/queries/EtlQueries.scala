package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Etl
import graft.sources.{PaginatedSource, SyntheticPageClient}
import QueryUtil.{md5Int, md5IntSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ETL family: the reference pipeline's lead-activity flatten, the
  * incremental merge and date parsing (q00/q0a/q0b), the paginated REST
  * connector (src1), and the transport checks around them — CSV and
  * schema-evolution round trips, partition discovery, snapshot diffs and
  * change-data-feed apply, declarative data-quality constraints, table
  * checksums and deletion vectors. */
object EtlQueries {

  /* Queries covering the reference's core pipeline semantics (SURVEY.md §2:
   * P1 projection, F1/F2 string clean, F4 content hash, D1 dedup, SNK1
   * idempotent merge, S1 overlap-then-dedup incremental, T6 bulk-vs-append)
   * expressed as batch queries over the `events` fixture (the stand-in for the
   * reference's lead-activity feed). */

  /** The reference ETL as one declarative plan: project/clean/hash → dedup →
    * stable order. This is also `SparkEntry.entry`'s flagship. */
  def etlLeadActivity(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val projected = Tables.events(spark, dir).select(
      $"event_id",
      $"user_id",
      Etl.cleanEventName($"event_type").as("event_name"),
      $"ts".as("event_date"),
      Etl.contentHash($"event_id", $"user_id", $"event_type", $"props").as("hash"))
    Etl.dedupByHash(projected, "hash", Seq("event_id")).orderBy("hash")
  }

  private val etlOracle =
    """WITH proj AS (
      |  SELECT event_id, user_id,
      |         substr(split_part(event_type, '?', 1), 1, 256) AS event_name,
      |         ts AS event_date,
      |         substr(md5(concat_ws('|',
      |             coalesce(CAST(event_id AS VARCHAR), ''),
      |             coalesce(CAST(user_id AS VARCHAR), ''),
      |             coalesce(event_type, ''),
      |             coalesce(props, ''))), 1, 16) AS hash
      |  FROM events)
      |SELECT event_id, user_id, event_name, event_date, hash
      |FROM (SELECT *, row_number() OVER (PARTITION BY hash ORDER BY event_id) AS rn FROM proj)
      |WHERE rn = 1
      |ORDER BY hash""".stripMargin

  /** S1+SNK1+D1: incremental merge with boundary overlap. "Existing" sink =
    * first 60% of events by id; "incoming" batch = last 50% (overlapping
    * 10%) — the overlap is swallowed by the anti-join exactly like the
    * reference's re-fetched boundary page is swallowed by the DB unique key
    * (salesforce_extractor.py:264,:213-217,:389). */
  def incrementalMerge(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val hashed = Tables.events(spark, dir).select(
      $"event_id", $"user_id", $"event_type",
      Etl.contentHash($"event_id", $"user_id", $"event_type", $"props").as("hash"))
    val n = 10000L // cut points only need to be deterministic, not exact fractions
    val existing = hashed.filter($"event_id" < n * 6 / 10)
    val incoming = hashed.filter($"event_id" >= n * 5 / 10)
    Etl.mergeIncremental(existing, incoming, "hash")
      .select($"event_id", $"user_id", $"event_type", $"hash")
      .orderBy("event_id")
  }

  private val mergeOracle =
    """WITH hashed AS (
      |  SELECT event_id, user_id, event_type,
      |         substr(md5(concat_ws('|',
      |             coalesce(CAST(event_id AS VARCHAR), ''),
      |             coalesce(CAST(user_id AS VARCHAR), ''),
      |             coalesce(event_type, ''),
      |             coalesce(props, ''))), 1, 16) AS hash
      |  FROM events),
      |existing AS (SELECT * FROM hashed WHERE event_id < 6000),
      |incoming AS (SELECT * FROM hashed WHERE event_id >= 5000)
      |SELECT event_id, user_id, event_type, hash FROM existing
      |UNION ALL
      |SELECT event_id, user_id, event_type, hash FROM incoming i
      |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.hash = i.hash)
      |ORDER BY event_id""".stripMargin

  /** F3: null-on-failure 12-hour-clock date parse (salesforce_extractor.py
    * :138-151) exercised by rendering `ts` into the reference's wire format
    * and parsing it back; rows whose rendered form is corrupted (every 7th)
    * must yield NULL, not an error. */
  def dateParse(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(
        $"event_id",
        when($"event_id" % 7 === 0, lit("not a date"))
          .otherwise(date_format($"ts", "M/d/yyyy h:mm:ss a")).as("raw"))
      .select($"event_id", $"raw", Etl.parseSfmcDate($"raw").as("parsed"))
      .orderBy("event_id")
  }

  private val dateParseOracle =
    """WITH raw AS (
      |  SELECT event_id,
      |         CASE WHEN event_id % 7 = 0 THEN 'not a date'
      |              ELSE strftime(ts, '%-m/%-d/%Y %-I:%M:%S %p') END AS raw
      |  FROM events)
      |SELECT event_id, raw, try_strptime(raw, '%m/%d/%Y %I:%M:%S %p') AS parsed
      |FROM raw
      |ORDER BY event_id""".stripMargin

  /* Connector coverage. The paginated-source query runs the full
   * SRC1→P1→F1–F4 path over a deterministic synthetic client (network-free);
   * because every generated field is a pure function of the item index, the
   * DuckDB oracle regenerates the expected rows directly from `range()` —
   * the Spark side additionally exercises the real JSON envelope layer
   * (the graft-pages reader's parse of each page into item rows). */
  private val TotalItems = 1234
  private val QueryPageSize = 100

  def paginatedConnector(spark: SparkSession, dir: String) = {
    val client = new SyntheticPageClient(TotalItems, QueryPageSize)
    PaginatedSource.bulkExtract(spark, client, parallelism = 8, pageSize = QueryPageSize)
      .orderBy("hash")
  }

  /** Expected connector rows regenerated from item-index arithmetic for
    * items 0 until `n` (the synthetic client's fields are pure functions
    * of the index). Shared with the streaming twin x132. */
  private[queries] def syntheticItemsOracle(n: Long): String =
    s"""WITH r AS (SELECT unnest(range(0, $n)) AS i),
       |f AS (SELECT
       |  'L-' || CAST(i % 997 AS VARCHAR) AS lead_id,
       |  'https://x/p/' || CAST(i AS VARCHAR) || '?utm=' || CAST(i AS VARCHAR) AS url,
       |  CASE WHEN i % 53 = 0 THEN '' ELSE 'S-' || CAST(i // 7 AS VARCHAR) END AS session_id,
       |  CAST(i % 5 AS VARCHAR) AS "order",
       |  CASE WHEN i % 37 = 0 THEN 'not-a-date'
       |       ELSE CAST(1 + i % 12 AS VARCHAR) || '/' || CAST(1 + i % 28 AS VARCHAR) || '/2025 ' ||
       |            CAST(1 + i % 12 AS VARCHAR) || ':' || lpad(CAST(i % 60 AS VARCHAR), 2, '0') || ':00 ' ||
       |            CASE WHEN i % 2 = 0 THEN 'AM' ELSE 'PM' END END AS rawdate,
       |  'T-' || CAST(i % 13 AS VARCHAR) AS type_id,
       |  'cat' || CAST(i % 3 AS VARCHAR) AS event_category,
       |  'ev_' || CAST(i % 11 AS VARCHAR) || '?src=mail' AS raw_event_name
       |FROM r)
       |SELECT lead_id, url, session_id, "order",
       |       try_strptime(rawdate, '%m/%d/%Y %I:%M:%S %p') AS date,
       |       type_id, event_category,
       |       substr(split_part(raw_event_name, '?', 1), 1, 256) AS event_name,
       |       substr(md5(concat_ws('|', lead_id, url, session_id, "order",
       |                            type_id, event_category, raw_event_name, rawdate)), 1, 16) AS hash
       |FROM f
       |ORDER BY hash""".stripMargin

  private val paginatedOracle = syntheticItemsOracle(TotalItems)

  /** x130: corpus snapshot diff — the change-data-feed summary a versioned
    * lakehouse emits between two table versions: rows classified
    * added / removed / changed / unchanged by keyed full-outer join with
    * content-hash comparison, rolled up per source. The "next" snapshot is
    * derived deterministically from the base fixture (every 17th doc
    * removed, every 13th edited, every 29th cloned under a new id), so
    * both engines construct the identical version pair and the diff logic
    * itself is what the oracle checks. Scale: one full-outer equi-join on
    * the key + a small rollup — the exact shape of a snapshot diff at any
    * size; content hashes make `changed` detection O(1) per row. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = Tables.documents(spark, dir)
      .select($"doc_id", $"source", md5($"text").as("h"))
    val docs = Tables.documents(spark, dir)
    val b = docs.filter($"doc_id" % 17 =!= 0)
      .select($"doc_id", $"source",
        md5(when($"doc_id" % 13 === 0, concat($"text", lit(" v2")))
          .otherwise($"text")).as("h"))
      .unionByName(docs.filter($"doc_id" % 29 === 0)
        // clone ids live in the strictly-negative keyspace — out-of-band
        // for ANY fixture size (real doc_ids are >= 0), so clones can
        // never collide with real documents at larger SFs (an
        // offset of doc_id + 1000000 collided once the fixture passed 1M docs)
        .select((-($"doc_id" + 1L)).as("doc_id"), $"source",
          md5($"text").as("h")))
    val d = a.select($"doc_id", $"source".as("src_a"), $"h".as("ha"))
      .join(b.select($"doc_id", $"source".as("src_b"), $"h".as("hb")),
        Seq("doc_id"), "full_outer")
      .select(coalesce($"src_a", $"src_b").as("source"),
        when($"ha".isNull, "added")
          .when($"hb".isNull, "removed")
          .when($"ha" =!= $"hb", "changed")
          .otherwise("unchanged").as("status"))
    d.groupBy($"source")
      .agg(sum(($"status" === "added").cast("long")).as("n_added"),
        sum(($"status" === "removed").cast("long")).as("n_removed"),
        sum(($"status" === "changed").cast("long")).as("n_changed"),
        sum(($"status" === "unchanged").cast("long")).as("n_unchanged"))
      .orderBy("source")
  }

  private val snapshotDiffOracle =
    """WITH a AS (SELECT doc_id, source, md5(text) AS h FROM documents),
      |b AS (
      |  SELECT doc_id, source,
      |         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT -(doc_id + 1) AS doc_id, source, md5(text) AS h
      |  FROM documents WHERE doc_id % 29 = 0),
      |d AS (
      |  SELECT coalesce(a.source, b.source) AS source,
      |         CASE WHEN a.h IS NULL THEN 'added'
      |              WHEN b.h IS NULL THEN 'removed'
      |              WHEN a.h <> b.h THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT source,
      |       CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |       CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
      |FROM d
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- x144

  /** Mod-prime for the commutative row digest: each term < 2³¹, so a
    * per-source sum stays exact in BIGINT up to ~4×10⁹ rows per source —
    * beyond that a deployment takes the outer sum mod p too. */
  private val DigestP = 2147483647L

  /** x144: change-data-feed APPLY — closes the loop x130 opened: the
    * row-level diff (added/removed/changed) between snapshot A and the
    * deterministically-derived snapshot B is APPLIED back to A
    * (anti-join out the touched keys, union in the new payloads), and the
    * reconstruction B′ is compared to B per source by row count and an
    * ORDER-FREE commutative digest (sum of 48-bit md5 of doc_id:hash,
    * mod-prime) — proving the diff is a lossless delta: ship the diff,
    * not the snapshot.
    *
    * Scale: diff is one full-outer equi-join on the key; apply is one
    * anti-join + union; the digest is a map-side-combinable sum with
    * O(1) state per source — every stage is a keyed shuffle, and the
    * commutative digest (vs an order-dependent string_agg) is what makes
    * snapshot comparison feasible without a global sort at 100 TB. */
  def diffApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val a = docs.select($"doc_id", $"source", md5($"text").as("h"))
    // snapshot B: same derivation as x130 (every 17th removed, every 13th
    // edited, every 29th cloned into the negative keyspace)
    val b = docs.filter($"doc_id" % 17 =!= 0)
      .select($"doc_id", $"source",
        md5(when($"doc_id" % 13 === 0, concat($"text", lit(" v2")))
          .otherwise($"text")).as("h"))
      .unionByName(docs.filter($"doc_id" % 29 === 0)
        .select((-($"doc_id" + 1L)).as("doc_id"), $"source", md5($"text").as("h")))
    val diff = a.select($"doc_id", $"source".as("src_a"), $"h".as("ha"))
      .join(b.select($"doc_id", $"source".as("src_b"), $"h".as("hb")),
        Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"ha".isNull, "added").when($"hb".isNull, "removed")
          .when($"ha" =!= $"hb", "changed").otherwise("unchanged").as("status"),
        coalesce($"src_b", $"src_a").as("source"), $"hb")
      .filter($"status" =!= "unchanged")
    val kept = a.join(diff.select($"doc_id"), Seq("doc_id"), "left_anti")
    val bPrime = kept.unionByName(
      diff.filter($"status".isin("added", "changed"))
        .select($"doc_id", $"source", $"hb".as("h")))
    def digest(df: DataFrame, nName: String, dgName: String) =
      df.groupBy($"source").agg(
        count(lit(1)).as(nName),
        sum(md5Int(concat($"doc_id".cast("string"), lit(":"), $"h"), 12) % DigestP).as(dgName))
    digest(b, "n_b", "dg_b")
      .join(digest(bPrime, "n_bprime", "dg_bprime"), "source")
      .select($"source", $"n_b", $"n_bprime", $"dg_b", $"dg_bprime",
        ($"n_b" === $"n_bprime" && $"dg_b" === $"dg_bprime").cast("int").as("ok"))
      .orderBy("source")
  }

  private lazy val diffApplyOracle = {
    val dg = s"(${EngineOpsQueries.h48Sql("md5(CAST(doc_id AS VARCHAR) || ':' || h)")}) % $DigestP"
    s"""WITH a AS (SELECT doc_id, source, md5(text) AS h FROM documents),
       |b AS (SELECT doc_id, source,
       |             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
       |      FROM documents WHERE doc_id % 17 <> 0
       |      UNION ALL
       |      SELECT -(doc_id + 1) AS doc_id, source, md5(text) AS h
       |      FROM documents WHERE doc_id % 29 = 0),
       |d AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |        CASE WHEN a.h IS NULL THEN 'added'
       |             WHEN b.h IS NULL THEN 'removed'
       |             WHEN a.h <> b.h THEN 'changed'
       |             ELSE 'unchanged' END AS status,
       |        coalesce(b.source, a.source) AS source, b.h AS hb
       |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
       |diff AS (SELECT * FROM d WHERE status <> 'unchanged'),
       |kept AS (SELECT a.* FROM a WHERE a.doc_id NOT IN (SELECT doc_id FROM diff)),
       |bprime AS (SELECT doc_id, source, h FROM kept
       |           UNION ALL
       |           SELECT doc_id, source, hb AS h FROM diff
       |           WHERE status IN ('added', 'changed')),
       |db AS (SELECT source, CAST(count(*) AS BIGINT) AS n_b,
       |              CAST(sum($dg) AS BIGINT) AS dg_b
       |       FROM b GROUP BY source),
       |dp AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bprime,
       |              CAST(sum($dg) AS BIGINT) AS dg_bprime
       |       FROM bprime GROUP BY source)
       |SELECT db.source, n_b, n_bprime, dg_b, dg_bprime,
       |       CAST(n_b = n_bprime AND dg_b = dg_bprime AS INTEGER) AS ok
       |FROM db JOIN dp ON db.source = dp.source
       |ORDER BY db.source""".stripMargin
  }

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

  /** x168's cohort bound. */
  private val CsvUsers = 40

  /** x168: CSV round-trip through the oracle gate — the source-format
    * path was spec-only (FormatsSpec proves ORC/CSV round-trips and parse
    * modes); this drives it through the driver's DuckDB compare: the
    * events cohort is WRITTEN as real CSV (header, explicit long/string/
    * double columns, timestamps carried as epoch micros — the lossless
    * transport convention) and READ BACK with an explicit schema (never
    * inferSchema — SURVEY §1.2's fixed-schema rule), then aggregated;
    * the oracle computes the same aggregate from the parquet table, so a
    * hash match proves the CSV transport lost nothing: longs and strings
    * exact, doubles via shortest-round-trip repr, order via the digest
    * over (sec, event_id)-sorted types.
    *
    * Scale: CSV read/write is splittable and schema-driven; the pattern
    * (explicit schema + typed epoch columns) is exactly what a 100 TB
    * CSV landing zone needs to avoid inference scans and tz drift. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_x168").toString
    val ev = Tables.events(spark, dir).filter($"user_id" < CsvUsers)
      .select($"event_id", $"user_id",
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        $"event_type", $"value")
    ev.write.option("header", "true").csv(s"$base/csv")
    val schema = "event_id LONG, user_id LONG, ts_us LONG, event_type STRING, value DOUBLE"
    val back = spark.read.schema(schema).option("header", "true").csv(s"$base/csv")
    // eager localCheckpoint so the CSV staging dir can be deleted before
    // returning (no disk accumulation across runs)
    val out = back.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"event_id").as("n_ids"),
        sum(floor($"value" * 100 + lit(0.5)).cast("long")).as("cents"),
        sum($"ts_us" % 1000000L).as("us_sum"),
        md5(array_join(transform(
          sort_array(collect_list(struct($"ts_us", $"event_id"))),
          s => s.getField("event_id").cast("string")), ",")).as("order_md5"))
      .localCheckpoint()
    QueryUtil.deleteRecursively(base)
    out.orderBy("event_type")
  }

  private val csvRoundtripOracle =
    s"""SELECT event_type,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
       |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       |       CAST(sum(epoch_us(ts) % 1000000) AS BIGINT) AS us_sum,
       |       md5(string_agg(CAST(event_id AS VARCHAR), ','
       |           ORDER BY epoch_us(ts), event_id)) AS order_md5
       |FROM events
       |WHERE user_id < $CsvUsers
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /* Storage-surface semantics, oracle-paired —
   * parquet schema evolution under mergeSchema (q114) and partitioned
   * writes with directory-based partition discovery (q115). Both write
   * real files to a temp dir and verify the READ-BACK against SQL over
   * the source tables, so the storage round-trip itself is the thing
   * being graded (the x168 CSV recipe). */

  // ---------------------------------------------------------------- q114

  /** q114: schema evolution — a v1 batch (3 columns) and a v2 batch
    * (adds o_totalprice) land in the same parquet directory;
    * `mergeSchema` unifies them and v1 rows surface NULL for the new
    * column. The published per-status panel proves both halves: row
    * counts add up AND the null mass of the evolved column is exactly
    * the v1 cohort. At 100 TB this is the additive-column migration
    * every long-lived table goes through — the point is that old
    * files never need rewriting.
    *
    * Scale: one filtered write per version (predicate-split cohorts),
    * one merged scan with footer-driven schema union; the aggregate is
    * map-side combined. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_q114").toString
    val orders = Tables.orders(spark, dir)
    // v1: pre-1996 orders, without the price column yet.
    orders.filter(year($"o_orderdate") <= 1995)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
      .write.mode("append").parquet(s"$base/t")
    // v2: the rest, with the newly added column.
    orders.filter(year($"o_orderdate") >= 1996)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("price_c"))
      .write.mode("append").parquet(s"$base/t")
    // eager localCheckpoint so the two-version staging dir can be
    // deleted before returning (no disk accumulation across runs)
    val out = spark.read.option("mergeSchema", "true").parquet(s"$base/t")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"price_c".isNull, 1L).otherwise(0L)).as("n_v1_rows"),
        coalesce(sum($"price_c"), lit(0L)).as("v2_cents"))
      .localCheckpoint()
    QueryUtil.deleteRecursively(base)
    out.orderBy($"o_orderstatus")
  }

  private val schemaEvolutionOracle =
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN year(o_orderdate) <= 1995 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_v1_rows,
      |       CAST(COALESCE(sum(CASE WHEN year(o_orderdate) >= 1996 THEN
      |              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END), 0)
      |            AS BIGINT) AS v2_cents
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q115

  /** q115: partitioned write + directory discovery — orders written
    * `partitionBy(o_orderpriority)`, then read back from the root so
    * the partition column is RECOVERED from the directory names (it
    * is not in the data files). The published panel per priority:
    * row count and revenue from the read-back, proving the partition
    * values round-tripped and attach to the right rows. The explain'd
    * read prunes to one directory when filtered — the layout q81/x139
    * assume, here actually materialized by the write path.
    *
    * Scale: the write is one shuffle-free dynamic-partition insert
    * (25-way here); discovery cost is directory-listing-bounded, and
    * a filtered read touches one partition's files only. */
  def partitionDiscovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_q115").toString
    Tables.orders(spark, dir)
      .select($"o_orderkey",
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        $"o_orderpriority")
      .write.partitionBy("o_orderpriority").mode("overwrite")
      .parquet(s"$base/t")
    // eager localCheckpoint so the partitioned copy can be deleted
    // before returning (no disk accumulation across runs)
    val out = spark.read.parquet(s"$base/t")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("cents"))
      .localCheckpoint()
    QueryUtil.deleteRecursively(base)
    out.orderBy($"o_orderpriority")
  }

  private val partitionDiscoveryOracle =
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |            AS BIGINT) AS cents
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /* Order-independent cross-engine table
   * checksums — the migration-validation primitive the reference's
   * warehouse-ETL domain lives on: "is the table I loaded EXACTLY the
   * table you have?", answered with two commutative folds (XOR and a
   * mod-p sum) over canonical per-row hashes, so ANY engine, partition
   * layout, or row order produces the same signature. The canonical row
   * rendering uses only integer/string normalizations (cents, epoch
   * days) — never float-to-string, which differs across engines.
   */

  private val SumMod = 1000000007L

  // ---------------------------------------------------------------- x286

  /** x286: table fingerprints for orders and lineitem. Per row, a
    * canonical '|'-joined string of normalized columns (ids, exact
    * cents, epoch days, enums) hashed to a 60-bit integer (15 md5 hex
    * chars — below 2⁶³ so no sign trouble in either engine); per table,
    * two order-free signatures: `bit_xor` of hashes and `sum(h mod p)
    * mod p`. The Spark side computes each signature TWICE — once on the
    * natural scan order and once after an adversarial
    * `repartition(17)` reshuffle — and emits the match flag: the
    * signature's order-independence is asserted inside the result, and
    * the DuckDB oracle independently reproduces the same signatures
    * from the same parquet bytes (the actual cross-engine migration
    * check).
    *
    * Scale: one narrow projection + one all-commutative aggregate per
    * table — checksumming 100 TB is a single map-side-combining pass,
    * and signatures from disjoint shards COMPOSE (xor and mod-sum are
    * both associative-commutative), so per-partition signatures roll up
    * without re-reading data. */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def h(canon: Column): Column =
      md5Int(canon, 15)
    def sig(df: DataFrame, table: String): DataFrame = {
      val hashed = df.withColumn("h", h($"canon"))
      def fold(x: DataFrame) = x.agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_sig"),
        (sum($"h" % SumMod) % SumMod).as("sum_sig"))
      fold(hashed).withColumn("table", lit(table))
        .crossJoin(broadcast(fold(hashed.repartition(17))
          .select($"xor_sig".as("xor_sig2"), $"sum_sig".as("sum_sig2"))))
        .select($"table", $"n_rows", $"xor_sig", $"sum_sig",
          ($"xor_sig" === $"xor_sig2" && $"sum_sig" === $"sum_sig2")
            .cast("long").as("order_independent"))
    }
    val orders = Tables.orders(spark, dir).select(concat_ws("|",
      $"o_orderkey", $"o_custkey",
      floor($"o_totalprice" * 100.0 + 0.5).cast("long"),
      datediff(to_date($"o_orderdate"), lit(java.sql.Date.valueOf("1995-01-01"))),
      $"o_orderpriority").as("canon"))
    val lineitem = Tables.lineitem(spark, dir).select(concat_ws("|",
      $"l_orderkey", $"l_linenumber",
      floor($"l_extendedprice" * 100.0 + 0.5).cast("long"),
      $"l_quantity".cast("long"), $"l_returnflag", $"l_linestatus").as("canon"))
    sig(orders, "orders").unionByName(sig(lineitem, "lineitem"))
      .orderBy($"table")
  }

  private val tableChecksumOracle = {
    val ordersCanon =
      """concat_ws('|', o_orderkey, o_custkey,
        |      CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT),
        |      datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)),
        |      o_orderpriority)""".stripMargin
    val lineitemCanon =
      """concat_ws('|', l_orderkey, l_linenumber,
        |      CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT),
        |      CAST(l_quantity AS BIGINT), l_returnflag, l_linestatus)""".stripMargin
    s"""WITH oh AS (SELECT ${md5IntSql(ordersCanon, 15)} AS h FROM orders),
       |lh AS (SELECT ${md5IntSql(lineitemCanon, 15)} AS h FROM lineitem),
       |sigs AS (
       |  SELECT 'orders' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(bit_xor(h) AS BIGINT) AS xor_sig,
       |         CAST(sum(h % $SumMod) % $SumMod AS BIGINT) AS sum_sig
       |  FROM oh
       |  UNION ALL
       |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
       |         CAST(bit_xor(h) AS BIGINT),
       |         CAST(sum(h % $SumMod) % $SumMod AS BIGINT)
       |  FROM lh)
       |SELECT "table", n_rows, xor_sig, sum_sig,
       |       CAST(1 AS BIGINT) AS order_independent
       |FROM sigs
       |ORDER BY "table"""".stripMargin
  }

  /** x372 file granularity and the rewrite threshold (deleted/total >
    * 3/10, compared as cross-multiplied integers). */
  private val DvFileRows = 100L
  private val RewriteNum = 3L
  private val RewriteDen = 10L

  /** x372: merge-on-read deletion vectors — the Iceberg/Delta maintenance
    * loop: the table is laid out in files (event_id ranges), a purge
    * predicate (user_id % 17 = 0) lands as per-file deletion vectors
    * instead of eager rewrites, reads subtract the DV, and the compactor
    * rewrites a file only once its dead fraction clears the threshold.
    * Emits the per-file audit: rows, deleted, live, and the rewrite
    * decision — exact integers, one aggregate over the fact table. At
    * 100 TB this is why deletes are O(deleted) not O(table): the DV is
    * metadata until the threshold trips. */
  def deletionVectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(expr(s"event_id DIV $DvFileRows").as("file_id"),
        ($"user_id" % 17 === 0).cast("long").as("deleted"))
      .groupBy($"file_id")
      .agg(count(lit(1)).as("n_rows"), sum($"deleted").as("n_deleted"))
      .select($"file_id", $"n_rows", $"n_deleted",
        ($"n_rows" - $"n_deleted").as("n_live"),
        ($"n_deleted" * lit(RewriteDen) > $"n_rows" * lit(RewriteNum))
          .cast("int").as("rewrite"))
      .orderBy("file_id")
  }

  private val deletionVectorsOracle =
    s"""WITH f AS (SELECT event_id // $DvFileRows AS file_id,
       |             CASE WHEN user_id % 17 = 0 THEN 1 ELSE 0 END AS deleted
       |           FROM events),
       |a AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |        CAST(sum(deleted) AS BIGINT) AS n_deleted
       |      FROM f GROUP BY file_id)
       |SELECT file_id, n_rows, n_deleted, n_rows - n_deleted AS n_live,
       |       CAST(n_deleted * $RewriteDen > n_rows * $RewriteNum AS INTEGER) AS rewrite
       |FROM a
       |ORDER BY file_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q00_etl_lead_activity",
      "Reference core pipeline P1+F1+F2+F4+D1 as one declarative plan over events",
      etlLeadActivity, Some(etlOracle)),
    QueryDef("q0a_incremental_merge",
      "S1+SNK1: overlap-then-dedup incremental merge (bulk/append equivalence)",
      incrementalMerge, Some(mergeOracle)),
    QueryDef("q0b_date_parse",
      "F3: 12h-clock parse with null-on-failure (ANSI-safe try_to_timestamp)",
      dateParse, Some(dateParseOracle)),
    QueryDef("src1_paginated_connector",
      "paginated REST connector end-to-end over synthetic envelope pages (SRC1,P1,F1-F4)",
      paginatedConnector, Some(paginatedOracle)),
    QueryDef("x130_snapshot_diff",
      "corpus snapshot diff: added/removed/changed/unchanged per source via keyed full-outer + content hashes (CDF summary)",
      snapshotDiff, Some(snapshotDiffOracle)),
    QueryDef("x144_diff_apply",
      "change-data-feed apply: x130's row diff applied to snapshot A reconstructs B exactly (count + commutative mod-prime digest per source)",
      diffApply, Some(diffApplyOracle)),
    QueryDef("q103_dq_suite",
      "Deequ-style declarative DQ constraint suite: one-pass profile + FK probe, violation counts + pass flags",
      dqSuite, Some(dqSuiteOracle)),
    QueryDef("x168_csv_roundtrip",
      "CSV transport round-trip: explicit-schema write/read of the events cohort, aggregate == parquet oracle",
      csvRoundtrip, Some(csvRoundtripOracle)),
    QueryDef("q114_schema_evolution",
      "parquet mergeSchema evolution: v1 files without the new column, v2 with it; null mass of the evolved column = v1 cohort",
      schemaEvolution, Some(schemaEvolutionOracle)),
    QueryDef("q115_partition_discovery",
      "partitionBy write + directory-based partition recovery: per-priority counts and revenue from the read-back",
      partitionDiscovery, Some(partitionDiscoveryOracle)),
    QueryDef("x286_table_checksum",
      "order-independent table fingerprints (xor + mod-p sum of canonical row hashes) cross-engine",
      tableChecksum, Some(tableChecksumOracle)),
    QueryDef("x372_deletion_vectors",
      "merge-on-read deletion vectors: per-file DV counts, live reads, threshold-gated compaction decision (engine-ops)",
      deletionVectors, Some(deletionVectorsOracle)))
}
