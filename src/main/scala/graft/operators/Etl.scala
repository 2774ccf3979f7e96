package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core ETL operators re-expressing the reference pipeline
  * (`/root/reference/app/salesforce_extractor.py`) as pure, composable
  * `DataFrame => DataFrame` / `Column => Column` transforms. See SURVEY.md §2
  * for the operator inventory these implement (P1, F1–F4, D1, SNK1).
  *
  * Scale notes are given per operator; everything here stays inside
  * whole-stage codegen (built-in expressions only, no UDFs).
  */
object Etl {

  /** F1+F2 (salesforce_extractor.py:171): `event_name.split("?")[0][:256]` —
    * strip the query string, truncate to 256 chars. Pure codegen'd string ops. */
  def cleanEventName(c: Column): Column =
    substring(split_part(c, lit("?"), lit(1)), 1, 256)

  /** F3 (salesforce_extractor.py:138-151): parse `"%m/%d/%Y %I:%M:%S %p"`
    * (12-hour clock + AM/PM) with null-on-failure semantics. `try_to_timestamp`
    * keeps this ANSI-safe on Spark 4 (ANSI mode on by default would throw). */
  def parseSfmcDate(c: Column): Column =
    try_to_timestamp(c, lit("M/d/yyyy h:mm:ss a")).cast("timestamp_ntz")

  /** P1 (salesforce_extractor.py:153-181): missing source fields default to
    * EMPTY STRING, not null (`.get(k, "")`). */
  def emptyStringDefault(c: Column): Column = coalesce(c, lit(""))

  /** F4 (salesforce_extractor.py:179-181), semantic variant: 16-hex-char
    * content hash over the projected fields. The reference canonical-JSON
    * serializes the item and takes `blake2b(digest_size=8)`; we hash a
    * field-ordered, `|`-separated rendering with md5 and keep the same width
    * (16 hex chars). Same dedup behavior, different hex — divergence documented
    * in SURVEY.md §2 F4. md5 is used (not xxhash64) so the DuckDB oracle can
    * compute the identical value. */
  def contentHash(cols: Column*): Column =
    substring(md5(concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit(""))): _*)), 1, 16)

  /** D1 (salesforce_extractor.py:66,:213-217): exact dedup on the content
    * hash. `keepFirstBy` makes the surviving row deterministic (the reference
    * keeps the first INSERT; Spark's `dropDuplicates` keeps an arbitrary one,
    * which would be oracle-unstable).
    *
    * Scale: one hash-partition shuffle on `hashCol`; at 100 TB pre-partition
    * the load by a prefix of the hash so re-loads dedup shuffle-local. When
    * any survivor is acceptable, prefer `dropDuplicates(hashCol)` — it gets a
    * partial (map-side) aggregate from Catalyst, unlike the window. */
  def dedupByHash(df: DataFrame, hashCol: String, tieBreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(hashCol)).orderBy(tieBreak.map(col): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** SNK1 (salesforce_extractor.py:197-230): idempotent merge. The reference
    * leans on MySQL `INSERT ... ON DUPLICATE KEY UPDATE hash=VALUES(hash)` (a no-op
    * update keyed on the unique `hash`); relational equivalent: keep existing
    * rows, append only incoming rows whose hash is not already present.
    *
    * Scale: the anti-join shuffles both sides on `hashCol` unless the existing
    * key set is small enough to broadcast; at 100 TB bucket the sink table by
    * `hashCol` so the anti-join is shuffle-free on the big side.
    *
    * Lineage note: the result references `existing` twice, so folding this
    * in a loop without a materialization boundary grows the plan
    * exponentially — `localCheckpoint` between merges, or merge through a
    * sink: Sinks.appendNew appends only the new rows in one write job and
    * the next round reads the committed files back, so no plan carries
    * the previous rounds. */
  def mergeIncremental(existing: DataFrame, incoming: DataFrame, hashCol: String = "hash"): DataFrame =
    existing.unionByName(
      incoming.join(existing.select(hashCol), Seq(hashCol), "left_anti"))
}
