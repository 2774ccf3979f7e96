package graft.sources

import graft.operators.Etl
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Paginated REST source re-expressing the reference connector
  * (`/root/reference/app/salesforce_extractor.py`) Spark-first:
  *
  *  - SRC1 (:106-136, :248): page-numbered GET with envelope
  *    `{count, items[]}`, page size 2500, read through the DataSource V2
  *    `graft-pages` table ([[PaginatedTableProvider]]) — one Spark task per
  *    contiguous page run, with page predicates, column pruning, LIMIT and
  *    ungrouped `count(*)` pushed into the scan.
  *  - SRC2 (:86-104): auth is a connector concern — the transport is an
  *    injected [[PageClient]]; a real HTTP client holds a lazy bearer token
  *    per executor. Keeping the transport injectable makes the connector
  *    fully testable offline (SURVEY.md §5.4).
  *  - SRC3 (:126-136): single 401 re-auth-and-replay retry —
  *    [[RetryingClient]].
  *  - S1 (:250-280): offset CDC — `incrementalStartPage` reproduces
  *    `max(1, ceil(db_count / page_size))`, including the deliberate
  *    re-fetch of the partial boundary page whose overlap is swallowed
  *    downstream by hash dedup (D1, `:389`).
  *  - P1/F3/F4 (:153-181): nested-JSON flatten with EMPTY-STRING defaults
  *    for absent keys, null-on-failure date parse, content hash.
  *
  * Scale: page fetches distribute as `parallelism` tasks each pulling a
  * contiguous page run; no driver materialization (only the page-1 count
  * pre-flight runs on the driver, as one plain fetch and parse). At 100
  * TB-equivalent page counts the same shape holds — the scan splits the
  * page id space evenly and each reader fetches its run lazily.
  */
object PaginatedSource {

  /** As per API response (salesforce_extractor.py:248). */
  val PageSize = 2500

  /** Transport abstraction: fetch one page of envelope JSON. Implementations
    * must be Serializable — they ship to executors. */
  trait PageClient extends Serializable {
    @throws[UnauthorizedException]
    def fetchPage(page: Int): String
  }

  final class UnauthorizedException(msg: String) extends RuntimeException(msg)

  /** SRC3: on 401, re-auth once and replay; a second 401 propagates —
    * exactly the reference's single-retry semantics (:126-136). */
  final class RetryingClient(inner: PageClient, reauth: () => Unit) extends PageClient {
    def fetchPage(page: Int): String =
      try inner.fetchPage(page)
      catch {
        case _: UnauthorizedException =>
          reauth()
          inner.fetchPage(page)
      }
  }

  /** Page envelope schema (salesforce_extractor.py:268,:291,:345 and
    * FIXTURES.md "Reference-shape fixtures"). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("count", LongType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("keys", StructType(Seq(
        StructField("lead_id", StringType),
        StructField("url", StringType),
        StructField("session_id", StringType),
        StructField("order", StringType)))),
      StructField("values", StructType(Seq(
        StructField("type_id", StringType),
        StructField("event_category", StringType),
        StructField("event_name", StringType),
        StructField("date", StringType))))))))))

  private val json = new com.fasterxml.jackson.core.JsonFactory()

  /** A2: driver-side pre-flight — fetch page 1 and read the envelope's
    * TOP-LEVEL numeric `count` (salesforce_extractor.py:263-269); also the
    * streaming source's per-trigger probe. A streaming parser skips every
    * nested value, so a `count` inside an item can't shadow the envelope's
    * and the items are never materialized. A missing or non-numeric `count`
    * fails loudly: every page plan and the stream watermark derive from it. */
  def totalCount(client: PageClient): Long = {
    import com.fasterxml.jackson.core.JsonToken
    val p = json.createParser(client.fetchPage(1))
    try {
      var count: Option[Long] = None
      if (p.nextToken() == JsonToken.START_OBJECT)
        while (count.isEmpty && p.nextToken() == JsonToken.FIELD_NAME) {
          val field = p.currentName()
          val v = p.nextToken()
          if (field == "count" && v == JsonToken.VALUE_NUMBER_INT) count = Some(p.getLongValue)
          else p.skipChildren()
        }
      count.getOrElse(throw new IllegalStateException(
        "page-1 envelope has no numeric top-level \"count\" field"))
    } finally p.close()
  }

  /** S1: `start_page = max(1, ceil(db_count / page_size))`
    * (salesforce_extractor.py:264). */
  def incrementalStartPage(dbCount: Long, pageSize: Int = PageSize): Int =
    math.max(1L, (dbCount + pageSize - 1) / pageSize).toInt

  def totalPages(apiCount: Long, pageSize: Int = PageSize): Int =
    ((apiCount + pageSize - 1) / pageSize).toInt

  /** SRC1: the `graft-pages` scan of pages [startPage, endPage] as a
    * `(page, value)` frame, `value` the raw envelope JSON. Planner-visible:
    * `page` predicates and LIMIT prune the fetched range before any fetch,
    * and a `page`-only projection never fetches a body. */
  def rawPages(spark: SparkSession, client: PageClient,
               startPage: Int, endPage: Int, parallelism: Int = 8): DataFrame =
    PaginatedTableProvider.withClient(client) { key =>
      spark.read.format("graft-pages")
        .option("client", key)
        .option("startpage", startPage)
        .option("endpage", endPage)
        .option("parallelism", parallelism)
        .load()
    }

  /** P1+F3+F4: envelope JSON → flattened lead-activity rows with the
    * reference's exact defaulting (absent keys → "", only `date` nullable)
    * and 16-hex content hash over the full projection. Reads the `value`
    * column of [[rawPages]], of [[streamPages]] or of any string Dataset.
    * A page that is not valid envelope JSON (say, cut off mid-item) fails
    * the job: FAILFAST parsing, where the default PERMISSIVE mode would turn
    * it into a null envelope and drop all of its items without an error. */
  def flattenPages(pages: Dataset[_]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(from_json($"value", envelopeSchema, Map("mode" -> "FAILFAST")).as("page"))
      .select(explode($"page.items").as("item"))
      .select(
        Etl.emptyStringDefault($"item.keys.lead_id").as("lead_id"),
        Etl.emptyStringDefault($"item.keys.url").as("url"),
        Etl.emptyStringDefault($"item.keys.session_id").as("session_id"),
        Etl.emptyStringDefault($"item.keys.order").as("order"),
        Etl.parseSfmcDate($"item.values.date").as("date"),
        Etl.emptyStringDefault($"item.values.type_id").as("type_id"),
        Etl.emptyStringDefault($"item.values.event_category").as("event_category"),
        Etl.cleanEventName(Etl.emptyStringDefault($"item.values.event_name")).as("event_name"),
        Etl.contentHash(
          $"item.keys.lead_id", $"item.keys.url", $"item.keys.session_id", $"item.keys.order",
          $"item.values.type_id", $"item.values.event_category", $"item.values.event_name",
          $"item.values.date").as("hash"))
  }

  /** S1 as Structured Streaming: the paginated source as a DSv2
    * `MicroBatchStream` — each trigger probes the API row count (A2
    * pre-flight) and fetches only pages past the committed ROW watermark,
    * re-fetching the partial boundary page whose overlap downstream hash
    * dedup drops (the reference's incremental loop, checkpoint-resumable).
    * Compose with [[flattenPages]] + an idempotent merge sink for
    * exactly-once rows. */
  def streamPages(spark: SparkSession, client: PageClient,
                  startRows: Long = 0L, parallelism: Int = 8,
                  pageSize: Int = PageSize): DataFrame =
    PaginatedTableProvider.withClient(client) { key =>
      spark.readStream.format("graft-pages")
        .option("client", key)
        .option("startrows", startRows)
        .option("pagesize", pageSize)
        .option("parallelism", parallelism)
        .load()
    }

  /** T6 bulk mode: full scan from page 1 (reference truncates the sink
    * first = SaveMode.Overwrite downstream). */
  def bulkExtract(spark: SparkSession, client: PageClient, parallelism: Int = 8,
                  pageSize: Int = PageSize): DataFrame =
    flattenPages(rawPages(spark, client, 1, totalPages(totalCount(client), pageSize), parallelism))

  /** T6+S1 incremental mode: scan only pages >= the high-watermark page for
    * `dbCount` already-loaded rows and return the rows whose hash `existing`
    * lacks — the overlap rows of the re-fetched boundary page drop out here.
    * Within-round duplicates stay; the sink's merge ([[graft.sinks.Sinks.appendNew]],
    * the reference's ON DUPLICATE KEY no-op) collapses them. The rows keep
    * the page columns' order (the bulk load's layout), so when `existing`
    * reads the sink, appendNew's own read of it matches and AQE reuses this
    * anti-join's broadcast: the round scans the sink's hashes once and lands
    * in one write job. Returns `existing.limit(0)` when the API has nothing
    * new (salesforce_extractor.py:271-274); appendNew writes nothing for
    * it. */
  def incrementalExtract(spark: SparkSession, client: PageClient, existing: DataFrame,
                         dbCount: Long, parallelism: Int = 8,
                         pageSize: Int = PageSize): DataFrame = {
    val apiCount = totalCount(client)
    if (apiCount <= dbCount) existing.limit(0)
    else {
      val start = incrementalStartPage(dbCount, pageSize)
      val end = totalPages(apiCount, pageSize)
      val pages = flattenPages(rawPages(spark, client, start, end, parallelism))
      val known = existing.select("hash")
      pages.join(known, pages("hash") === known("hash"), "left_anti")
    }
  }
}
