package graft.sources

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import com.fasterxml.jackson.core.JsonToken._
import graft.operators.Etl
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Paginated REST source re-expressing the reference connector
  * (`/root/reference/app/salesforce_extractor.py`) Spark-first:
  *
  *  - SRC1 (:106-136, :248): page-numbered GET with envelope
  *    `{count, items[]}`, page size 2500, read through the DataSource V2
  *    `graft-pages` table ([[PaginatedTableProvider]]) — one Spark task per
  *    contiguous page run, whose reader parses each page once, straight
  *    into item rows, and fails a page whose item count disagrees with its
  *    envelope `count`.
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
  * page id space evenly and each reader fetches its run lazily, holding
  * one page at a time.
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

  /** An envelope item's `keys` and `values` fields
    * (salesforce_extractor.py:268,:291,:345 and FIXTURES.md
    * "Reference-shape fixtures"). */
  private val KeyFields = Array("lead_id", "url", "session_id", "order")
  private val ValueFields = Array("type_id", "event_category", "event_name", "date")

  /** The `graft-pages` scan row: one envelope item's raw fields, `keys`
    * then `values`, each a nullable string. */
  private[sources] val ItemSchema: StructType =
    StructType((KeyFields ++ ValueFields).map(StructField(_, StringType)))

  private val json = new JsonFactory()

  /** The one reader of the page envelope: a Jackson streaming walk that
    * returns the TOP-LEVEL numeric `count`, or None when it is missing or
    * not an integer (a `count` inside an item can't shadow it). With
    * `items` null it skips every nested value and stops at the count;
    * otherwise it appends each item to `items` as an [[ItemSchema]] row.
    * A field holds a string token's text, null for JSON `null` or an absent
    * key, and the JSON text of any other token — what `from_json` gives a
    * string field. Unknown fields are skipped and fields may come in any
    * order; malformed JSON, or an item, `keys` or `values` that is neither
    * an object nor null, throws. */
  private def walkEnvelope(body: String, items: ArrayBuffer[InternalRow]): Option[Long] = {
    val p = json.createParser(body)
    try {
      var count: Option[Long] = None
      if (p.nextToken() == START_OBJECT)
        while ((items != null || count.isEmpty) && p.nextToken() == FIELD_NAME) {
          val field = p.currentName()
          val v = p.nextToken()
          if (field == "count" && v == VALUE_NUMBER_INT) count = Some(p.getLongValue)
          else if (field == "items" && items != null && v == START_ARRAY)
            while (p.nextToken() != END_ARRAY) items += readItem(p)
          else p.skipChildren()
        }
      count
    } finally p.close()
  }

  /** One item at its opening token; JSON `null` is a row of nulls, as an
    * exploded null array element was. */
  private def readItem(p: JsonParser): InternalRow = {
    val row = new Array[Any](KeyFields.length + ValueFields.length)
    if (objectOrNull(p, "item"))
      while (p.nextToken() == FIELD_NAME) {
        val group = p.currentName()
        p.nextToken()
        val (names, at) =
          if (group == "keys") (KeyFields, 0)
          else if (group == "values") (ValueFields, KeyFields.length)
          else (null, 0)
        if (names != null && objectOrNull(p, group))
          while (p.nextToken() == FIELD_NAME) {
            val i = names.indexOf(p.currentName())
            p.nextToken()
            if (i < 0) p.skipChildren() else row(at + i) = fieldText(p)
          }
        else p.skipChildren()
      }
    new GenericInternalRow(row)
  }

  private def objectOrNull(p: JsonParser, what: String): Boolean = {
    val t = p.currentToken()
    if (t != START_OBJECT && t != VALUE_NULL)
      throw new IllegalStateException(s"envelope $what is $t, not an object")
    t == START_OBJECT
  }

  private def fieldText(p: JsonParser): UTF8String = p.currentToken() match {
    case VALUE_STRING => UTF8String.fromString(p.getText)
    case VALUE_NULL => null
    case _ =>
      val text = new java.io.StringWriter
      val g = json.createGenerator(text)
      try g.copyCurrentStructure(p) finally g.close()
      UTF8String.fromString(text.toString)
  }

  /** A2: driver-side pre-flight — fetch page 1 and read the envelope's
    * TOP-LEVEL numeric `count` (salesforce_extractor.py:263-269); also the
    * streaming source's probe. The walk never materializes an item. A
    * missing or non-numeric `count` fails loudly: every page plan and the
    * stream watermark derive from it. */
  def totalCount(client: PageClient): Long =
    walkEnvelope(client.fetchPage(1), null).getOrElse(throw new IllegalStateException(
      "page-1 envelope has no numeric top-level \"count\" field"))

  /** Page `page` of a `pageSize`-item paged API as [[ItemSchema]] rows, in
    * one parse. The page must hold `max(0, min(pageSize, count −
    * (page−1)·pageSize))` items, `count` read from its own envelope;
    * otherwise, and on a null body, malformed JSON or no numeric `count`,
    * it throws an error that names the page. The graft-pages reader emits
    * none of a page's rows before this check, so no write sees part of a
    * bad page. */
  private[sources] def readPage(client: PageClient, page: Int,
                                pageSize: Int): ArrayBuffer[InternalRow] = {
    val body = client.fetchPage(page)
    require(body != null, s"PageClient.fetchPage($page) returned null")
    val items = ArrayBuffer.empty[InternalRow]
    val count = try walkEnvelope(body, items) catch {
      case e @ (_: java.io.IOException | _: IllegalStateException) =>
        throw new IllegalStateException(s"page $page is not a page envelope: ${e.getMessage}", e)
    }
    val expected = count.map(c => math.max(0L, math.min(pageSize.toLong, c - (page - 1L) * pageSize)))
    if (!expected.contains(items.length.toLong)) throw new IllegalStateException(count match {
      case None => s"page $page has no numeric top-level \"count\" field"
      case Some(c) => s"page $page holds ${items.length} items, but count $c at page size " +
        s"$pageSize puts ${expected.get} on it"
    })
    items
  }

  /** S1: `start_page = max(1, ceil(db_count / page_size))`
    * (salesforce_extractor.py:264). */
  def incrementalStartPage(dbCount: Long, pageSize: Int = PageSize): Int =
    math.max(1L, (dbCount + pageSize - 1) / pageSize).toInt

  def totalPages(apiCount: Long, pageSize: Int = PageSize): Int =
    ((apiCount + pageSize - 1) / pageSize).toInt

  /** SRC1: the `graft-pages` scan of pages [startPage, endPage] of a
    * `pageSize`-item paged API, one row per item of raw fields. */
  def pageItems(spark: SparkSession, client: PageClient, startPage: Int, endPage: Int,
                parallelism: Int = 8, pageSize: Int = PageSize): DataFrame =
    PaginatedTableProvider.withClient(client) { key =>
      spark.read.format("graft-pages")
        .option("client", key)
        .option("startpage", startPage)
        .option("endpage", endPage)
        .option("pagesize", pageSize)
        .option("parallelism", parallelism)
        .load()
    }

  /** P1+F3+F4: raw item rows → flattened lead-activity rows with the
    * reference's exact defaulting (absent keys → "", only `date` nullable)
    * and 16-hex content hash over the full projection. Reads the item
    * columns of [[pageItems]], of [[streamPages]] or of a staged copy of
    * either. */
  def flattenPages(items: Dataset[_]): DataFrame =
    items.select(
      Etl.emptyStringDefault(col("lead_id")).as("lead_id"),
      Etl.emptyStringDefault(col("url")).as("url"),
      Etl.emptyStringDefault(col("session_id")).as("session_id"),
      Etl.emptyStringDefault(col("order")).as("order"),
      Etl.parseSfmcDate(col("date")).as("date"),
      Etl.emptyStringDefault(col("type_id")).as("type_id"),
      Etl.emptyStringDefault(col("event_category")).as("event_category"),
      Etl.cleanEventName(Etl.emptyStringDefault(col("event_name"))).as("event_name"),
      Etl.contentHash((KeyFields ++ ValueFields).toIndexedSeq.map(col): _*).as("hash"))

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
    flattenPages(pageItems(spark, client, 1, totalPages(totalCount(client), pageSize),
      parallelism, pageSize))

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
      val pages = flattenPages(pageItems(spark, client, start, end, parallelism, pageSize))
      val known = existing.select("hash")
      pages.join(known, pages("hash") === known("hash"), "left_anti")
    }
  }
}
