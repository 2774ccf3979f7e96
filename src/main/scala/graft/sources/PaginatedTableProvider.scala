package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 form of the paginated REST source (SURVEY.md §2 SRC1;
  * reference behavior `salesforce_extractor.py:106-136`): the page-id
  * space becomes a real `Table` whose scan plans ONE `InputPartition` per
  * contiguous page run, so the planner sees the connector instead of an
  * opaque closure.
  *
  * Planner integration:
  *  - **page-range pruning**: `WHERE page >= k` (and =, <, <=, >) is pushed
  *    into the scan and narrows the fetched run BEFORE any HTTP call — the
  *    incremental high-watermark read becomes a plain filter;
  *  - **column pruning**: a `page`-only projection never fetches the body
  *    (the reader consults the pruned schema per column);
  *  - partition count = page-run count, visible to the scheduler.
  *
  * The transport stays an injected [[PaginatedSource.PageClient]] (SRC2).
  * DSv2 instantiates providers reflectively with string options, so the
  * entry points ([[PaginatedSource.rawPages]], [[PaginatedSource.streamPages]])
  * register the client under a one-off key only while `load()` resolves the
  * table; the [[PagesTable]] then holds the client for every later planning
  * of that frame (re-planning, stream restarts), and the registry is empty
  * again once the entry point returns. The (Serializable) client ships in
  * the reader factory, which executors deserialize inside the running task,
  * so accumulators the client carries register with that task and count
  * every fetch.
  *
  * Scale: page runs distribute across executors with no driver
  * materialization; a 401 inside a task retries via whatever retry
  * decoration the client carries (SRC3).
  */
class PaginatedTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-pages"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PaginatedTableProvider.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PagesTable(PaginatedTableProvider.client(properties.get("client")))
}

object PaginatedTableProvider {
  /** One row per fetched page: its id and the raw envelope JSON. */
  val Schema: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("value", StringType, nullable = false)))

  private val clients =
    new java.util.concurrent.ConcurrentHashMap[String, PaginatedSource.PageClient]()

  /** Runs `load` with `client` registered under a fresh key for
    * `option("client", key)`, and unregisters it before returning. */
  private[sources] def withClient[T](client: PaginatedSource.PageClient)(load: String => T): T = {
    val key = java.util.UUID.randomUUID().toString
    clients.put(key, client)
    try load(key) finally clients.remove(key)
  }

  /** Clients currently registered — zero whenever no entry point is mid-load. */
  private[graft] def registeredClients: Int = clients.size

  private def client(key: String): PaginatedSource.PageClient = {
    val c = if (key == null) null else clients.get(key)
    require(c != null,
      "graft-pages has no PageClient: read it through PaginatedSource.rawPages or streamPages")
    c
  }
}

private[sources] class PagesTable(client: PaginatedSource.PageClient)
    extends Table with SupportsRead {
  override def name(): String = "graft_pages"
  override def schema(): StructType = PaginatedTableProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagesScanBuilder(client, options)
}

/** Narrows [startPage, endPage] with every pushable `page` predicate,
  * prunes the projected columns, and answers ungrouped `count(*)` from
  * page arithmetic alone — the reference reads the envelope `count` field
  * instead of fetching pages (A2, `salesforce_extractor.py:263-269`); the
  * DSv2 form makes that a planner decision: the aggregate is pushed into
  * the scan (AFTER the page filters, so a pruned range counts correctly)
  * and no page body is ever fetched. Partial-pushdown contract: each
  * partition emits its page-run count and Spark's final aggregate merges
  * them. */
private[sources] class PagesScanBuilder(client: PaginatedSource.PageClient,
                                        options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var start: Int = options.getInt("startpage", 1)
  // Int.MaxValue = unbounded: fine for streaming (the offset loop bounds
  // each batch) and for batch scans that get bounded by a pushed `page`
  // predicate or LIMIT; a truly unbounded BATCH scan fails in toBatch.
  private var end: Int = options.getInt("endpage", Int.MaxValue)
  private val streamStartRows: Long = options.getLong("startrows", 0L)
  private val pageSize: Int = options.getInt("pagesize", PaginatedSource.PageSize)
  private val parallelism: Int = options.getInt("parallelism", 8)
  private var required: StructType = PaginatedTableProvider.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("page", v: Int)            => start = math.max(start, v); end = math.min(end, v); true
      case GreaterThan("page", v: Int)        => start = math.max(start, v + 1); true
      case GreaterThanOrEqual("page", v: Int) => start = math.max(start, v); true
      case LessThan("page", v: Int)           => end = math.min(end, v - 1); true
      case LessThanOrEqual("page", v: Int)    => end = math.min(end, v); true
      case _                                  => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  private var countPushed = false

  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().length == 1 &&
      aggregation.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) countPushed = true
    ok
  }

  /** LIMIT pushdown: each page is exactly one source row, so a row limit
    * IS a page limit — truncate the run and never issue an HTTP fetch past
    * it (`df.limit(3)` over a million-page space fetches 3 pages). Runs
    * after filter pushdown in Spark's V2ScanRelationPushDown, so the limit
    * applies to the already-narrowed range. Returning true guarantees the
    * scan emits at most `limit` rows, letting Spark drop its LocalLimit. */
  override def pushLimit(limit: Int): Boolean = {
    end = math.min(end.toLong, start.toLong + math.max(limit, 0) - 1).toInt
    true
  }

  override def build(): Scan =
    if (countPushed) new PagesCountScan(start, end)
    else new PagesScan(client, start, end,
      parallelism, required, pushed, streamStartRows, pageSize)
}

/** count(*) answered without a single page fetch: one partition, one row
  * carrying the (filter-narrowed) page-run length; Spark's final aggregate
  * merges (partial-pushdown contract). */
private[sources] class PagesCountScan(start: Int, end: Int) extends Scan with Batch {
  private val n: Long = math.max(0, end - start + 1).toLong
  override def readSchema(): StructType =
    StructType(Seq(StructField("COUNT(*)", LongType, nullable = false)))
  override def toBatch: Batch = {
    // Same guard as PagesScan.toBatch: an unbounded page run has no
    // meaningful count — without this, count(*) on a default (endpage
    // unset = Int.MaxValue) batch read would silently answer ~2^31
    // instead of failing loudly (ADVICE r9).
    require(end != Int.MaxValue,
      "unbounded batch page count: provide 'endpage' or a `page` predicate")
    this
  }
  override def description(): String = s"graft-pages COUNT(*) pages=[$start..$end]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(PagesCountPartition(n))
  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val total = partition.asInstanceOf[PagesCountPartition].n
      private var emitted = false
      override def next(): Boolean = { val go = !emitted; emitted = true; go }
      override def get(): InternalRow = InternalRow(total)
      override def close(): Unit = ()
    }
}

private[sources] case class PagesCountPartition(n: Long) extends InputPartition

private[sources] class PagesScan(client: PaginatedSource.PageClient,
                                 start: Int, end: Int, parallelism: Int,
                                 required: StructType, pushed: Array[Filter],
                                 streamStartRows: Long = 0L,
                                 pageSize: Int = PaginatedSource.PageSize)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = {
    require(end != Int.MaxValue,
      "unbounded batch page scan: provide 'endpage', a `page` predicate, or a LIMIT")
    this
  }
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PagesMicroBatchStream(client, streamStartRows, parallelism, required, pageSize)
  override def description(): String =
    s"graft-pages pages=[$start..$end] PushedFilters: [${pushed.mkString(", ")}]"

  /** One partition per contiguous page run; run sizes differ by at most 1. */
  override def planInputPartitions(): Array[InputPartition] =
    PagesScan.planRuns(start, end, parallelism)

  override def createReaderFactory(): PartitionReaderFactory =
    new PagesReaderFactory(client, required)
}

private[sources] object PagesScan {
  /** [start..end] as ≤ `parallelism` contiguous page runs (sizes differ by
    * at most 1) — shared by the batch scan and each micro-batch plan. */
  def planRuns(start: Int, end: Int, parallelism: Int): Array[InputPartition] = {
    val n = end - start + 1
    if (n <= 0) Array.empty
    else {
      val runs = math.min(parallelism, n)
      (0 until runs).map { r =>
        val lo = start + (n.toLong * r / runs).toInt
        val hi = start + (n.toLong * (r + 1) / runs).toInt - 1
        PagesInputPartition(lo, hi): InputPartition
      }.toArray
    }
  }
}

/** Streaming offset for the paginated source: the API ROW-COUNT high
  * watermark (not a page number) — the reference's own CDC cursor
  * (`salesforce_extractor.py:264` derives the start page from the sink
  * row count). Storing rows rather than pages is what preserves the
  * reference's boundary-overlap semantics across restarts: a partially
  * filled tail page leaves the watermark mid-page, so the NEXT batch
  * re-fetches that boundary page and the downstream hash dedup (D1)
  * drops the overlap — at-least-once delivery + idempotent merge =
  * exactly-once rows, the contract the reference's DB unique key
  * provides. */
private[sources] case class PageRowsOffset(rows: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = rows.toString
}

/** S1 as a DataSource V2 `MicroBatchStream`: each micro-batch covers pages
  * `incrementalStartPage(prevRows)` .. `totalPages(latestRows)`, where
  * `latestRows` is discovered by the reference's A2 pre-flight (fetch page
  * 1, read the envelope `count`) at `latestOffset()` time on the driver.
  * Page fetches distribute exactly like the batch scan (same partition
  * planner, same reader). Restart-safe: the committed offset is the row
  * watermark, so a checkpointed restart resumes at the boundary page. */
private[sources] class PagesMicroBatchStream(client: PaginatedSource.PageClient,
                                             startRows: Long, parallelism: Int,
                                             required: StructType,
                                             pageSize: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = PageRowsOffset(startRows)
  /** A2 pre-flight, driver-side, one page-1 fetch per trigger (the
    * reference does the identical probe per run). */
  override def latestOffset(): Offset = PageRowsOffset(PaginatedSource.totalCount(client))
  override def deserializeOffset(json: String): Offset =
    PageRowsOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PageRowsOffset].rows
    val e = end.asInstanceOf[PageRowsOffset].rows
    if (e <= s) Array.empty
    else PagesScan.planRuns(
      PaginatedSource.incrementalStartPage(s, pageSize),
      PaginatedSource.totalPages(e, pageSize), parallelism)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagesReaderFactory(client, required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class PagesInputPartition(startPage: Int, endPage: Int)
    extends InputPartition

/** Carries the client to the executors. Not the partition: Spark
  * deserializes a task's partition before the task's `TaskContext` exists,
  * so accumulators inside a partition-held client never register and their
  * counts are lost; the factory travels in the task binary, deserialized
  * inside the running task. */
private[sources] class PagesReaderFactory(client: PaginatedSource.PageClient,
                                          required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagesInputPartition]
    new PartitionReader[InternalRow] {
      private var page = p.startPage - 1
      override def next(): Boolean = { page += 1; page <= p.endPage }
      override def get(): InternalRow = InternalRow.fromSeq(
        required.fieldNames.toSeq.map {
          // the fetch happens only if `value` survived column pruning
          case "page"  => page
          case "value" =>
            // the schema declares `value` non-nullable; a null fetch must be
            // a loud failure here, not a corrupt row downstream
            val body = client.fetchPage(page)
            require(body != null, s"PageClient.fetchPage($page) returned null")
            UTF8String.fromString(body)
        })
      override def close(): Unit = ()
    }
  }
}
