package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 form of the paginated REST source (SURVEY.md §2 SRC1;
  * reference behavior `salesforce_extractor.py:106-136`): the page-id
  * space becomes a real `Table` whose scan plans ONE `InputPartition` per
  * contiguous page run, so the scheduler sees one task per run. Each
  * reader fetches its run's pages one at a time and parses each page once
  * into item rows ([[PaginatedSource.ItemSchema]]), checking the page's
  * item count against its envelope before emitting any of its rows.
  *
  * The transport stays an injected [[PaginatedSource.PageClient]] (SRC2).
  * DSv2 instantiates providers reflectively with string options, so the
  * entry points ([[PaginatedSource.pageItems]], [[PaginatedSource.streamPages]])
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
    PaginatedSource.ItemSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PagesTable(PaginatedTableProvider.client(properties.get("client")))
}

object PaginatedTableProvider {
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
      "graft-pages has no PageClient: read it through PaginatedSource.pageItems or streamPages")
    c
  }
}

private[sources] class PagesTable(client: PaginatedSource.PageClient)
    extends Table with SupportsRead {
  override def name(): String = "graft_pages"
  override def schema(): StructType = PaginatedSource.ItemSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new PagesScan(client, options)
}

private[sources] class PagesScan(client: PaginatedSource.PageClient,
                                 options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  private val start = options.getInt("startpage", 1)
  // Int.MaxValue = unbounded: fine for streaming (the offset loop bounds
  // each batch); an unbounded BATCH scan fails in toBatch.
  private val end = options.getInt("endpage", Int.MaxValue)
  private val pageSize = options.getInt("pagesize", PaginatedSource.PageSize)
  private val parallelism = options.getInt("parallelism", 8)

  override def readSchema(): StructType = PaginatedSource.ItemSchema
  override def toBatch: Batch = {
    require(end != Int.MaxValue, "unbounded batch page scan: provide 'endpage'")
    this
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PagesMicroBatchStream(client, options.getLong("startrows", 0L), parallelism, pageSize)
  override def description(): String = s"graft-pages pages=[$start..$end]"

  /** One partition per contiguous page run; run sizes differ by at most 1. */
  override def planInputPartitions(): Array[InputPartition] =
    PagesScan.planRuns(start, end, parallelism)

  override def createReaderFactory(): PartitionReaderFactory =
    new PagesReaderFactory(client, pageSize)
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
private[sources] case class PageRowsOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

/** S1 as a DataSource V2 `MicroBatchStream`: each micro-batch covers pages
  * `incrementalStartPage(prevRows)` .. `totalPages(latestRows)`, where
  * `latestRows` is discovered by the reference's A2 pre-flight (fetch page
  * 1, read the envelope `count`) on the driver. Page fetches distribute
  * exactly like the batch scan (same partition planner, same reader).
  * Restart-safe: the committed offset is the row watermark, so a
  * checkpointed restart resumes at the boundary page. Under
  * `Trigger.AvailableNow` the count is probed once when the run starts and
  * every batch of the run, a replayed uncommitted one first, drains up to
  * it. */
private[sources] class PagesMicroBatchStream(client: PaginatedSource.PageClient,
                                             startRows: Long, parallelism: Int,
                                             pageSize: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private var availableNow: Option[Offset] = None

  private def probe(): Offset = PageRowsOffset(PaginatedSource.totalCount(client))

  override def initialOffset(): Offset = PageRowsOffset(startRows)
  override def prepareForTriggerAvailableNow(): Unit = availableNow = Some(probe())
  /** A2 pre-flight, driver-side, one page-1 fetch per trigger (the
    * reference does the identical probe per run), or the pinned
    * AvailableNow count. */
  override def latestOffset(): Offset = availableNow.getOrElse(probe())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = latestOffset()
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
    new PagesReaderFactory(client, pageSize)

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
private[sources] class PagesReaderFactory(client: PaginatedSource.PageClient, pageSize: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagesInputPartition]
    new PartitionReader[InternalRow] {
      private var page = p.startPage - 1
      private var items: Iterator[InternalRow] = Iterator.empty
      private var item: InternalRow = _
      override def next(): Boolean = {
        // one page buffered at a time: a page passes its count check
        // before any of its rows leaves the reader
        while (!items.hasNext && page < p.endPage) {
          page += 1
          items = PaginatedSource.readPage(client, page, pageSize).iterator
        }
        items.hasNext && { item = items.next(); true }
      }
      override def get(): InternalRow = item
      override def close(): Unit = ()
    }
  }
}
