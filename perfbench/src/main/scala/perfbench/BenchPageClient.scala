package perfbench

import graft.sources.PaginatedSource
import org.apache.spark.util.LongAccumulator

/** Seeded page client producing the reference envelope
  * `{"count": N, "items": [{"keys": {...}, "values": {...}}]}` for an API
  * that currently holds `totalItems` items.
  *
  * Item at position i carries content id `contentId(i)`: on every page after
  * the first, the first `dupPerPage` positions repeat the content of the
  * positions `dupPerPage` earlier, i.e. the previous page's tail, so
  * duplicates straddle page boundaries. A content id whose seeded hash falls
  * under `badDateShare` carries an unparseable date. The first fetch of a
  * page (per client instance) whose seeded hash falls under `unauthRate`
  * throws a 401, which [[PaginatedSource.RetryingClient]] replays once.
  *
  * Counters are Spark accumulators so executor-side fetches reach the driver.
  */
final class BenchPageClient(val seed: Long, val totalItems: Int, val pageSize: Int,
                            val dupPerPage: Int, val badDateShare: Double,
                            val unauthRate: Double, counters: BenchPageClient.Counters)
    extends PaginatedSource.PageClient {
  import BenchPageClient._
  require(dupPerPage * 2 <= pageSize, "a duplicate must copy a non-duplicate position")

  @transient private lazy val refused = scala.collection.mutable.Set.empty[Int]

  def fetchPage(page: Int): String = {
    val t0 = System.nanoTime()
    if (mix(seed, page, 3) % 10000 < unauthRate * 10000 && refused.synchronized(refused.add(page)))
      throw new PaginatedSource.UnauthorizedException(s"401 on page $page")
    val start = (page - 1) * pageSize
    val end = math.min(start + pageSize, totalItems)
    val sb = new StringBuilder(256 * pageSize)
    sb.append("{\"count\":").append(totalItems).append(",\"items\":[")
    var i = start
    while (i < end) {
      if (i > start) sb.append(',')
      itemJson(sb, contentId(i))
      i += 1
    }
    sb.append("]}")
    val body = sb.toString
    counters.pages.add(1)
    counters.items.add(math.max(0, end - start))
    counters.bytes.add(body.length)
    counters.fetchNs.add(System.nanoTime() - t0)
    body
  }

  def contentId(i: Int): Int =
    if (i >= pageSize && i % pageSize < dupPerPage) i - dupPerPage else i

  def badDate(c: Int): Boolean = mix(seed, c, 1) % 10000 < badDateShare * 10000

  private def itemJson(sb: StringBuilder, c: Int): Unit = {
    val h = mix(seed, c, 2)
    val name =
      if (h % 97 == 0) "long_" + ("x" * 300) + "?utm_source=mail" // > 256 chars
      else s"ev_${h % 41}?src=mail&c=$c"
    val date =
      if (badDate(c)) "not-a-date"
      else f"${1 + h % 12}/${1 + (h >>> 8) % 28}/2025 ${1 + (h >>> 16) % 12}:${(h >>> 24) % 60}%02d:${(h >>> 32) % 60}%02d ${if (h % 2 == 0) "AM" else "PM"}"
    val session = if (h % 53 == 0) "" else s""""session_id":"S-${(h >>> 12) % 20000}","""
    sb.append(s"""{"keys":{"lead_id":"L-${(h >>> 4) % 5000}","url":"https://x/p/$c?utm=${h % 7}",""")
      .append(session)
      .append(s""""order":"${c % 50}"},"values":{"type_id":"T-${(h >>> 20) % 13}",""")
      .append(s""""event_category":"cat${(h >>> 28) % 5}","event_name":"$name","date":"$date"}}""")
  }

  /** Distinct content ids and distinct bad-date content ids among the first
    * `n` positions: what a correct load of `n` API items lands. */
  def expected(n: Int): (Long, Long) = {
    var distinct, bad = 0L
    var i = 0
    while (i < n) {
      if (contentId(i) == i) { distinct += 1; if (badDate(i)) bad += 1 }
      i += 1
    }
    (distinct, bad)
  }
}

object BenchPageClient {
  final class Counters(spark: org.apache.spark.sql.SparkSession) extends Serializable {
    private def acc(n: String): LongAccumulator = spark.sparkContext.longAccumulator(n)
    val pages: LongAccumulator = acc("perfbench.pages")
    val items: LongAccumulator = acc("perfbench.items")
    val bytes: LongAccumulator = acc("perfbench.bytes")
    val fetchNs: LongAccumulator = acc("perfbench.fetch_ns")
    val retries: LongAccumulator = acc("perfbench.retries")
  }

  /** splitmix64 finaliser over (seed, key, salt), non-negative. */
  def mix(seed: Long, key: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + key * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }
}
