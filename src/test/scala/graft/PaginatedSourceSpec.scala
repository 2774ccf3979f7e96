package graft

import graft.sources.{PaginatedSource => PS, SyntheticPageClient}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Connector semantics without network (SURVEY.md §5.4): envelope parse,
  * P1 empty-string defaults, S1 page math + boundary overlap, SRC3 retry. */
class PaginatedSourceSpec extends SparkTestBase {
  import spark.implicits._

  /** The scan parses each page once: no JSON-to-struct expression and no
    * explode (Generate) left anywhere in the plan. */
  private def assertOneParse(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val plan = df.queryExecution.analyzed // a stream's plan only analyzes
    assert(!plan.exists(_.isInstanceOf[Generate]), plan)
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))), plan)
  }

  test("SRC1: bulk extract flattens all pages") {
    val client = new SyntheticPageClient(250, pageSize = 100)
    val df = PS.bulkExtract(spark, client, parallelism = 4, pageSize = 100)
    assert(df.count() == 250)
    assert(df.columns.toSeq == Seq("lead_id", "url", "session_id", "order",
      "date", "type_id", "event_category", "event_name", "hash"))
    // one fetch path: the graft-pages batch scan, no round-robin shuffle
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-pages pages=[1..3]"), plan)
    assert(!plan.contains("RoundRobinPartitioning"), plan)
    // one parse path: bulk, incremental and stream plans all read items
    assertOneParse(df)
    assertOneParse(PS.incrementalExtract(spark, client, df, 150, 2, 100))
    assertOneParse(PS.flattenPages(PS.streamPages(spark, client, pageSize = 100)))
  }

  test("P1: absent keys become empty strings, not nulls; bad dates null") {
    val client = new SyntheticPageClient(120, pageSize = 100)
    val df = PS.bulkExtract(spark, client, parallelism = 2, pageSize = 100)
    // items 0, 53, 106 omit session_id
    assert(df.filter($"session_id" === "").count() == 3)
    assert(df.filter($"session_id".isNull).count() == 0)
    // items 0, 37, 74, 111 have unparseable dates -> null (only nullable col)
    assert(df.filter($"date".isNull).count() == 4)
    // F1: query strings stripped
    assert(df.filter($"event_name".contains("?")).count() == 0)
  }

  test("S1: incremental page math matches max(1, ceil(db/page_size))") {
    assert(PS.incrementalStartPage(0, 2500) == 1)
    assert(PS.incrementalStartPage(1, 2500) == 1)
    assert(PS.incrementalStartPage(2500, 2500) == 1)  // boundary page re-fetched
    assert(PS.incrementalStartPage(2501, 2500) == 2)
    assert(PS.incrementalStartPage(5000, 2500) == 2)
    assert(PS.totalPages(0) == 0)
    assert(PS.totalPages(1) == 1)
    assert(PS.totalPages(5001, 2500) == 3)
  }

  test("A2: the page-1 count is the envelope's top-level field; a missing one fails loudly") {
    def page1(body: String): PS.PageClient = new PS.PageClient { def fetchPage(page: Int) = body }
    assert(PS.totalCount(page1("""{"items":[{"count":7}],"count":250}""")) == 250L)
    intercept[IllegalStateException](PS.totalCount(page1("""{"items":[{"count":7}]}""")))
    intercept[IllegalStateException](PS.totalCount(page1("""{"count":"250","items":[]}""")))
  }

  test("P1: a page cut off mid-item fails the extract instead of dropping its rows") {
    val client = new TruncatingClient(new SyntheticPageClient(250, pageSize = 100), cut = 2)
    val e = intercept[org.apache.spark.SparkException](
      PS.bulkExtract(spark, client, parallelism = 2, pageSize = 100).count())
    assert(e.getMessage.contains("page 2 is not a page envelope"), e.getMessage)
  }

  test("P1: a short page that is still valid JSON fails, naming the page, before any of its rows leave the scan") {
    // page 2 of a 250-item API must hold 100 items; this one holds 99
    val short = new SyntheticPageClient(199, pageSize = 100).fetchPage(2)
      .replace("\"count\":199", "\"count\":250")
    val client = new PageOverride(new SyntheticPageClient(250, 100), 2, short)
    UpsertRecorder.urls.clear()
    // one task reads pages 1..3 in order and sends rows in batches of 10
    val e = intercept[org.apache.spark.SparkException](graft.sinks.Sinks.upsertBatched(
      PS.bulkExtract(spark, client, parallelism = 1, pageSize = 100), batchSize = 10) { rows =>
      rows.foreach(r => UpsertRecorder.urls.add(r.getAs[String]("url")))
      rows.size
    })
    assert(e.getMessage.contains("page 2 holds 99 items, but count 250 at page size 100 puts 100 on it"),
      e.getMessage)
    // page 1's items went out; none of page 2's did
    assert(UpsertRecorder.urls.asScala.toSet == (0 until 100).map(i => s"https://x/p/$i?utm=$i").toSet)
  }

  test("P1: a page holding more items than its count allows fails, naming the page") {
    // the last page of a 250-item API holds 50 items; this one holds 100
    val long = new SyntheticPageClient(300, pageSize = 100).fetchPage(3)
      .replace("\"count\":300", "\"count\":250")
    val e = intercept[org.apache.spark.SparkException](
      PS.bulkExtract(spark, new PageOverride(new SyntheticPageClient(250, 100), 3, long),
        parallelism = 2, pageSize = 100).count())
    assert(e.getMessage.contains("page 3 holds 100 items, but count 250 at page size 100 puts 50 on it"),
      e.getMessage)
  }

  test("P1: a data page without a numeric count fails, naming the page") {
    val countless = new SyntheticPageClient(250, pageSize = 100).fetchPage(2)
      .replace("\"count\":250,", "")
    val e = intercept[org.apache.spark.SparkException](
      PS.bulkExtract(spark, new PageOverride(new SyntheticPageClient(250, 100), 2, countless),
        parallelism = 2, pageSize = 100).count())
    assert(e.getMessage.contains("page 2 has no numeric top-level \"count\" field"), e.getMessage)
  }

  test("P1: the scan's items flatten row for row like from_json + explode over tricky envelopes") {
    // page size 4, count 7: page 1 holds 4 items, page 2 holds 3
    val page1 =
      """{"count":7,"extra":{"count":99,"items":[1]},"items":[
        | {"keys":{"lead_id":"L-1","url":"https://x/a?b=1","session_id":"S-1","order":"1"},
        |  "values":{"type_id":"T","event_category":"c","event_name":"e?x","date":"1/2/2025 3:04:05 PM"}},
        | {"keys":{"lead_id":"L-2","url":null},"values":{"date":null,"event_name":"only"}},
        | {"values":{"date":"2/3/2025 1:00:00 AM","type_id":7,"event_category":1.50,
        |    "event_name":{"a":[1, 2,{"b":null}],"c":"d?e"}},
        |  "keys":{"order":true,"lead_id":1e3,"unknown":{"x":1},"url":12345678901234567890},"other":[1,2]},
        | {"keys":null,"values":{"type_id":"T-9","event_name":"x\u00e9\"q\"?z","date":"not-a-date","session_id":"v"}}
        |]}""".stripMargin
    val page2 =
      """{"items":[
        | {"keys":{"lead_id":"L-5","url":"u","session_id":"","order":"0"},
        |  "values":{"type_id":"T","event_category":"c","event_name":"","date":"12/31/2025 11:59:59 PM"}},
        | {"keys":{"lead_id":"L-6","order":-0.0},"values":{"type_id":[],"event_category":{}}},
        | {"keys":{"lead_id":"L-7","count":3},"values":null,"count":4}
        |],"count":7}""".stripMargin
    val client = new PageOverride(new PageOverride(new SyntheticPageClient(0), 1, page1), 2, page2)
    def rows(df: DataFrame) = df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq
    val scanned = rows(PS.bulkExtract(spark, client, parallelism = 2, pageSize = 4))
    val reference = rows(ReferenceImpls.flattenEnvelopes(Seq(page1, page2).toDS()))
    assert(scanned.length == 7)
    assert(scanned == reference, s"\nscan:      $scanned\nreference: $reference")
  }

  test("S1+SNK1: incremental after partial bulk equals full bulk") {
    val client = new SyntheticPageClient(350, pageSize = 100)
    val firstTwoPages = PS.flattenPages(PS.pageItems(spark, client, 1, 2, 2, 100))
    val dbCount = firstTwoPages.count() // 200
    // pages 2..4 are fetched (2 is the boundary page); only 201..350 are new
    val fresh = PS.incrementalExtract(spark, client, firstTwoPages, dbCount, 2, 100)
    assert(fresh.count() == 150)
    val merged = firstTwoPages.unionByName(fresh)
    val bulk = PS.bulkExtract(spark, new SyntheticPageClient(350, 100), 2, 100)
    assert(merged.count() == 350)
    assert(merged.select("hash").except(bulk.select("hash")).count() == 0)
    assert(bulk.select("hash").except(merged.select("hash")).count() == 0)
  }

  test("S1: no new data short-circuits to existing") {
    val client = new SyntheticPageClient(100, pageSize = 100)
    val existing = Seq(("x", 1)).toDF("hash", "v")
    val out = PS.incrementalExtract(spark, client, existing, dbCount = 100, 2, 100)
    assert(out.isEmpty)
  }

  test("SRC3: single 401 triggers re-auth + replay; success on retry") {
    val flaky = new SyntheticPageClient(50, pageSize = 100, failFirstFetches = 1)
    var reauths = 0
    val client = new PS.RetryingClient(flaky, () => reauths += 1)
    val json = client.fetchPage(1)
    assert(json.contains("\"count\":50"))
    assert(reauths == 1)
    assert(flaky.fetches == 2)
  }

  test("SRC3: second consecutive 401 propagates (single-retry only)") {
    val dead = new SyntheticPageClient(50, pageSize = 100, failFirstFetches = 2)
    val client = new PS.RetryingClient(dead, () => ())
    intercept[PS.UnauthorizedException](client.fetchPage(1))
  }

  test("SRC1/DSv2: one InputPartition per page run") {
    val client = new SyntheticPageClient(1000, pageSize = 100)
    assert(PS.pageItems(spark, client, 1, 10, 4, 100)
      .rdd.getNumPartitions == 4)
    // fewer pages than parallelism -> one run per page
    assert(PS.pageItems(spark, client, 1, 3, 8, 100)
      .rdd.getNumPartitions == 3)
  }

  test("S1/DSv2 streaming: row-watermark micro-batches, boundary re-fetch, checkpoint resume") {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    // memory sink can't recover a checkpoint; foreachBatch can
    def drive(): Array[org.apache.spark.sql.Row] = {
      StreamCollector.rows.clear()
      val sdf = PS.streamPages(spark,
        new RecordingClient(new GrowableClient(pageSize = 100)),
        startRows = 0, parallelism = 4, pageSize = 100)
      val q = sdf.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(StreamCollector.rows.add)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      StreamCollector.rows.asScala.toArray
    }
    // run 1: 250 rows → pages 1..3 (page 3 partial: 50 of 100 rows)
    GrowableSource.total = 250
    FetchRecorder.pages.clear()
    val b1 = drive()
    assert(b1.length == 250)
    // fetched: the A2 page-1 count probe + the three planned pages
    assert(FetchRecorder.pages.asScala.map(_.toInt).toSet == Set(1, 2, 3))
    // run 2 from the same checkpoint: source grew to 420 rows. The committed
    // watermark is 250 → the partial boundary page 3 is RE-fetched (its
    // first 50 rows duplicate run 1 — the reference's deliberate overlap),
    // then pages 4..5; pages 1..2 are not re-read (offset pruning), page 1
    // appears only as the count probe.
    GrowableSource.total = 420
    FetchRecorder.pages.clear()
    val b2 = drive()
    assert(b2.length == 220) // pages 3 (now full), 4 and 5 (20 rows)
    assert(FetchRecorder.pages.asScala.map(_.toInt).toSet == Set(1, 3, 4, 5))
    // exactly-once END TO END: flatten both runs' items, dedup by hash
    // (D1 — the reference's ON DUPLICATE KEY no-op) == one bulk extract
    val all = spark.createDataFrame((b1 ++ b2).toSeq.asJava, b1.head.schema)
    val merged = PS.flattenPages(all).dropDuplicates("hash")
    val bulk = PS.bulkExtract(spark, new SyntheticPageClient(420, 100), 4, 100)
    assert(merged.count() == 420)
    assert(merged.select("hash").except(bulk.select("hash")).count() == 0)
    // no new data → an empty micro-batch plan, zero page fetches beyond the probe
    FetchRecorder.pages.clear()
    assert(drive().isEmpty)
    assert(FetchRecorder.pages.asScala.map(_.toInt).toSet.subsetOf(Set(1)))
  }

  test("S1/DSv2 streaming: an AvailableNow restart past an uncommitted batch drains to the API's end") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_avnow").toString
    def drive(): Unit =
      PS.streamPages(spark, new GrowableClient(pageSize = 100), parallelism = 2, pageSize = 100)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(StreamCollector.rows.add) }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    val fallbacks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("avnow-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("does not support Trigger.AvailableNow")) fallbacks.add(m)
      }
    }
    probe.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(probe)
    try {
      StreamCollector.rows.clear()
      GrowableSource.total = 250
      drive()
      // un-commit the last batch: the restart finds its offsets logged but
      // not committed, and must replay it, then go on to the API's end
      val commits = new java.io.File(ckpt, "commits")
      val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).maxBy(_.toInt)
      Seq(last, s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
      GrowableSource.total = 420
      drive()
    } finally {
      root.removeAppender(probe)
      probe.stop()
    }
    assert(fallbacks.isEmpty, fallbacks.asScala.mkString("\n"))
    val rows = StreamCollector.rows.asScala.toSeq
    val landed = PS.flattenPages(spark.createDataFrame(rows.asJava, rows.head.schema))
      .select("hash").distinct()
    val bulk = PS.bulkExtract(spark, new SyntheticPageClient(420, 100), 2, 100).select("hash")
    assert(landed.count() == 420)
    assert(landed.except(bulk).isEmpty && bulk.except(landed).isEmpty)
  }

  test("SRC1/S1: client accumulators count every page fetched, batch and stream") {
    def counting(inner: PS.PageClient) = {
      FetchCounter.n.set(0)
      val acc = spark.sparkContext.longAccumulator
      (new AccumulatingClient(inner, acc), acc)
    }
    // bulk: the page-1 count pre-flight on the driver + pages 1..3 in tasks
    val (bulkClient, bulkAcc) = counting(new SyntheticPageClient(250, pageSize = 100))
    PS.bulkExtract(spark, bulkClient, parallelism = 2, pageSize = 100)
      .write.format("noop").mode("overwrite").save()
    assert(FetchCounter.n.get == 4)
    assert(bulkAcc.value == 4L)
    // stream: the per-trigger count probes + pages 1..3 in tasks
    val (streamClient, streamAcc) = counting(new SyntheticPageClient(250, pageSize = 100))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_acc").toString
    PS.streamPages(spark, streamClient, parallelism = 2, pageSize = 100)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    assert(FetchCounter.n.get >= 4)
    assert(streamAcc.value == FetchCounter.n.get,
      s"accumulator saw ${streamAcc.value} of ${FetchCounter.n.get} fetches")
  }

  test("S1+SNK1: an incremental round fetches each page of its range once, extract through append") {
    val path = tmpDir("sink") + "/t"
    graft.sinks.Sinks.bulkReplace(
      PS.bulkExtract(spark, new SyntheticPageClient(200, pageSize = 100), 2, 100), path)
    FetchCounter.n.set(0)
    FetchRecorder.pages.clear()
    val acc = spark.sparkContext.longAccumulator
    val client = new AccumulatingClient(new RecordingClient(new SyntheticPageClient(350, pageSize = 100)), acc)
    val existing = spark.read.parquet(path)
    val fresh = PS.incrementalExtract(spark, client, existing, existing.count(), 2, 100)
    val n = graft.sinks.Sinks.appendNew(spark, fresh, path, "hash", Seq("url", "order"))
    assert(n == 150)
    assert(spark.read.parquet(path).count() == 350)
    // the round keeps the bulk load's column order in every file, so a
    // schema-inferring read of the sink sees the schema appendNew reads with
    assert(fresh.columns.toSeq == existing.columns.toSeq)
    val fileColumns = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
      .map(f => spark.read.parquet(f.getPath).columns.toSeq).distinct.toSeq
    assert(fileColumns == Seq(existing.columns.toSeq), fileColumns)
    // the page-1 count pre-flight, then pages 2..4 (2 is the boundary page)
    // once each; counting before a separate write job would fetch them twice
    assert(FetchRecorder.pages.asScala.map(_.toInt).toSet == Set(1, 2, 3, 4))
    assert(acc.value == 4L, s"${acc.value} fetches")
    assert(FetchCounter.n.get == 4L)
  }

  test("SRC1/S1: no PageClient outlives its DataFrame — the registry is empty after every entry point") {
    def registered = graft.sources.PaginatedTableProvider.registeredClients
    val df = PS.bulkExtract(spark, new SyntheticPageClient(250, pageSize = 100), 2, 100)
    assert(registered == 0)
    // the table holds its client: the frame still plans and runs, twice
    assert(df.count() == 250)
    assert(df.filter($"session_id" === "").count() == 5)
    // ... and again inside another read's plan: every fetched row exists
    assert(PS.incrementalExtract(spark, new SyntheticPageClient(250, 100), df, 200, 2, 100)
      .count() == 0)
    assert(registered == 0)
    // stream: run, then restart the SAME frame from its checkpoint after the
    // source grew — the restart re-plans from the offset log with no
    // registry entry to look up
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_reg").toString
    GrowableSource.total = 250
    val sdf = PS.streamPages(spark, new RecordingClient(new GrowableClient(pageSize = 100)),
      parallelism = 2, pageSize = 100)
    assert(registered == 0)
    def drive(): Set[Int] = {
      FetchRecorder.pages.clear()
      sdf.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
      FetchRecorder.pages.asScala.map(_.toInt).toSet
    }
    assert(drive() == Set(1, 2, 3))
    assert(registered == 0)
    GrowableSource.total = 420
    assert(drive() == Set(1, 3, 4, 5)) // the page-1 count probe, then 3..5
    assert(registered == 0)
  }
}

/** JVM-wide fetch log: the client instance is serialized into each task, so
  * an instance counter can't observe executor-side fetches even in local
  * mode — a singleton object (per-classloader) can. */
object FetchRecorder {
  val pages: java.util.Set[Integer] = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
}

class RecordingClient(inner: PS.PageClient) extends PS.PageClient {
  def fetchPage(page: Int): String = { FetchRecorder.pages.add(page); inner.fetchPage(page) }
}

/** Serves `body` as page `page` and every other page from `inner`. */
class PageOverride(inner: PS.PageClient, page: Int, body: String) extends PS.PageClient {
  def fetchPage(p: Int): String = if (p == page) body else inner.fetchPage(p)
}

/** Serves page `cut` cut in half (mid-item, so not valid JSON) and every
  * other page whole. */
class TruncatingClient(inner: PS.PageClient, cut: Int) extends PS.PageClient {
  def fetchPage(page: Int): String = {
    val body = inner.fetchPage(page)
    if (page == cut) body.take(body.length / 2) else body
  }
}

/** JVM-wide log of the urls a test's upsert function was sent. */
object UpsertRecorder {
  val urls: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** JVM-wide fetch total, the ground truth an accumulator count is checked
  * against (same per-classloader reasoning as [[FetchRecorder]]). */
object FetchCounter {
  val n = new java.util.concurrent.atomic.AtomicLong
}

/** Counts every fetch twice: into [[FetchCounter]] and into a Spark
  * accumulator, which only sees fetches made where it is registered. */
class AccumulatingClient(inner: PS.PageClient, acc: org.apache.spark.util.LongAccumulator)
    extends PS.PageClient {
  def fetchPage(page: Int): String = {
    FetchCounter.n.incrementAndGet()
    acc.add(1)
    inner.fetchPage(page)
  }
}

/** Mutable row count for the streaming test's growing source — a singleton
  * (per-classloader) for the same reason as [[FetchRecorder]]: the client
  * instance serializes into tasks, so only object state is shared. */
object GrowableSource {
  @volatile var total: Int = 0
}

/** Shared collected-row buffer for the checkpointed foreachBatch drives. */
object StreamCollector {
  val rows: java.util.List[org.apache.spark.sql.Row] =
    java.util.Collections.synchronizedList(new java.util.ArrayList[org.apache.spark.sql.Row]())
}

/** A [[SyntheticPageClient]]-shaped source whose row count follows
  * [[GrowableSource.total]] at fetch time — the append-only API the
  * reference polls incrementally. */
class GrowableClient(pageSize: Int) extends PS.PageClient {
  def fetchPage(page: Int): String =
    new SyntheticPageClient(GrowableSource.total, pageSize).fetchPage(page)
}
