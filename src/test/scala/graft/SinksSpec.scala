package graft

import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink-side semantics: create-if-absent, full refresh, idempotent append,
  * partition-local batching (SNK1-SNK3, S3). */
class SinksSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("hash", StringType), StructField("v", IntegerType)))

  test("SNK1 DSv2: batched upsert write — exactly-once commit, flush cadence, truncate") {
    import graft.sinks.UpsertSink
    val fmt = classOf[graft.sinks.UpsertSinkProvider].getName
    UpsertSink.clear("t1")
    // 120 rows in ONE partition with batchsize=50 -> 3 sealed flushes
    spark.range(0, 120).select(concat(lit("k"), $"id").as("k"), $"id".as("v"))
      .coalesce(1)
      .write.format(fmt).mode("append")
      .option("target", "t1").option("key", "k").option("batchsize", "50")
      .save()
    val s = UpsertSink.store("t1")
    assert(s.rows.size() == 120)
    assert(s.flushes.get() == 3, s"expected ceil(120/50)=3 flushes, got ${s.flushes.get()}")
    // idempotent upsert: re-append 40 overlapping keys with NEW values ->
    // count unchanged, values updated (DB unique-key semantics without a DB)
    spark.range(0, 40).select(concat(lit("k"), $"id").as("k"), ($"id" + 1000).as("v"))
      .coalesce(1)
      .write.format(fmt).mode("append")
      .option("target", "t1").option("key", "k").option("batchsize", "50")
      .save()
    assert(s.rows.size() == 120)
    assert(s.rows.get(UpsertSink.keyOf("k7")) == Seq("k7", 1007L))
    assert(s.rows.get(UpsertSink.keyOf("k100")) == Seq("k100", 100L))
    // SNK3: overwrite negotiates SupportsTruncate -> full refresh in one commit
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .write.format(fmt).mode("overwrite")
      .option("target", "t1").option("key", "k")
      .save()
    assert(s.rows.size() == 2 && s.rows.get(UpsertSink.keyOf("a")) == Seq("a", 1L))
    UpsertSink.clear("t1")
  }

  test("SNK1 DSv2: task retry cannot double-apply (exactly-once under retries)") {
    // VERDICT r11 #6: the buffer-into-commit-message design was asserted by
    // design but never adversarially tested. Inject a REAL task failure —
    // partition 2's first attempt throws midway, AFTER the writer has
    // sealed one full batch and buffered part of the next (the hard case:
    // those buffered rows must die with the attempt) — and let Spark retry
    // it (SparkTestBase runs local[4, 2]). The committed store must equal
    // the single-attempt run exactly, batch count included.
    import graft.sinks.UpsertSink
    val fmt = classOf[graft.sinks.UpsertSinkProvider].getName
    UpsertSink.clear("t_retry")
    val ds = spark.range(0, 100, 1, 4).map { i =>
      val tc = org.apache.spark.TaskContext.get()
      // partition 2 holds ids 50..74; with batchsize 10 the writer has
      // sealed [50..59] and buffered [60..64] when 65 throws on attempt 0
      if (tc != null && tc.partitionId() == 2 && tc.attemptNumber() == 0 && i == 65)
        throw new RuntimeException("injected first-attempt failure")
      (i, i * 2)
    }.toDF("k", "v")
    ds.write.format(fmt).mode("append")
      .option("target", "t_retry").option("key", "k").option("batchsize", "10")
      .save()
    val s = UpsertSink.store("t_retry")
    assert(s.rows.size() == 100)
    (0L until 100L).foreach { i =>
      assert(s.rows.get(UpsertSink.keyOf(i)) == Seq(i, i * 2), s"row $i")
    }
    // exactly-once at the BATCH level too: 4 partitions x ceil(25/10) = 12
    // applied flushes — a leaked first-attempt batch would make this 13+
    assert(s.flushes.get() == 12,
      s"expected exactly 12 applied batches, got ${s.flushes.get()}")
    UpsertSink.clear("t_retry")
  }

  test("SNK1 DSv2: complex-typed rows are deep-copied out of the reused InternalRow") {
    import graft.sinks.UpsertSink
    val fmt = classOf[graft.sinks.UpsertSinkProvider].getName
    UpsertSink.clear("t2")
    // many rows per partition with an ARRAY column: the DataWriter receives
    // a REUSED row buffer, so values must be detached copies — an aliased
    // UnsafeArrayData would make every buffered row report the last row's
    // array (the round-5 review catch)
    spark.range(0, 50)
      .select($"id".as("k"), array($"id", $"id" * 10).as("arr"))
      .coalesce(1)
      .write.format(fmt).mode("append")
      .option("target", "t2").option("key", "k")
      .save()
    val s2 = UpsertSink.store("t2")
    assert(s2.rows.size() == 50)
    (0L until 50L).foreach { i =>
      assert(s2.rows.get(UpsertSink.keyOf(i)) == Seq(i, Seq(i, i * 10)), s"row $i")
    }
    UpsertSink.clear("t2")
  }

  test("SNK2: ensureExists creates empty sink once, second call no-ops") {
    val path = tmpDir("sink") + "/t"
    Sinks.ensureExists(spark, path, schema)
    assert(spark.read.parquet(path).count() == 0)
    Sinks.ensureExists(spark, path, schema) // must not throw (exists)
    assert(spark.read.parquet(path).schema.fieldNames.toSeq == Seq("hash", "v"))
  }

  test("SNK3: bulkReplace overwrites prior contents") {
    val path = tmpDir("sink") + "/t"
    Sinks.bulkReplace(Seq(("a", 1), ("b", 2)).toDF("hash", "v"), path)
    Sinks.bulkReplace(Seq(("c", 3)).toDF("hash", "v"), path)
    assert(spark.read.parquet(path).as[(String, Int)].collect().toSeq == Seq(("c", 3)))
  }

  test("SNK1: appendNew inserts only novel hashes, reports insert count") {
    val path = tmpDir("sink") + "/t"
    val n1 = Sinks.appendNew(spark, Seq(("a", 1), ("b", 2), ("a", 9)).toDF("hash", "v"), path, "hash", Seq("v"))
    assert(n1 == 2) // within-batch dup of "a" collapsed (keeps v=1)
    val n2 = Sinks.appendNew(spark, Seq(("b", 5), ("c", 3)).toDF("hash", "v"), path, "hash", Seq("v"))
    assert(n2 == 1) // only "c" novel
    val rows = spark.read.parquet(path).orderBy("hash").as[(String, Int)].collect().toSeq
    assert(rows == Seq(("a", 1), ("b", 2), ("c", 3)))
    // idempotence: replaying the same batch inserts nothing
    assert(Sinks.appendNew(spark, Seq(("b", 5), ("c", 3)).toDF("hash", "v"), path, "hash", Seq("v")) == 0)
  }

  test("SNK1: appendNew writes nothing for statically empty input; a replay changes no rows") {
    val path = tmpDir("sink") + "/t"
    assert(Sinks.appendNew(spark, Seq(("a", 1), ("b", 2)).toDF("hash", "v"), path, "hash", Seq("v")) == 2)
    def parts = new java.io.File(path).list().filter(_.startsWith("part-")).sorted.toSeq
    def rows = spark.read.parquet(path).orderBy("hash").as[(String, Int)].collect().toSeq
    val files0 = parts
    // incrementalExtract's "API has nothing new" result is existing.limit(0)
    val existing = spark.read.parquet(path)
    val nothingNew = graft.sources.PaginatedSource.incrementalExtract(
      spark, new graft.sources.SyntheticPageClient(2, pageSize = 100), existing, 2L, 2, 100)
    assert(Sinks.appendNew(spark, nothingNew, path, "hash", Seq("v")) == 0)
    assert(parts == files0)
    // a replay of rows the sink already holds, read from the sink itself
    assert(Sinks.appendNew(spark, existing, path, "hash", Seq("v")) == 0)
    assert(rows == Seq(("a", 1), ("b", 2)))
  }

  test("SNK1: appendNew's count holds when a write task fails once and is retried") {
    def seeded(): String = {
      val path = tmpDir("sink") + "/t"
      Sinks.appendNew(spark, (0 until 50).map(i => (s"k$i", i)).toDF("hash", "v"), path, "hash", Seq("v"))
      path
    }
    // 100 hashes, 75 of them new, plus 10 within-batch duplicates
    val batch = ((25 until 125) ++ (90 until 100)).map(i => (s"k$i", i)).toDF("hash", "v")
    val clean = seeded()
    val nClean = Sinks.appendNew(spark, batch, clean, "hash", Seq("v"))
    assert(nClean == 75)
    // The same new rows through the counted write, with a nondeterministic
    // filter that fails the first attempt of the task holding "k99". It sits
    // above the anti-join, so it runs in the write's result stage, and the
    // rows that task counted before failing must not be counted again.
    val retried = seeded()
    RetryProbe.failed.set(false)
    val failOnce = udf { (h: String) =>
      if (h == "k99" && org.apache.spark.TaskContext.get().attemptNumber() == 0) {
        RetryProbe.failed.set(true)
        throw new RuntimeException("injected first-attempt failure")
      }
      true
    }.asNondeterministic()
    val fresh = graft.operators.Etl.dedupByHash(batch, "hash", Seq("v"))
      .join(spark.read.parquet(retried).select("hash"), Seq("hash"), "left_anti")
    val nRetried = Sinks.writeCounted(fresh.filter(failOnce($"hash")), retried)
    assert(RetryProbe.failed.get, "the injected failure never ran")
    val landed = spark.read.parquet(retried).count() - 50
    assert(nRetried == landed, s"counted $nRetried, $landed landed")
    assert(nRetried == nClean)
    assert(spark.read.parquet(retried).select("hash").distinct().count() == 125)
  }

  test("SNK1 CDC: insert/update/delete merge — latest op per key wins, replay-idempotent") {
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val batch = Seq(
      (2L, "b2", 10L, "U"),  // update existing
      (3L, "x", 11L, "U"),   // update then delete (seq order!) ...
      (3L, "y", 12L, "D"),   // ... delete wins: latest op per key
      (4L, "d", 13L, "I"),   // insert new
      (5L, "z", 14L, "D"),   // delete of absent key: no-op
      (4L, "d0", 5L, "I")    // stale earlier op for 4 is superseded
    ).toDF("k", "v", "seq", "op")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").as[(Long, String)].collect().toSeq
    val once = Sinks.applyCdc(existing, batch, "k", "seq", "op")
    assert(snap(once) == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // replay: applying the same batch to the merged result changes nothing
    val twice = Sinks.applyCdc(once, batch, "k", "seq", "op")
    assert(snap(twice) == snap(once))
    // an empty batch is the identity
    assert(snap(Sinks.applyCdc(once, batch.limit(0), "k", "seq", "op")) == snap(once))
  }

  test("SNK1+S3: JDBC-shaped upsert — batch-bounded, counts inserts, replay-idempotent") {
    FakeJdbcTable.reset()
    val df = spark.range(0, 6000)
      .select(concat(lit("h"), col("id")).as("hash"), col("id").as("v"))
      .coalesce(2)
    def runOnce(): Long = Sinks.upsertBatched(df, batchSize = 2500) { rows =>
      FakeJdbcTable.recordBatch(rows.size)
      rows.count(r => FakeJdbcTable.insertIgnore(r.getString(0)))
    }
    val n1 = runOnce()
    assert(n1 == 6000)
    assert(FakeJdbcTable.size == 6000)
    // batch contract: never more than 2500 rows per round-trip, all rows sent
    val sizes = FakeJdbcTable.batchSizes
    assert(sizes.forall(_ <= 2500) && sizes.sum == 6000)
    // replay (e.g. a retried job) re-sends every row; ON DUPLICATE KEY
    // semantics make it a no-op and the inserted count reports 0
    val n2 = runOnce()
    assert(n2 == 0)
    assert(FakeJdbcTable.size == 6000)
  }

  test("S3: foreachBatched groups rows into batch-size chunks") {
    // closure ships to executors — collect batch sizes via accumulator
    val acc = spark.sparkContext.collectionAccumulator[Int]("batchSizes")
    Sinks.foreachBatched(spark.range(0, 25).toDF().coalesce(1), batchSize = 10) { g =>
      acc.add(g.size); ()
    }
    val s = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala.toSeq
    assert(s.nonEmpty && s.sum == 25 && s.forall(_ <= 10))
  }

  test("writeShards: one directory per shard, rows file-ordered by the visit rank") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text",
        ($"doc_id" % 4).as("shard"),
        substring(md5(concat_ws("|", lit("e1"), $"doc_id")), 1, 8).as("rank"))
    Sinks.writeShards(docs, "shard", "rank", out, maxRecordsPerFile = 50)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // Within every emitted file the visit rank is non-decreasing (what a
    // sequential reader observes), and nothing was lost or duplicated.
    val back = spark.read.parquet(out).select($"doc_id")
    // Read each emitted file INDIVIDUALLY (single small file -> one input
    // partition, storage order preserved); a grouped shuffle read could
    // interleave a file's splits and report spurious disorder.
    val files = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { f =>
      val rs = spark.read.parquet(f.getAbsolutePath)
        .select($"rank").collect().map(_.getString(0)).toSeq
      assert(rs == rs.sorted, s"shard file ${f.getName} must be internally rank-ordered")
    }
    assert(back.count() == docs.count())
    assert(back.distinct().count() == docs.count())
  }
}

/** Whether the retry test's injected failure ran: a singleton (per
  * classloader) because the UDF closure is serialized into the task. */
object RetryProbe {
  val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** In-JVM stand-in for a MySQL table with a unique key on `hash`
  * (reference sink salesforce_extractor.py:197-230): insertIgnore is
  * INSERT ... ON DUPLICATE KEY UPDATE hash=VALUES(hash). A singleton object so
  * executor-side closures (which get a serialized copy of any instance)
  * still hit the same table in local mode. */
object FakeJdbcTable {
  private val keys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  def reset(): Unit = { keys.clear(); batches.clear() }
  def insertIgnore(key: String): Boolean = keys.add(key)
  def recordBatch(n: Int): Unit = batches.add(n)
  def size: Int = keys.size()
  def batchSizes: Seq[Int] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.map(_.toInt).toSeq
  }
}
