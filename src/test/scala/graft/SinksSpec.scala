package graft

import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink-side semantics: create-if-absent, full refresh, idempotent append,
  * CDC merge and the JDBC-shaped batched upsert (SNK1-SNK3, S3). */
class SinksSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("hash", StringType), StructField("v", IntegerType)))

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
