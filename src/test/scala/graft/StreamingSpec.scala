package graft

import graft.streaming.IncrementalStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming semantics (S1–S3): watermarked dedup, keyed-state
  * operators against their batch counterparts, stream-stream joins,
  * session windows and transformWithState timers. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("payload", StringType)))

  private def writeBatch(dir: String, name: String, rows: Seq[(Long, String)]): Unit = {
    val lines = rows.map { case (i, p) => s"""{"id":$i,"payload":"$p"}""" }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("S1 streaming: watermarked dropDuplicates dedups across micro-batches") {
    val src = tmpDir("wm_src")
    writeBatch(src, "a.json", Seq(1L -> "x", 2L -> "y", 1L -> "x"))
    writeBatch(src, "b.json", Seq(2L -> "y", 3L -> "z"))
    val stream = spark.readStream.schema(schema).json(src)
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("id") + 1000000000L))
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("id")
    val q = stream.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("wm_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("wm_dedup")
    assert(out.count() == 3)
    assert(out.select("id").distinct().count() == 3)
  }

  test("S3 streaming packer: per-shard token totals carry across micro-batches") {
    val src = tmpDir("pack_src")
    val cp = tmpDir("pack_cp")
    val out = tmpDir("pack_out") + "/packed"
    def drain(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("shard", LongType),
        StructField("n_tok", IntegerType))))
        .json(src)
      val q = IncrementalStream.packStream(stream.as[(Long, Long, Int)], budget = 10)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.PackedDoc], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    def writeDocs(name: String, rows: Seq[(Long, Long, Int)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (d, s, n) => s"""{"doc_id":$d,"shard":$s,"n_tok":$n}""" }
          .mkString("\n").getBytes("UTF-8"))
    writeDocs("b1.json", Seq((0L, 0L, 4), (2L, 0L, 5), (1L, 1L, 7)))
    drain()
    // second drain, SAME checkpoint: shard 0 resumes at 9 tokens, shard 1
    // at 7 — doc 6 must straddle into sequence 1 at offset 2
    writeDocs("b2.json", Seq((4L, 0L, 3), (6L, 0L, 2), (3L, 1L, 5)))
    drain()
    val packed = spark.read.parquet(out)
      .orderBy("doc_id")
      .as[(Long, Long, Int, Long, Long, Long)].collect().toSeq
    assert(packed == Seq(
      (0L, 0L, 4, 0L, 0L, 0L),
      (1L, 1L, 7, 0L, 0L, 0L),
      (2L, 0L, 5, 4L, 0L, 4L),
      (3L, 1L, 5, 7L, 0L, 7L),
      (4L, 0L, 3, 9L, 0L, 9L),
      (6L, 0L, 2, 12L, 1L, 2L)))
  }

  test("X2 streaming near-dup gate: first-wins across batches, replay-idempotent") {
    val src = tmpDir("ndg_src")
    val cp = tmpDir("ndg_cp")
    val out = tmpDir("ndg_out") + "/verdicts"
    def drain(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("bucket", LongType))))
        .json(src)
      val q = IncrementalStream.nearDupGate(stream.as[(Long, Long)])
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.DedupVerdict], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    def writeDocs(name: String, rows: Seq[(Long, Long)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (d, b) => s"""{"doc_id":$d,"bucket":$b}""" }
          .mkString("\n").getBytes("UTF-8"))
    // batch 1: bucket 7 sees ids 5 and 1 together -> min id 1 is canonical
    writeDocs("b1.json", Seq((5L, 7L), (1L, 7L), (2L, 9L)))
    drain()
    // batch 2, same checkpoint: 9 is a near-dup of 1; the canonical 1
    // replays (boundary-page overlap) and stays is_first; a fresh bucket
    // opens with 3
    writeDocs("b2.json", Seq((9L, 7L), (1L, 7L), (3L, 11L)))
    drain()
    val v = spark.read.parquet(out)
      .as[(Long, Long, Boolean, Long)].collect().toSeq.sorted
    assert(v == Seq(
      (1L, 7L, true, 1L),   // batch-1 canonical (min of 1,5)
      (1L, 7L, true, 1L),   // batch-2 replay of the canonical: idempotent
      (2L, 9L, true, 2L),
      (3L, 11L, true, 3L),
      (5L, 7L, false, 1L),
      (9L, 7L, false, 1L)))
  }

  test("X2 streaming gate: hot bucket (10k rows in one bucket per batch) stays correct") {
    val src = tmpDir("ndg_hot_src")
    val cp = tmpDir("ndg_hot_cp")
    val out = tmpDir("ndg_hot_out") + "/verdicts"
    def drain(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("bucket", LongType))))
        .json(src)
      val q = IncrementalStream.nearDupGate(stream.as[(Long, Long)])
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.DedupVerdict], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    def writeDocs(name: String, rows: Seq[(Long, Long)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (d, b) => s"""{"doc_id":$d,"bucket":$b}""" }
          .mkString("\n").getBytes("UTF-8"))
    // Cold batch: the ENTIRE batch lands in bucket 42 (the skew shape the
    // O(1)-warm-path contract is about). Canonical must be the batch min
    // (doc 3), found in one pass over 10k rows.
    writeDocs("b1.json", (3L to 10002L).map(id => (id, 42L)))
    drain()
    // Warm batch: another 10k rows in the same hot bucket, plus a smaller
    // id than the canonical (id 1 < 3) — arrival order wins, 1 is a DUP.
    // The warm path streams these without buffering anything.
    writeDocs("b2.json", ((1L to 2L) ++ (10003L to 20000L)).map(id => (id, 42L)))
    drain()
    val v = spark.read.parquet(out).as[(Long, Long, Boolean, Long)].collect()
    assert(v.length == 20000)
    assert(v.forall(_._4 == 3L))                       // one canonical throughout
    assert(v.filter(_._3).map(_._1).toSeq == Seq(3L))  // exactly one is_first
  }

  test("streaming SCD2 == batch scd2Build over checkpointed multi-drain intake") {
    val src = tmpDir("scd_src")
    val cp = tmpDir("scd_cp")
    val out = tmpDir("scd_out") + "/opens"
    def drain(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
        StructField("user_id", LongType), StructField("sec", LongType),
        StructField("event_id", LongType), StructField("event_type", StringType))))
        .json(src)
      val q = IncrementalStream.scd2Stream(stream.as[(Long, Long, Long, String)])
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.Scd2Open], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    def writeEv(name: String, rows: Seq[(Long, Long, Long, String)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (u, s, e, t) =>
          s"""{"user_id":$u,"sec":$s,"event_id":$e,"event_type":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
    // batch 1 arrives OUT of order within the batch (the in-batch sort must
    // fix it); user 1 repeats 'a' (no version), user 2 opens once.
    val b1 = Seq((1L, 20L, 3L, "b"), (1L, 10L, 1L, "a"), (1L, 15L, 2L, "a"),
      (2L, 5L, 4L, "x"))
    // batch 2, same checkpoint: user 1 repeats 'b' (state must remember it
    // across drains -> NO new version), then changes back to 'a'; user 3 is new.
    val b2 = Seq((1L, 30L, 5L, "b"), (1L, 40L, 6L, "a"), (3L, 35L, 7L, "z"))
    writeEv("b1.json", b1); drain()
    writeEv("b2.json", b2); drain()
    val streamed = spark.read.parquet(out)
      .as[(Long, Int, String, Long)].collect().toSeq.sorted
    // batch truth: full rebuild's version openings over the union
    val all = (b1 ++ b2).toDF("user_id", "sec", "event_id", "event_type")
      .select(col("user_id"), org.apache.spark.sql.functions.timestamp_seconds(col("sec")).cast("timestamp_ntz").as("ts"),
        col("event_id"), col("event_type"))
    val rebuilt = graft.operators.Scd.scd2Build(all)
      .select(col("user_id"), col("version"), col("event_type"),
        org.apache.spark.sql.functions.unix_timestamp(col("valid_from").cast("timestamp")).as("sec"))
      .as[(Long, Int, String, Long)].collect().toSeq.sorted
    assert(streamed == rebuilt)
    assert(streamed == Seq(
      (1L, 1, "a", 10L), (1L, 2, "b", 20L), (1L, 3, "a", 40L),
      (2L, 1, "x", 5L), (3L, 1, "z", 35L)))
  }

  test("X2 streaming gate == batch survivor rule on id-ordered fixture intake") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("ndg2_src")
    val cp = tmpDir("ndg2_cp")
    val out = tmpDir("ndg2_out") + "/verdicts"
    // Batch truth: min doc_id per 32-bit simhash bucket over sf0.001 docs.
    val bucketed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        conv(graft.operators.Dedup.simhashBits(split(col("text"), " "), 32), 2, 10)
          .cast("long").as("bucket"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val batchCanon = bucketed.groupBy(_._2).map { case (b, rows) => b -> rows.map(_._1).min }
    // Stream the same pairs in doc_id order across two drains.
    val (first, second) = bucketed.splitAt(bucketed.length / 2)
    def writeDocs(name: String, rows: Seq[(Long, Long)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (d, b) => s"""{"doc_id":$d,"bucket":$b}""" }
          .mkString("\n").getBytes("UTF-8"))
    def drain(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("bucket", LongType))))
        .json(src)
      val q = IncrementalStream.nearDupGate(stream.as[(Long, Long)])
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.DedupVerdict], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    writeDocs("b1.json", first.toSeq); drain()
    writeDocs("b2.json", second.toSeq); drain()
    val verdicts = spark.read.parquet(out)
      .as[(Long, Long, Boolean, Long)].collect()
    assert(verdicts.length == bucketed.length)
    // Every verdict's canonical equals the batch min-id survivor, and the
    // is_first flags mark exactly the survivor set.
    assert(verdicts.forall { case (_, b, _, canon) => batchCanon(b) == canon })
    val streamSurvivors = verdicts.filter(_._3).map(_._1).toSet
    assert(streamSurvivors == batchCanon.values.toSet)
  }

  test("unified engine: narrow batch gates run unchanged on a stream, same survivors") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("gate_src")
    val out = tmpDir("gate_out") + "/kept"
    // The gate: a narrow quality + deterministic-hash predicate — the
    // x53/x42 shape. EXACTLY the same Column expressions applied to a
    // batch frame and to readStream: Structured Streaming runs narrow
    // batch logic verbatim, which is what makes the corpus-intake gates
    // deployable incrementally without a rewrite.
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val toks = split(col("text"), " ")
      df.filter(size(toks) >= 10 &&
        conv(substring(md5(concat_ws("|", lit("g"), col("doc_id"))), 1, 4), 16, 10)
          .cast("long") < 49152)
    }
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val batchKept = gate(docs).select($"doc_id").as[Long].collect().toSet
    docs.coalesce(1).write.mode("overwrite").json(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .json(src)
    val q = gate(stream).select($"doc_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("gate_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .start()
    q.awaitTermination()
    val streamKept = spark.read.parquet(out).as[Long].collect().toSet
    assert(streamKept == batchKept && batchKept.nonEmpty)
  }

  test("unified engine: x99 frozen-model quality scoring per micro-batch == batch scoring") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("qc_src")
    val out = tmpDir("qc_out") + "/scored"
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text").filter($"doc_id" < 60)
    val batch = graft.queries.CurationQueries.scoreDocs(docs)
      .select($"doc_id", $"score", $"keep")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    // two files + maxFilesPerTrigger=1 → the scoring runs in (at least)
    // two separate micro-batches; per-doc scoring means batch boundaries
    // cannot change any verdict, which is exactly what makes a frozen
    // model deployable on the intake stream without a rewrite
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("overwrite").json(src)
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1).write.mode("append").json(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .json(src)
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("qc_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.queries.CurationQueries.scoreDocs(b.toDF())
          .select(col("doc_id"), col("score"), col("keep"))
          .write.mode("append").parquet(out)
        ()
      }
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("unified engine: corpus-admission + temperature gates run on a stream vs static state") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("adm_src")
    val out = tmpDir("adm_out") + "/admitted"
    // Static side = the existing corpus (x17's src0..src9): its hash set
    // and per-language counts are fixed at intake time; the stream is the
    // arriving batch (src10..src19). Gate = x17's exact-dup rejection +
    // x85's temperature keep, the same Column expressions batch and stream.
    val docs = Tables.documents(spark, sfDir)
    val snum = substring(col("source"), 4, 10).cast("int")
    val existing = docs.filter(snum < 10)
    val exHash = existing.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("dup_of"))
    val counts = existing.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
    val nmin = counts.agg(min(col("n_in"))).head.getLong(0)
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val hv = conv(substring(md5(concat_ws("|", lit("tmix"), col("doc_id"))), 1, 4), 16, 10)
        .cast("long")
      df.withColumn("h", md5(col("text")))
        .join(broadcast(exHash), Seq("h"), "left")
        .join(broadcast(counts), Seq("lang"))
        .filter(col("dup_of").isNull &&
          hv * hv * col("n_in") < lit(4294967296L) * nmin)
        .select(col("doc_id"))
    }
    val newDocs = docs.filter(snum >= 10).select($"doc_id", $"lang", $"text")
    val batchAdmitted = gate(newDocs).as[Long].collect().toSet
    newDocs.coalesce(1).write.mode("overwrite").json(src)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("text", StringType))))
      .json(src)
    val q = gate(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("adm_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .start()
    q.awaitTermination()
    val streamAdmitted = spark.read.parquet(out).as[Long].collect().toSet
    assert(streamAdmitted == batchAdmitted)
    assert(batchAdmitted.nonEmpty && batchAdmitted.size < newDocs.count())
  }

  test("stream-stream interval join: clicks attribute to in-window views only") {
    val vSrc = tmpDir("ssj_views")
    val cSrc = tmpDir("ssj_clicks")
    def write(dir: String, name: String, rows: Seq[(Long, Long)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        rows.map { case (u, s) => s"""{"u":$u,"sec":$s}""" }.mkString("\n").getBytes)
    // user 1: views at t=100, t=500; click@150 joins view@100 (gap 50),
    //         click@700 joins ONLY view@500 (gap 200 <= 300; view@100 is
    //         600s stale), so each click attributes exactly once
    // user 2: click with no view -> dropped (inner join)
    write(vSrc, "v.json", Seq((1L, 100L), (1L, 500L)))
    write(cSrc, "c.json", Seq((1L, 150L), (1L, 700L), (2L, 160L)))
    val vSchema = StructType(Seq(StructField("u", LongType), StructField("sec", LongType)))
    val views = spark.readStream.schema(vSchema).json(vSrc)
      .select(col("u").as("view_user"), timestamp_seconds(col("sec")).as("view_ts"))
    val clicks = spark.readStream.schema(vSchema).json(cSrc)
      .select(col("u").as("click_user"), timestamp_seconds(col("sec")).as("click_ts"))
    val joined = IncrementalStream.clickViewJoin(views, clicks, windowSec = 300L)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ssj_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import spark.implicits._
    val out = spark.table("ssj_out")
      .select(col("click_user"),
        unix_timestamp(col("view_ts")).as("v"),
        unix_timestamp(col("click_ts")).as("c"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 100L, 150L), (1L, 500L, 700L)))
  }

  test("IVM: per-micro-batch mergeAggState maintenance equals one-pass recompute") {
    import graft.sinks.Sinks
    val src = tmpDir("ivm_src")
    // 3 files -> 3 micro-batches (maxFilesPerTrigger=1 under AvailableNow);
    // keys overlap across batches so the full-outer fold paths (both sides,
    // state-only, batch-only) all fire
    val data = Seq(
      ("click", 1, 100L, 1.204), ("click", 1, 200L, 2.496), ("buy", 2, 300L, 9.995),
      ("click", 1, 400L, 0.015), ("buy", 1, 500L, 3.335), ("buy", 2, 600L, 1.001),
      ("view", 3, 700L, 0.0), ("click", 1, 800L, 7.77))
    data.grouped(3).zipWithIndex.foreach { case (rows, i) =>
      val lines = rows.map { case (t, d, sec, v) =>
        s"""{"etype":"$t","day":$d,"sec":$sec,"value":$v}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(src, s"b$i.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    def aggOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("etype"), col("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("sum_cents"),
        min(timestamp_seconds(col("sec"))).as("first_ts"),
        max(timestamp_seconds(col("sec"))).as("last_ts"))
    val sch = StructType(Seq(StructField("etype", StringType),
      StructField("day", IntegerType), StructField("sec", LongType),
      StructField("value", DoubleType)))
    var state = aggOf(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch))
    var batches = 0
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).json(src)
      .writeStream
      .option("checkpointLocation", tmpDir("ivm_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the fold: aggregate THIS batch alone, merge into the kept state
        state = Sinks.mergeAggState(state, aggOf(b), Seq("etype", "day"))
          .localCheckpoint(true)
        batches += 1; ()
      }
      .start()
    q.awaitTermination()
    assert(batches == 3, s"expected 3 micro-batches, saw $batches")
    val direct = aggOf(spark.read.schema(sch).json(src))
    assert(state.except(direct).isEmpty && direct.except(state).isEmpty)
    assert(state.count() == 4) // (click,1) (buy,2) (buy,1) (view,3) spread over batches
  }

  test("IVM: streaming decayed counts == batch x67 formula for day-ordered splits") {
    import org.apache.spark.sql.types.IntegerType
    val src = tmpDir("decay_src")
    val cp = tmpDir("decay_cp")
    val out = tmpDir("decay_out") + "/scores"
    val sch = StructType(Seq(StructField("grp", StringType),
      StructField("dayn", IntegerType)))
    def drain(): Unit = {
      val stream = spark.readStream.schema(sch).json(src)
      val q = IncrementalStream.decayStream(stream.as[(String, Int)], windowDays = 4)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.DecayScore], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    def rows(lines: String*): String = lines.mkString("\n")
    // window 4 days, so day 6 must NOT see day 1-2 counts. Splits exercise:
    // same-day continuation across batches (A day 2), multi-day batches,
    // a group absent from a batch (B in b2), and window expiry (A day 6).
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b1.json"),
      rows("""{"grp":"A","dayn":1}""", """{"grp":"A","dayn":1}""",
        """{"grp":"A","dayn":2}""", """{"grp":"B","dayn":1}""").getBytes)
    drain()
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b2.json"),
      rows("""{"grp":"A","dayn":2}""", """{"grp":"A","dayn":3}""").getBytes)
    drain()
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b3.json"),
      rows("""{"grp":"A","dayn":6}""", """{"grp":"B","dayn":4}""",
        """{"grp":"B","dayn":4}""").getBytes)
    drain()
    val all = spark.read.parquet(out)
    // latest emission per (grp, dayn): counts only grow within a day and
    // the score is monotone in counts, so max == the final emission
    // (later days never re-emit earlier days under the append contract)
    val got = all.groupBy($"grp", $"dayn")
      .agg(org.apache.spark.sql.functions.max($"decayed_fp").as("got_fp"))
    val union = spark.read.schema(sch).json(src)
      .filter(org.apache.spark.sql.functions.input_file_name().contains("b4") === false)
    val dc = union.groupBy($"grp", $"dayn").count()
    val ref = dc.select($"grp".as("g"), $"dayn".as("d"), $"count".as("cnt"))
      .join(dc.select($"grp", $"dayn"),
        $"grp" === $"g" && $"d" <= $"dayn" && $"d" > $"dayn" - 4)
      .groupBy($"grp", $"dayn")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr(
          "cnt * shiftleft(CAST(1 AS BIGINT), CAST(4 - (dayn - d) AS INT))"))
        .as("ref_fp"))
    val diff = got.join(ref, Seq("grp", "dayn"), "full_outer")
      .filter($"got_fp".isNull || $"ref_fp".isNull || $"got_fp" =!= $"ref_fp")
    assert(diff.isEmpty, diff.collect().mkString(", "))
    // append-only contract is enforced loudly, not silently mis-scored
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b4.json"),
      rows("""{"grp":"A","dayn":2}""").getBytes)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
  }

  test("IVM: streaming top-k standings == batch top-k for any micro-batch split") {
    val src = tmpDir("topk_src")
    val cp = tmpDir("topk_cp")
    val out = tmpDir("topk_out") + "/standings"
    val sch = StructType(Seq(StructField("grp", StringType),
      StructField("id", LongType), StructField("v", LongType)))
    def drain(): Unit = {
      val stream = spark.readStream.schema(sch).json(src)
      val q = IncrementalStream.topkStream(
        stream.as[(String, Long, Long)], k = 3)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[IncrementalStream.TopkEntry], _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    // batch 1: group A fills past k with ties; B partially fills
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b1.json"),
      Seq("""{"grp":"A","id":1,"v":10}""", """{"grp":"A","id":2,"v":30}""",
        """{"grp":"A","id":3,"v":20}""", """{"grp":"A","id":4,"v":30}""",
        """{"grp":"B","id":5,"v":7}""").mkString("\n").getBytes)
    drain()
    // batch 2 (same checkpoint): displacements, a tie on the A boundary,
    // and B's first update since batch 1
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b2.json"),
      Seq("""{"grp":"A","id":6,"v":25}""", """{"grp":"A","id":7,"v":20}""",
        """{"grp":"B","id":8,"v":7}""", """{"grp":"B","id":9,"v":1}""").mkString("\n").getBytes)
    drain()
    val all = spark.read.parquet(out)
    val lastVer = all.groupBy($"grp").agg(
      org.apache.spark.sql.functions.max($"ver").as("ver"))
    val got = all.join(lastVer, Seq("grp", "ver"))
      .orderBy("grp", "rk")
      .select($"grp", $"rk", $"id", $"v")
      .as[(String, Int, Long, Long)].collect().toSeq
    // batch reference: top-3 by (v desc, id asc) over ALL rows
    assert(got == Seq(
      ("A", 1, 2L, 30L), ("A", 2, 4L, 30L), ("A", 3, 6L, 25L),
      ("B", 1, 5L, 7L), ("B", 2, 8L, 7L), ("B", 3, 9L, 1L)))
  }

  test("X6: session_window groups events by gap (batch-mode check)") {
    val events = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"), // session 1
      (1L, "2024-01-01 01:00:00"),                              // session 2 (50m gap)
      (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "ts_s")
      .select($"user_id", $"ts_s".cast("timestamp").as("ts"))
    val sess = IncrementalStream.sessionCounts(events, "30 minutes")
      .orderBy("user_id", "session_start")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toSeq
    assert(sess == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  /** Stages `rows` (user_id, sec, …) plus `ts` = sec as the i-th
    * single-file slice under `base/src`, with an mtime that ascends with i
    * so a maxFilesPerTrigger=1 file source reads the slices in order. */
  private def stageTimerSlice(base: String, i: Int,
      rows: org.apache.spark.sql.DataFrame): Unit = {
    rows.withColumn("ts", $"sec".cast("timestamp"))
      .coalesce(1).write.parquet(s"$base/src/s$i")
    val part = new java.io.File(s"$base/src/s$i").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = java.nio.file.FileSystems.getDefault.getPath(s"$base/src/f$i.parquet")
    java.nio.file.Files.move(part.toPath, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
  }

  /** Runs a timer-session stream to its end (AvailableNow, RocksDB state,
    * append mode) and returns the emitted (user_id, start_sec, end_sec,
    * n_events) set. */
  private def drainTimerSessions(
      out: org.apache.spark.sql.Dataset[IncrementalStream.TwsSession],
      base: String): Set[(Long, Long, Long, Long)] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    queries.QueryUtil.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.shuffle.partitions" -> "4") {
      val q = out.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(buf.add)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq.map(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("start_sec"), r.getAs[Long]("end_sec"),
      r.getAs[Long]("n_events"))).toSet
  }

  test("transformWithState event-time timers flush sessions exactly when the watermark passes") {
    val base = java.nio.file.Files.createTempDirectory("graft_tws_timer").toString
    def stage(i: Int, rows: Seq[(Long, Long)]): Unit =
      stageTimerSlice(base, i, rows.toDF("user_id", "sec"))
    // Batch 0: u1 holds (100..120) with timer 180; u2 holds TWO sessions
    // in ListState — (100) timer 160 and (300) timer 360 (nothing emits
    // eagerly; every session waits for its timer).
    stage(0, Seq((1L, 100L), (1L, 120L), (2L, 100L), (2L, 300L)))
    // Batch 1: u1's 1000 joins its list; the watermark (300−10=290) fires
    // u1's 180 timer → (100..120) emits, and u2's 160 timer → (100) emits.
    stage(1, Seq((1L, 1000L)))
    // Batch 2: dummy u3 advances the watermark to 1000−10=990 > 360 ⇒
    // u2's (300) flushes from its timer; then AvailableNow runs a final
    // watermark-only batch (wm 2000−10=1990) that fires u1's 1060s timer
    // too. Only u3 (expiry 2060 > 1990) stays.
    stage(2, Seq((3L, 2000L)))
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("sec", LongType), StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      .withWatermark("ts", "10 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
    val out = IncrementalStream.twsTimerSessions(stream, gapSec = 60L)
    val got = drainTimerSessions(out, base)
    // Every session flushes from its own timer: u1 (100..120) and u2 (100)
    // when the watermark passes 180/160, u2 (300) when it passes 360,
    // u1 (1000) in the final watermark-only batch. Still unexpired
    // (never emitted): u3 (2000).
    assert(got == Set((2L, 100L, 100L, 1L), (1L, 100L, 120L, 2L),
      (2L, 300L, 300L, 1L), (1L, 1000L, 1000L, 1L)), got.toString)
  }

  test("dynamic-gap timer sessions: late in-gap arrival with a SHORTER gap merges instead of fragmenting") {
    // r13 verdict #8: the dynamic-gap streaming variants merged on a
    // per-batch recompute shape; this drives the ported timer-held
    // processor through the exact hole the r12 advice found in the
    // fixed-gap family — watermark delay > gap, so a LATER batch delivers
    // an in-watermark event inside an open session that eager emission
    // would have fragmented. Dynamic twist: the late event carries a
    // SHORTER gap (60s vs the purchase 300s), so a lag-diff sessionizer
    // (or one keying the merge on the latest event's gap) would split.
    val base = java.nio.file.Files.createTempDirectory("graft_dyngap_spec").toString
    def stage(i: Int, rows: Seq[(Long, Long, Long)]): Unit =
      stageTimerSlice(base, i, rows.toDF("user_id", "sec", "gap"))
    import spark.implicits._
    // Batch 0: u1 long-gap event at 100 (window [100,400]) + a later event
    // at 1000 ([1000,1060]) that keeps the watermark low enough... wm
    // after batch 0 = 1000−700 = 300 < 400 ⇒ nothing fires.
    stage(0, Seq((1L, 100L, 300L), (1L, 1000L, 60L)))
    // Batch 1: LATE short-gap arrival at 350 ([350,410]) — inside the open
    // [100,400] window and within the watermark (350 ≥ 300). Must MERGE
    // into (100..410, n=2) — and its 410 end EXTENDS the session past the
    // original 400 expiry, superseding that timer.
    stage(1, Seq((1L, 350L, 60L)))
    // Batch 2: u2 far ahead advances the final watermark to 5000−700=4300:
    // both of u1's sessions flush from timers; u2 ([5000,5060]) stays.
    stage(2, Seq((2L, 5000L, 60L)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sec", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("gap", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      .withWatermark("ts", "700 seconds")
      .as[(Long, Long, Long, java.sql.Timestamp)]
    val out = IncrementalStream.twsDynTimerSessions(stream)
    val got = drainTimerSessions(out, base)
    // The late 350 event merged into the long-gap window AND extended it
    // to 410 (running max of ends); the 1000 event stayed its own session.
    assert(got == Set((1L, 100L, 410L, 2L), (1L, 1000L, 1060L, 1L)), got.toString)
    queries.QueryUtil.deleteRecursively(base)
  }

  test("transformWithState running totals match the batch aggregate across real micro-batches") {
    // Precondition that makes the parity meaningful: at least one user
    // purchases on both sides of a slice cut, so their ValueState must
    // survive a micro-batch boundary to produce the right final row.
    val cut = 1704800000L
    val sides = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id",
        expr("unix_timestamp(cast(ts as timestamp))").cast("long").as("sec"))
      .groupBy($"user_id")
      .agg(max(when($"sec" < cut, 1).otherwise(0)).as("lo"),
        max(when($"sec" >= cut, 1).otherwise(0)).as("hi"))
      .filter($"lo" === 1 && $"hi" === 1).count()
    assert(sides > 0, "fixture has no cross-slice purchaser; cuts need moving")
    val out = queries.StreamingQueries.twsParity(spark, sfDir)
    val expected = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purch"),
        sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"),
        max(floor($"value" * 100 + 0.5).cast("long")).as("max_cents"))
    assert(out.join(expected,
      out("user_id") === expected("user_id")
        && out("n_purch") === expected("n_purch")
        && out("cents") === expected("cents")
        && out("max_cents") === expected("max_cents")).count()
      == expected.count())
  }

  test("tws timers: early out-of-order events merge into sessions, not singletons (watermark delay > gap)") {
    // ADVICE r11: with watermark delay (2000s) far above the gap (60s), a
    // later micro-batch can deliver events more than a gap BEFORE the open
    // session. Two divergences from batch session_window were possible:
    // (a) two early events within gapSec of each other fragmented into two
    //     singleton sessions — they must merge into one pending session;
    // (b) an early event plus a bridging event that pulls the open session's
    //     start back must all merge into ONE session.
    val base = java.nio.file.Files.createTempDirectory("graft_tws_early").toString
    def stage(i: Int, rows: Seq[(Long, Long)]): Unit =
      stageTimerSlice(base, i, rows.toDF("user_id", "sec"))
    // Batch 0: both users open a session at 1000.
    stage(0, Seq((1L, 1000L), (2L, 1000L)))
    // Batch 1: u1 gets two early events (920, 930) — within gapSec of each
    // other but 930→1000 jumps 70 > gap: the merge leaves TWO sessions in
    // u1's list, (920,930,2) and (1000,1000,1), both held for their timers
    // (branch a — under the pre-r13 eager flush (920,930,2) would have been
    // emitted at end of batch, before the watermark passed its expiry).
    // u2 gets an early 920 plus a bridging 950: 920–950–1000 chain within
    // the gap, so the merge yields ONE session (920,1000,3) (branch b).
    stage(1, Seq((1L, 920L), (1L, 930L), (2L, 920L), (2L, 950L)))
    // Batch 2: u3 at 5000 advances the watermark to 3000 > 1060, firing
    // both users' open-session timers. u3 itself stays open (3000 < 5060).
    stage(2, Seq((3L, 5000L)))
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("sec", LongType), StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      .withWatermark("ts", "2000 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
    val out = IncrementalStream.twsTimerSessions(stream, gapSec = 60L)
    val got = drainTimerSessions(out, base)
    assert(got == Set(
      (1L, 920L, 930L, 2L),   // branch a: merged pending, NOT two singletons
      (1L, 1000L, 1000L, 1L), // u1 open session via timer
      (2L, 920L, 1000L, 3L)), // branch b: early + bridge + open all merged
      got.toString)
  }
}
