package graft

import graft.queries.{SimilarityQueries, TrainingQueries}
import org.apache.spark.sql.functions._

/** Edge semantics of the round-6 training-corpus tier (x54–x58, x37): the
  * chunking arithmetic, dedup invariants, model determinism, and quantizer
  * bounds the oracle pairing relies on. */
class TrainingQueriesSpec extends SparkTestBase {
  import spark.implicits._

  test("x54: window starts cover every token, tails are short, bodies full") {
    val win = TrainingQueries.chunkWindows(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", size(split($"text", " ")).as("n"))
    // Window count per doc = floor((n-1)/S)+1 and every non-final window
    // has exactly W tokens (W=32, S=24 — stride < width, so overlap).
    val perDoc = win.groupBy($"doc_id")
      .agg(count(lit(1)).as("wins"), max($"chunk_idx").as("last"))
      .join(docs, "doc_id")
    assert(perDoc.filter($"wins" =!= floor(($"n" - 1) / 24) + 1).count() == 0)
    // Every window whose body fits entirely (start + W <= n) is full-width;
    // every window is non-empty and at most W tokens (short tails are legal
    // for the last windows since stride 24 < width 32).
    val joined = win.join(docs, "doc_id")
    assert(joined.filter($"chunk_idx" * 24 + 32 <= $"n" && $"n_tok" =!= 32).count() == 0)
    assert(joined.filter($"n_tok" <= 0 || $"n_tok" > 32).count() == 0)
    // Window starts stay inside the doc and tails have the exact residue.
    assert(joined.filter($"chunk_idx" * 24 >= $"n").count() == 0)
    assert(joined.filter($"chunk_idx" * 24 + 32 > $"n" &&
      $"n_tok" =!= $"n" - $"chunk_idx" * 24).count() == 0)
  }

  test("x55: kept chunks are globally unique; duplicate-free docs keep everything") {
    val out = TrainingQueries.chunkDedup(spark, sfDir).cache()
    // Corpus-wide: total kept == number of distinct chunk strings.
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(16)).cast("int"))).as("k"))
      .select($"doc_id", array_join(slice($"toks", $"k" * 16 + 1, lit(16)), " ").as("chunk"))
    val distinctChunks = docs.select($"chunk").distinct().count()
    val keptTotal = out.agg(sum($"n_kept")).as[Long].head()
    assert(keptTotal == distinctChunks,
      s"kept=$keptTotal distinct=$distinctChunks — first-occurrence dedup must keep each chunk once")
    // n_kept <= n_chunks everywhere, and the rebuild hash of a fully-kept
    // doc equals the md5 of its chunk-joined text.
    assert(out.filter($"n_kept" > $"n_chunks").count() == 0)
    // A fully-kept doc rebuilds to its original text verbatim (chunks are
    // token slices re-joined by single spaces), so kept_md5 == md5(text).
    val full = out.filter($"n_kept" === $"n_chunks")
      .join(Tables.documents(spark, sfDir).select($"doc_id", md5($"text").as("orig_md5")), "doc_id")
    assert(full.count() > 0, "fixture should contain at least one duplicate-free doc")
    assert(full.filter($"kept_md5" =!= $"orig_md5").count() == 0)
  }

  test("x56: surprisal model is repartition-invariant (integer fixed-point sums)") {
    val a = TrainingQueries.unigramSurprisal(spark, sfDir).collect()
    // Same query over a deliberately re-partitioned session default —
    // integer sums make the aggregation accumulation-order-free.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = TrainingQueries.unigramSurprisal(spark, sfDir).collect()
      assert(a.sameElements(b), "surprisal scores must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // Monotonicity sanity: every score is positive (p < 1 for all tokens).
    assert(a.forall(_.getDouble(2) > 0))
  }

  test("x57: split is exhaustive, deterministic, and ~80/10/10") {
    val out = TrainingQueries.stratifiedSplit(spark, sfDir).cache()
    val byLang = out.groupBy($"lang").agg(
      round(sum($"share"), 2).as("tot"), count(lit(1)).as("nsplits"))
    // Shares per lang sum to ~1 (rounding at 4 places over <=3 rows).
    assert(byLang.filter(abs($"tot" - 1.0) > 0.01).count() == 0)
    val total = out.agg(sum($"n")).as[Long].head()
    val docs = Tables.documents(spark, sfDir).count()
    assert(total == docs, "every doc lands in exactly one split")
    val trainShare = out.filter($"split" === "train").agg(sum($"n")).as[Long].head().toDouble / docs
    assert(trainShare > 0.7 && trainShare < 0.9, s"train share $trainShare should be ~0.8")
  }

  test("x58: shares are valid rationals and keep matches the thresholds") {
    val out = TrainingQueries.repetitionStats(spark, sfDir).cache()
    assert(out.filter($"top_share" <= 0 || $"top_share" > 1).count() == 0)
    assert(out.filter($"dup_bigram_share" < 0 || $"dup_bigram_share" >= 1).count() == 0)
    // keep flag is consistent with the ROUNDED shares except exactly at
    // the threshold boundary (keep compares unrounded values).
    val inconsistent = out.filter(
      ($"keep" && ($"top_share" > 0.115 || $"dup_bigram_share" > 0.055)) ||
        (!$"keep" && $"top_share" <= 0.105 && $"dup_bigram_share" <= 0.045))
    assert(inconsistent.count() == 0)
    // Thresholds split the fixture non-trivially.
    val kept = out.filter($"keep").count()
    assert(kept > 0 && kept < out.count())
  }

  test("x59: weighted sample is deterministic and biased toward heavy docs") {
    val out = TrainingQueries.weightedSample(spark, sfDir).cache()
    // Exactly K per language, dense ranks.
    val perLang = out.groupBy($"lang").agg(count(lit(1)).as("n"), max($"rk").as("mx"))
    assert(perLang.filter($"n" =!= 12 || $"mx" =!= 12).count() == 0)
    // Rerun == same sample (pure hash, no rand()).
    val again = TrainingQueries.weightedSample(spark, sfDir)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    // Weighting bias: the sampled mean n_chars exceeds the corpus mean
    // (weights ARE n_chars; on 500 docs this holds with huge margin).
    val sampledMean = out.agg(avg($"n_chars")).head().getDouble(0)
    val corpusMean = Tables.documents(spark, sfDir).agg(avg($"n_chars")).head().getDouble(0)
    assert(sampledMean > corpusMean,
      s"weighted sample mean $sampledMean should exceed corpus mean $corpusMean")
  }

  test("x39: L2-Lloyd codebook training is repartition-invariant") {
    val a = SimilarityQueries.pqTrainedTopK(spark, sfDir).collect()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = SimilarityQueries.pqTrainedTopK(spark, sfDir).collect()
      assert(a.sameElements(b), "trained PQ search must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("x38: PQ output is well-formed and rerank preserves exact ordering") {
    val out = SimilarityQueries.pqTopK(spark, sfDir).cache()
    // 3 results per query, ranks dense 1..3, cosine non-increasing in rank.
    val perQ = out.groupBy($"q_id").agg(
      count(lit(1)).as("n"), min($"rk").as("lo"), max($"rk").as("hi"))
    assert(perQ.filter($"n" =!= 3 || $"lo" =!= 1 || $"hi" =!= 3).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"rk")
    val mono = out.withColumn("prev", lag($"cosine", 1).over(w))
      .filter($"prev".isNotNull && $"cosine" > $"prev")
    assert(mono.count() == 0, "exact rerank must order by true cosine")
    // A query never returns itself.
    assert(out.filter($"q_id" === $"vec_id").count() == 0)
  }

  test("x37: int8 codes are in [-127, 127] and extremes map to the rails") {
    import graft.operators.Similarity
    // The PRODUCTION coding path (SimilarityQueries.int8Coded), not a copy:
    // a change to the quantization ships through this test.
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val coded = SimilarityQueries.int8Coded(emb).cache()
    val flat = coded.select(posexplode($"q").as(Seq("pos", "qi")))
    assert(flat.filter($"qi" < -127 || $"qi" > 127).count() == 0)
    // Each dimension's min maps to -127 and max to +127 for some vector.
    val rails = coded.select(explode($"q").as("qi"))
      .agg(min($"qi").as("lo"), max($"qi").as("hi")).head()
    assert(rails.getFloat(0) == -127f && rails.getFloat(1) == 127f)
    // The quantized ranking is close to exact: top-1 by int dot matches
    // top-1 by exact cosine for a majority of query vectors (sanity, not
    // a recall gate — PLANS.md records measured recall).
    val out = SimilarityQueries.int8TopK(spark, sfDir)
    assert(out.filter($"rk" === 1).count() > 0)
  }
}
