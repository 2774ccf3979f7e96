package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Unit semantics of the text / dedup / similarity operator libraries. */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("tokens + counts + stopword filter") {
    val df = Seq("the quick fox and the dog").toDF("text")
    val toks = TextAnalysis.tokens($"text")
    val row = df.select(
      size(toks).as("n"),
      size(array_distinct(toks)).as("u"),
      TextAnalysis.countIn(toks, TextAnalysis.StopwordsEn).as("s"),
      TextAnalysis.sumTokenLen(toks).as("len"))
      .as[(Int, Int, Int, Long)].head()
    assert(row == ((6, 5, 3, 20L))) // "the" twice + "and"; 20 token chars
  }

  test("language-ID argmax is deterministic and falls back to 'und'") {
    val scores = TextAnalysis.LangMarkers.map { case (l, ws) =>
      l -> TextAnalysis.countIn(TextAnalysis.tokens($"text"), ws)
    }
    val df = Seq("the cat and the hat", "el gato de la casa", "zzz qqq").toDF("text")
      .select(TextAnalysis.predictedLang(scores).as("p"))
    assert(df.as[String].collect().toSeq == Seq("en", "es", "und"))
  }

  test("fingerprint: short text falls back to whole-text hash") {
    val df = Seq("tiny", "this text is longer than sixteen chars").toDF("text")
      .select(TextAnalysis.fingerprint($"text", 16).as("fp"), length($"text").as("l"))
    val rows = df.as[(String, Int)].collect()
    assert(rows.forall(_._1.matches("[0-9a-f]{32}")))
  }

  test("jaccard on distinct arrays") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard($"x", $"y").as("j"))
    assert(math.abs(df.as[Double].head() - 0.5) < 1e-12) // 2 / 4
  }

  test("minhash: identical shingle sets -> identical signatures; LSH finds the pair") {
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e")), // identical
      (3L, Seq("x y z", "y z w", "z w v"))).toDF("doc_id", "shingles")
    val sig = docs.select($"doc_id", call_function("minhash_sig", $"shingles", lit(12)).as("mh"))
    val mh = sig.orderBy("doc_id").drop("doc_id").collect()
    assert(mh(0) == mh(1) && mh(0) != mh(2))
    val cand = Dedup.lshCandidates(docs, "doc_id", "shingles", numHashes = 12, rowsPerBand = 3)
    assert(cand.as[(Long, Long)].collect().toSet == Set((1L, 2L)))
  }

  test("simhash: 16 bits, equal token sets collide, disjoint sets differ") {
    val df = Seq(
      (1L, Seq("alpha", "beta", "gamma")),
      (2L, Seq("gamma", "alpha", "beta")), // same set, different order
      (3L, Seq("delta", "epsilon", "zeta"))).toDF("id", "toks")
      .select($"id", Dedup.simhashBits($"toks", 16).as("sh"))
    val m = df.as[(Long, String)].collect().toMap
    assert(m.values.forall(s => s.length == 16 && s.matches("[01]{16}")))
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L)) // 3 random disjoint tokens: collision chance 2^-16-ish
  }

  test("cosine/dot/norm on known vectors") {
    val df = Seq(
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),  // orthogonal
      (Seq(1f, 2f, 2f), Seq(1f, 2f, 2f)),  // identical, norm 3
      (Seq(1f, 0f, 0f), Seq(-1f, 0f, 0f))) // opposite
      .toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c"), Similarity.norm($"a").as("n"))
    val rows = df.as[(Double, Double)].collect()
    assert(math.abs(rows(0)._1 - 0.0) < 1e-12)
    assert(math.abs(rows(1)._1 - 1.0) < 1e-12 && math.abs(rows(1)._2 - 3.0) < 1e-12)
    assert(math.abs(rows(2)._1 + 1.0) < 1e-12)
  }

  test("signBucket: sign pattern of leading dims") {
    val df = Seq(Seq(0.5f, -0.2f, 0.1f, -0.9f)).toDF("v")
      .select(Similarity.signBucket($"v", 4).as("b"))
    assert(df.as[String].head() == "1010")
  }

  test("charNgramLongs: bijective for BMP text — mod-256-colliding CJK chars stay distinct") {
    // U+4E00 and U+4F00 collide under 8-bit packing (equal mod 256 after
    // truncation patterns); 16-bit packing must keep their grams apart
    val df = Seq(("\u4e00\u4e01\u4e02", "\u4f00\u4f01\u4f02")).toDF("a", "b")
    val (ga, gb) = df.select(
      TextAnalysis.charNgramLongs($"a", 3).as("ga"),
      TextAnalysis.charNgramLongs($"b", 3).as("gb"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(ga.nonEmpty && gb.nonEmpty && ga.toSet.intersect(gb.toSet).isEmpty)
    // and the long merge-walk agrees with the string-gram jaccard (0 here)
    val j = df.select(Dedup.jaccardSortedLong(
      TextAnalysis.charNgramLongs($"a", 3), TextAnalysis.charNgramLongs($"b", 3)).as("j"))
      .as[Double].head()
    assert(j == 0.0)
  }

  test("charNgramLongs matches string grams on mixed ASCII+CJK text") {
    val texts = Seq("hello world", "h\u4e16\u754cllo wor\u4e16d", "ab")
    val df = texts.toDF("text")
    val viaLongs = df.select(size(TextAnalysis.charNgramLongs($"text", 3)).as("n"))
      .as[Int].collect().toSeq
    val viaStrings = df.select(size(ReferenceImpls.charNgrams($"text", 3)).as("n"))
      .as[Int].collect().toSeq
    assert(viaLongs == viaStrings)
  }

  test("fence: filter on a fenced alias does not re-inline the expression") {
    // spark.range base: a Seq-backed LocalRelation would be folded away at
    // optimization time and leave no plan to inspect
    // the id-dependent concat keeps the strings non-foldable, so the
    // jaccard can't be constant-folded out of the plan
    val df = spark.range(1)
      .select(concat(lit("a b c"), when($"id" < 0, lit("z")).otherwise(lit(""))).as("x"),
        lit("a b d").as("y"))
      .select(graft.queries.QueryUtil.fence(
        Dedup.jaccardSorted(
          TextAnalysis.tokenSet($"x"), TextAnalysis.tokenSet($"y"))).as("j"))
      .filter($"j" >= 0.1)
    val plan = df.queryExecution.executedPlan.toString
    // exactly one evaluation site: the Project; the Filter must reference
    // the attribute, not a second sorted_intersect_count call
    assert(plan.split("sorted_intersect_count").length - 1 == 2, plan)
    // (2 textual occurrences = numerator+denominator of the ONE jaccard;
    // the unfenced form shows 4: the filter repeats both)
    assert(df.as[Double].collect().toSeq == Seq(0.5))
  }

  test("fence + FencePushdown: single eval AND an unrelated predicate reaches the scan") {
    // the round-4 caveat: one fenced alias froze EVERY predicate above the
    // Project. FencePushdown restores per-conjunct pushdown — the doc_id
    // conjunct must land in the parquet scan's PushedFilters while the
    // fenced jaccard stays single-evaluation.
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id",
        graft.queries.QueryUtil.fence(
          Dedup.jaccardSorted(
            TextAnalysis.tokenSet($"text"),
            TextAnalysis.tokenSet(concat($"text", lit(" qq zz"))))).as("j"))
      .filter($"j" >= 0.1 && $"doc_id" < 30)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(doc_id,30)"),
      s"unrelated conjunct must be pushed into the scan:\n$plan")
    // exactly one evaluation site for the fenced metric (2 textual
    // occurrences = numerator+denominator of ONE jaccard; re-inlining
    // into the filter would show 4)
    assert(plan.split("sorted_intersect_count").length - 1 == 2, plan)
    // and the split must not change results
    val expected = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"doc_id" < 30)
      .select($"doc_id",
        Dedup.jaccardSorted(
          TextAnalysis.tokenSet($"text"),
          TextAnalysis.tokenSet(concat($"text", lit(" qq zz")))).as("j"))
      .filter($"j" >= 0.1)
    assert(df.count() == expected.count() && df.count() > 0)
  }

  test("connectedComponents: fixpoint labels; budget exhaustion throws") {
    val nodes = spark.range(0, 6).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("a", "b")
    val labels = graft.operators.Components
      .connectedComponents(spark, nodes, edges, "id")
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    // a 5-node chain has diameter 4: maxIter=2 must fail loudly, not
    // return wrong labels
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    intercept[IllegalStateException] {
      graft.operators.Components
        .connectedComponents(spark, spark.range(0, 5).toDF("id"), chain, "id", maxIter = 2)
        .collect()
    }
  }

  test("refineCentroids: an empty cluster keeps its centroid (no silent k shrink, no NaN)") {
    val emb = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", Similarity.norm($"embedding"))
    // centroid 20 points away from every vector -> zero assignments
    val cents = Seq((10L, Seq(1f, 0f)), (20L, Seq(-1f, 0f))).toDF("cent_id", "cv")
      .withColumn("cn", Similarity.norm($"cv"))
    val refined = Similarity.refineCentroids(emb, cents, iters = 2)
      .orderBy("cent_id").collect()
    assert(refined.length == 2)
    assert(refined(1).getAs[scala.collection.Seq[Float]]("cv").toSeq == Seq(-1f, 0f)) // kept, not dropped
    assert(!refined.exists(r => r.getAs[Double]("cn").isNaN || r.getAs[Double]("cn") == 0.0))
  }

  test("winnowing: docs sharing a long substring share a fingerprint; disjoint docs don't") {
    val shared = "the winnowing guarantee is substring matching"
    val df = Seq(
      (1L, "prefix one " + shared + " suffix alpha"),
      (2L, "other start " + shared + " different end"),
      (3L, "completely unrelated content with no overlap at all"))
      .toDF("doc_id", "text")
      .select($"doc_id", call_function("winnow_fps", $"text", lit(8), lit(4)).as("fps"))
    val fps = df.as[(Long, Seq[String])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty,
      "a shared >= k+w-1 char substring must contribute a common fingerprint")
    assert(fps(1L).toSet.intersect(fps(3L).toSet).isEmpty)
    // sorted-distinct output
    assert(fps.values.forall(l => l == l.sorted && l.distinct == l))
  }

  test("ngram LSH banding: measured candidate recall vs exhaustive pairs") {
    // sf0.01: 500 docs — exhaustive all-pairs ground truth is feasible here
    val g = Tables.documents(spark, "/root/testdata/sf0.01")
      .select($"doc_id", TextAnalysis.charNgramLongs($"text", 3).as("g3"))
      .withColumn("n3", size($"g3"))
    val l = g.select($"doc_id".as("a"), $"g3".as("ga"), $"n3".as("na"))
    val r = g.select($"doc_id".as("b"), $"g3".as("gb"), $"n3".as("nb"))
    val truth = l.join(r, $"a" < $"b" && $"na" * 5 >= $"nb" * 4 && $"nb" * 5 >= $"na" * 4)
      .filter(Dedup.jaccardSortedLong($"ga", $"gb") >= 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val cand = Dedup.lshCandidatesLong(g, "doc_id", "g3", numHashes = 8, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    val recall = truth.count(cand.contains).toDouble / math.max(1, truth.size)
    info(f"x13 banding recall: ${truth.count(cand.contains)}/${truth.size} = $recall%.2f")
    assert(truth.nonEmpty, "fixture must contain near-dup pairs for this test to mean anything")
    // theoretical recall at J=0.8 with 8x2 banding is ~0.98; measured 1.00
    assert(recall >= 0.9, s"LSH banding recall degraded: $recall")
  }

  test("x137 bucketed join: no exchange and no sort on either join key") {
    // the registered query is self-cleaning since r11 (drops its tables +
    // warehouse dir after checkpointing), so sanity-check its result and
    // then create fresh bucketed tables HERE for the plan assertion
    val out = graft.queries.EngineOpsQueries.bucketJoin(spark, "/root/testdata/sf0.001")
    assert(out.count() == 5)
    val wh = tmpDir("graft_x137_spec")
    spark.sql("DROP TABLE IF EXISTS graft_x137_orders")
    spark.sql("DROP TABLE IF EXISTS graft_x137_lineitem")
    Tables.orders(spark, "/root/testdata/sf0.001")
      .select($"o_orderkey", $"o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders").saveAsTable("graft_x137_orders")
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_orderkey", $"l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem").saveAsTable("graft_x137_lineitem")
    val plan = graft.queries.EngineOpsQueries.bucketJoinOn(spark)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"bucketed join must be SMJ:\n$plan")
    // the whole point of bucketing: the join keys are never re-shuffled
    assert(!plan.contains("hashpartitioning(o_orderkey"),
      s"orders side re-shuffled — bucket pruning lost:\n$plan")
    assert(!plan.contains("hashpartitioning(l_orderkey"),
      s"lineitem side re-shuffled — bucket pruning lost:\n$plan")
    // the scans must really be bucket-aware (not a coincidental no-shuffle)
    assert(plan.contains("Bucketed: true"), s"scan not bucket-aware:\n$plan")
    // NOTE: a local per-bucket Sort remains by default — Spark only trusts
    // write-time sortedness behind spark.sql.legacy.bucketedTableScan
    // .outputOrdering (needs one file per bucket). That sort is exchange-
    // free and local; the expensive part (the shuffle) is what bucketing
    // removes, and that's what this spec pins.
  }

  test("x139 partitioned write: the year filter prunes to one directory") {
    val base = java.nio.file.Files.createTempDirectory("graft_x139_spec").toString
    Tables.orders(spark, "/root/testdata/sf0.001")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        year($"o_orderdate".cast("date")).as("o_year"))
      .write.partitionBy("o_year").parquet(s"$base/orders")
    val df = graft.queries.EngineOpsQueries.partitionPruneOn(spark, base)
    val plan = df.queryExecution.executedPlan.toString
    // the filter must bind to the PARTITION column, not a data filter
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("o_year"), plan)
    // fixture spans 1995-2001: exactly one of 7 year directories survives
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val selected = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(selected.size == 1, s"expected exactly 1 surviving partition, got ${selected.size}")
    assert(df.count() > 0)
  }

  test("x143 dynamic partition pruning: the dim filter reaches the fact scan at runtime") {
    val base = java.nio.file.Files.createTempDirectory("graft_x143_spec").toString
    Tables.orders(spark, "/root/testdata/sf0.001")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        year($"o_orderdate".cast("date")).as("o_year"))
      .write.partitionBy("o_year").parquet(s"$base/orders")
    spark.range(1995, 2002)
      .select($"id".cast("int").as("d_year"), ($"id" % 3 === 0).cast("int").as("in_season"))
      .write.parquet(s"$base/dim")
    val df = graft.queries.EngineOpsQueries.dynPartitionPruneOn(spark, base)
    val plan = df.queryExecution.executedPlan.toString
    // unlike x139's static prune, the year set is only known at RUNTIME:
    // the fact scan's PartitionFilters must carry a dynamicpruning subquery
    assert(plan.contains("dynamicpruning"), s"no DPP subquery in fact scan:\n$plan")
    assert(df.count() > 0)
  }

  test("x146 AQE skew join: the hot partition is split (skew=true in the executed plan)") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(keys(0), "1024"); conf.set(keys(1), "2"); conf.set(keys(2), "1024")
      val base = java.nio.file.Files.createTempDirectory("graft_x146_spec").toString
      graft.queries.EngineOpsQueries.skewEvents(spark, "/root/testdata/sf0.001")
        .select($"grp").distinct()
        .select($"grp", (abs($"grp") % 3).as("cat"))
        .write.parquet(s"$base/dim")
      val df = graft.queries.EngineOpsQueries.skewJoinPlan(spark, "/root/testdata/sf0.001", s"$base/dim")
      PlanAudit.assertSkewHandled(df) // loud on either silent-no-op precondition
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("x153 runtime filter: the dim side plants a bloom filter on the fact scan") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(keys(0), "true"); conf.set(keys(1), "1024"); conf.set(keys(2), "-1")
      val df = graft.queries.EngineOpsQueries.runtimeFilterPlan(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"demo degraded from SMJ:\n$plan")
      assert(plan.contains("might_contain"),
        s"InjectRuntimeFilter did not plant the bloom probe:\n$plan")
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("x165 chat assembly digest is partitioning-independent") {
    // The collect_list fold is only deterministic because of the
    // array_sort(struct(turn, line)) — prove the md5 survives an
    // adversarial repartition (the property a distributed template
    // renderer must have; a bare collect_list would flake here).
    val a = graft.queries.PipelineQueries.chatAssembly(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001").repartition(7)
    val tmp = java.nio.file.Files.createTempDirectory("graft_chat").toString
    // the query touches only events, so a directory with events alone works
    ev.write.parquet(s"$tmp/events.parquet")
    val b = graft.queries.PipelineQueries.chatAssembly(spark, tmp)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("q102 lateral top-k plan: WindowGroupLimit below the exchange") {
    val df = graft.queries.RelationalQueries.lateralTopk(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop crept in:\n$plan")
  }
}
