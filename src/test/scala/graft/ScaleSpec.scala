package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Scale-technique proofs: salted aggregation equivalence, bucketed
  * co-located joins (shuffle-free), approximate-aggregate accuracy. These
  * assert the 100 TB design claims in PLANS.md on real plans. */
class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("salted aggregation == plain aggregation (skew-safe groupBy)") {
    val ev = Tables.events(spark, sfDir)
    val plain = ev.groupBy($"user_id")
      .agg(round(sum($"value"), 6).as("sum_value"), count(lit(1)).as("n"))
    val salted = Skew.saltedSumCount(ev, "user_id", "value", "event_id", salts = 8)
      .select($"user_id", round($"sum_value", 6).as("sum_value"), $"n")
    assert(plain.except(salted).count() == 0 && salted.except(plain).count() == 0)
  }

  test("interval overlap: a degenerate hot band (everyone concurrent) stays correct") {
    import graft.operators.RangeJoin
    // 400 intervals all overlapping the same hour — every pair lands in
    // ONE band bucket (the worst skew case; AQE's split applies at real
    // scale). Correctness must not depend on band dispersion.
    val iv = (0 until 400).map { i => (i.toLong, 1000L + i % 7, 4000L + i % 11) }
    val left = iv.toDF("lid", "ls", "le")
    val right = iv.map { case (i, s, e) => (1000L + i, s, e) }.toDF("rid", "rs", "re")
    val n = RangeJoin.intervalOverlap(left, right, "ls", "le", "rs", "re",
      bandSec = 3600L, extraCond = col("lid") >= 0).count()
    assert(n == 400L * 400) // all concurrent -> complete bipartite, exactly once each
  }

  test("CDC merge: 100k-row table, small batch touches only its keys") {
    import graft.sinks.Sinks
    val existing = spark.range(100000).select($"id".as("k"), ($"id" * 2).as("v"))
    val batch = Seq((5L, -1L, 1L, "U"), (99999L, 0L, 2L, "D"), (100001L, 7L, 3L, "I"))
      .toDF("k", "v", "seq", "op")
    val merged = Sinks.applyCdc(existing, batch, "k", "seq", "op")
    assert(merged.count() == 100000L) // -1 delete +1 insert
    assert(merged.filter($"k" === 5L).select($"v").as[Long].head() == -1L)
    assert(merged.filter($"k" === 99999L).count() == 0)
    assert(merged.filter($"k" === 100001L).select($"v").as[Long].head() == 7L)
    // untouched keys unchanged
    assert(merged.filter($"k" === 4L).select($"v").as[Long].head() == 8L)
  }

  test("bucketed tables co-locate: join on bucket key plans without shuffle") {
    val li = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_quantity")
    val ord = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bkt")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt")
        .join(spark.table("ord_bkt"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should be shuffle-free:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("IVF: Lloyd-refined quantizer recall@3 >= fixed-subset quantizer") {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // sf0.01: sf0.001 has only ~2 centroids/1 query — too degenerate to
    // exercise the quantizer
    val emb = Tables.embeddings(spark, sf001Dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val cents0 = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv"), $"nrm".as("cn"))

    def ivfTop3(cents: DataFrame): Map[Long, Seq[Long]] = {
      val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
      val assigned = emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cent_id",
          (Similarity.dot($"embedding", $"cv") / ($"nrm" * $"cn")).as("ccos"))
        .withColumn("arn", row_number().over(wAssign)).filter($"arn" === 1)
        .select($"vec_id", $"embedding", $"nrm", $"cent_id")
      val wProbe = Window.partitionBy($"q_id").orderBy($"ccos".desc, $"cent_id")
      val probes = emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
        .crossJoin(broadcast(cents))
        .select($"q_id", $"qv", $"qn", $"cent_id",
          (Similarity.dot($"qv", $"cv") / ($"qn" * $"cn")).as("ccos"))
        .withColumn("prn", row_number().over(wProbe)).filter($"prn" <= 2)
        .select($"q_id", $"qv", $"qn", $"cent_id")
      val wTop = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      probes.join(assigned, "cent_id").filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
        .withColumn("rk", row_number().over(wTop)).filter($"rk" <= 3)
        .select($"q_id", $"rk", $"vec_id")
        .as[(Long, Int, Long)].collect().toSeq
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) }
    }

    val wTrue = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    val truth = emb.join(
        broadcast(emb.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))),
        $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
      .withColumn("rk", row_number().over(wTrue)).filter($"rk" <= 3)
      .select($"q_id", $"vec_id")
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

    def recall(found: Map[Long, Seq[Long]]): Double = {
      val hits = truth.keys.toSeq.map(q =>
        found.getOrElse(q, Seq.empty).count(truth(q).contains).toDouble / 3.0)
      hits.sum / hits.size
    }
    // What spherical k-means guarantees (and what we assert): the
    // assignment objective — mean cosine of each vector to its centroid —
    // is monotonically non-decreasing. Recall@3 on this NEAR-UNIFORM
    // fixture is noise (5 queries, no cluster structure to recover), so
    // it's reported, not asserted.
    def quantization(cents: DataFrame): Double = {
      val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
      emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"cent_id",
          (Similarity.dot($"embedding", $"cv") / ($"nrm" * $"cn")).as("ccos"))
        .withColumn("arn", row_number().over(wAssign)).filter($"arn" === 1)
        .agg(avg($"ccos")).as[Double].head()
    }
    val refined = Similarity.refineCentroids(emb, cents0, iters = 2)
    val (q0, q1) = (quantization(cents0), quantization(refined))
    val (r0, r1) = (recall(ivfTop3(cents0)), recall(ivfTop3(refined)))
    info(f"assignment cosine: fixed $q0%.4f -> refined $q1%.4f; recall@3 $r0%.2f -> $r1%.2f")
    assert(q1 >= q0, s"Lloyd refinement must not worsen the assignment objective ($q1 < $q0)")
  }

  test("shared candidate-pair persistence: one LSH computation serves two consumers") {
    // the 100 TB deployment shape (PLANS.md): the verified near-dup pair
    // set is computed ONCE per corpus snapshot and persisted; clustering
    // (x14 shape) and pair verification (x48 shape) both consume it instead
    // of re-running the shingle→minhash→band→join pipeline per query.
    import graft.queries.DedupQueries
    val pairs = DedupQueries.minhashLsh(spark, sfDir).select($"a", $"b").persist()
    try {
      pairs.count() // materialize the cache once
      // consumer 1: dedup clustering over the shared pairs == standalone x14
      val nodes = Tables.documents(spark, sfDir).select($"doc_id")
      val viaShared = graft.operators.Components
        .connectedComponents(spark, nodes, pairs, "doc_id")
        .select($"doc_id", $"component".as("cluster_id"))
      val standalone1 = DedupQueries.dedupClusters(spark, sfDir)
        .select($"doc_id", $"cluster_id")
      assert(viaShared.except(standalone1).count() == 0 &&
        standalone1.except(viaShared).count() == 0)
      // consumer 2: Levenshtein verification over the shared pairs == x48
      val docs = Tables.documents(spark, sfDir)
        .select($"doc_id", substring($"text", 1, 60).as("pre"))
      val lev = pairs
        .join(docs.select($"doc_id".as("a"), $"pre".as("pa")), "a")
        .join(docs.select($"doc_id".as("b"), $"pre".as("pb")), "b")
        .select($"a", $"b", levenshtein($"pa", $"pb").as("edit_dist"))
      // both consumers must read the persisted candidate set, not re-run LSH
      // Walk the LOGICAL tree: InMemoryRelation is a leaf (its cached plan
      // is a field, not a child), so collect() sees exactly the LIVE
      // operators — unlike the printed plan text, where the cached lineage
      // and later sibling branches interleave and a substring check can
      // miss a recompute printed after the first cache node.
      val logical = lev.queryExecution.optimizedPlan
      val cacheLeaves = logical.collect {
        case n if n.getClass.getSimpleName == "InMemoryRelation" => n
      }
      assert(cacheLeaves.nonEmpty, s"consumer must scan the cache:\n$logical")
      val liveExprs = logical.collect {
        case n if n.getClass.getSimpleName != "InMemoryRelation" =>
          n.expressions.map(_.toString).mkString(";")
      }.mkString("\n")
      assert(!liveExprs.toLowerCase.contains("minhash"),
        s"consumer must not recompute the LSH pipeline:\n$logical")
      val standalone2 = graft.queries.RelationalQueries.x48(spark, sfDir)
        .select($"a", $"b", $"edit_dist")
      assert(lev.except(standalone2).count() == 0 &&
        standalone2.except(lev).count() == 0)
    } finally pairs.unpersist()
  }

  test("connected components: pointer jumping labels 200-hop chains in O(log d) iterations") {
    import graft.operators.Components
    // two disjoint 200-node chains: diameter 199 ≫ the 12-iteration budget,
    // so pure min-label propagation (reach +1 per round) would exhaust the
    // budget and throw; pointer jumping (reach ~doubles per round) must
    // reach the fixpoint comfortably within it.
    val n = 400L
    val nodes = spark.range(0, n).select($"id".as("doc_id"))
    val edges = spark.range(0, n - 1).filter($"id" =!= (n / 2 - 1))
      .select($"id".as("a"), ($"id" + 1).as("b"))
    val labels = Components.connectedComponents(spark, nodes, edges, "doc_id", maxIter = 12)
    val comps = labels.groupBy($"component").count()
      .orderBy($"component").as[(Long, Long)].collect().toSeq
    assert(comps == Seq((0L, n / 2), (n / 2, n / 2)),
      s"each chain must collapse to its min id: $comps")
  }

  test("connected components: large-star/small-star beats pointer jumping on 200-hop chains") {
    import graft.operators.Components
    // Same two disjoint 200-node chains (diameter 199). The alternation
    // must (a) produce the identical label table and (b) reach its star-
    // forest fixpoint in strictly fewer rounds than the min-label +
    // pointer-jumping loop — the billion-edge upgrade's deep-graph claim.
    val n = 400L
    val nodes = spark.range(0, n).select($"id".as("doc_id"))
    val edges = spark.range(0, n - 1).filter($"id" =!= (n / 2 - 1))
      .select($"id".as("a"), ($"id" + 1).as("b"))
    val (lPj, rPj) = Components
      .connectedComponentsWithRounds(spark, nodes, edges, "doc_id", maxIter = 20)
    val (lStar, rStar) = Components
      .connectedComponentsStarsWithRounds(spark, nodes, edges, "doc_id", maxIter = 20)
    assert(lPj.except(lStar).count() == 0 && lStar.except(lPj).count() == 0,
      "stars must produce the identical min-id label table")
    assert(rStar < rPj,
      s"stars must converge in strictly fewer rounds (stars=$rStar, pj=$rPj)")
    // ring + chords (cyclic, duplicate-edge, non-chain shape): same labels
    val m = 1000L
    val nodes2 = spark.range(0, m).select($"id".as("doc_id"))
    val e2 = spark.range(0, m).select($"id".as("a"), (($"id" + 1) % m).as("b"))
      .unionByName(spark.range(0, m / 10)
        .select(($"id" * 7 % m).as("a"), (($"id" * 131 + 5) % m).as("b")))
    val single = Components.connectedComponentsStars(spark, nodes2, e2, "doc_id")
    assert(single.filter($"component" =!= 0L).count() == 0,
      "one ring component, min id 0")
  }

  test("SNK3 partitioned refresh: dynamic overwrite replaces only incoming partitions") {
    val path = tmpDir("dynpart") + "/t"
    graft.sinks.Sinks.bulkReplacePartitions(
      Seq(("a", 1, 10), ("b", 1, 20), ("c", 2, 30)).toDF("k", "p", "v"), path, Seq("p"))
    // refresh ONLY partition p=2; p=1 must survive untouched
    graft.sinks.Sinks.bulkReplacePartitions(
      Seq(("d", 2, 99)).toDF("k", "p", "v"), path, Seq("p"))
    val out = spark.read.parquet(path).orderBy("k")
      .select($"k", $"p", $"v").as[(String, Int, Int)].collect().toSeq
    assert(out == Seq(("a", 1, 10), ("b", 1, 20), ("d", 2, 99)))
  }

  test("partition pruning: a month filter on a date-partitioned sink prunes at the scan") {
    val path = tmpDir("partprune") + "/t"
    val orders = Tables.orders(spark, sfDir)
      .withColumn("omonth", date_format($"o_orderdate", "yyyy-MM"))
    orders.write.partitionBy("omonth").mode("overwrite").parquet(path)
    val target = orders.select($"omonth").orderBy($"omonth").head().getString(0)
    val pruned = spark.read.parquet(path).filter($"omonth" === target)
    val plan = pruned.queryExecution.executedPlan.toString
    // the month predicate must appear INSIDE the scan's PartitionFilters
    // bracket (directory-level skip) — `plan.contains("PartitionFilters")`
    // alone is vacuous, the scan prints an empty entry even without pruning
    val partFilter = ("""PartitionFilters: \[[^\]]*omonth[^\]]*""" +
      java.util.regex.Pattern.quote(target)).r
    assert(partFilter.findFirstIn(plan).isDefined, plan)
    // and no per-row FilterExec may reference the partition column
    // (attribute names print with exprIds, so match loosely)
    assert("""\bFilter \([^\n]*omonth""".r.findFirstIn(plan).isEmpty,
      s"month filter must not run per-row:\n$plan")
    assert(pruned.count() == orders.filter($"omonth" === target).count())
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying ~90% of the left side
      val left = spark.range(0, 200000)
        .select(when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 1000).as("k"),
          concat(lit("pad-pad-pad-pad-pad-"), $"id").as("payload"))
      val right = spark.range(0, 1000).select($"id".as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // PlanAudit drives THIS plan instance (count()/rdd each wrap a NEW
      // QueryExecution and would leave the AdaptiveSparkPlan un-finalized)
      PlanAudit.assertSkewHandled(joined)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("approximate aggregates land within tolerance of exact") {
    val exact = Tables.lineitem(spark, sfDir)
      .agg(countDistinct($"l_partkey").cast("double").as("d"),
        expr("percentile(l_extendedprice, 0.5)").as("m"))
      .as[(Double, Double)].head()
    val approx = Tables.lineitem(spark, sfDir)
      .agg(approx_count_distinct($"l_partkey").cast("double").as("d"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("m"))
      .as[(Double, Double)].head()
    assert(math.abs(approx._1 - exact._1) / exact._1 < 0.05)
    assert(math.abs(approx._2 - exact._2) / exact._2 < 0.05)
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // At 100 TB the win of a selective dim-side predicate is only realized
    // if the FACT scan is pruned at runtime — Spark injects a bloom-filter
    // semi-filter on the join key when the creation side is small and
    // selective. Thresholds are lowered so the sf0.001 fixture qualifies;
    // the assertion is on the injected plan node, which is the part that
    // carries to any scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // the fixture fact scan is far below the 10GB default gate that a
      // real 100 TB fact table trivially clears
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, sfDir)
      val ord = Tables.orders(spark, sfDir).filter($"o_orderpriority" === "1-URGENT")
      val joined = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"expected an injected runtime bloom filter in:\n$plan")
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
