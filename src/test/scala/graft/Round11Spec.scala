package graft

import org.apache.spark.sql.functions._

/** Hand-computed semantics for the round-11 span/BPE operators (their
  * corpus-scale parity lives in the x236/x237 oracle rows). */
class Round11Spec extends SparkTestBase {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = tmpDir("graft_r11_docs")
    rows.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"), lit("src0").as("source"),
        length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("x236 BPE apply: merges learn in weighted order and exhausted rounds no-op") {
    // vocab: aaab(3) ab(1) b(1).
    // r1: (a,a)=6 beats (a,b)=4 -> aaab=[aa,a,b], ab=[a,b]
    // r2: (a,b)=4 beats (aa,a)=3 -> aaab=[aa,ab], ab=[ab]
    // r3: (aa,ab)=3 -> aaab=[aaab]
    // r4..r6: no pairs left -> sentinel no-op (must NOT erase the vocab)
    val dir = writeDocs(Seq(1L -> "aaab aaab ab", 2L -> "aaab b"))
    val out = graft.queries.TextQueries.bpeApply(spark, dir)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    val d1 = out(0); val d2 = out(1)
    assert(d1.getAs[Long]("n_tok") == 3, s"doc1 n_tok=${d1.getAs[Long]("n_tok")}")
    assert(d2.getAs[Long]("n_tok") == 2)
    // every word fully merged back to itself -> token stream == text
    assert(d1.getAs[String]("toks_md5") == md5hex("aaab aaab ab"))
    assert(d2.getAs[String]("toks_md5") == md5hex("aaab b"))
    // packing columns: different shards (1 % 8 != 2 % 8), cursors at zero
    assert(d1.getAs[Long]("cum_before") == 0 && d2.getAs[Long]("cum_before") == 0)
    assert(d1.getAs[Long]("seq_id") == 0 && d1.getAs[Long]("seq_off") == 0)
  }

  test("x237 span dedup: islands merge, within-doc repeats count, short docs pass through") {
    val t = (1 to 12).map(i => s"t$i")       // shared corpus tokens
    val u = (1 to 9).map(i => s"u$i")        // unique spacers
    val v = (1 to 8).map(i => s"v$i")        // within-doc repeat tokens
    val shared8 = t.slice(2, 10)             // t3..t10 — the duplicated 8-gram
    val docs = Seq(
      1L -> t.mkString(" "),                                   // t1..t12: dup run [3,10]
      2L -> shared8.mkString(" "),                             // exactly the dup gram
      3L -> (shared8 ++ u ++ shared8).mkString(" "),           // two separated runs
      4L -> (v ++ Seq("w") ++ v).mkString(" "),                // within-doc repeat only
      5L -> "a b c")                                           // < 8 tokens: trivial keep
    val out = graft.queries.DedupQueries.spanDedup(spark, writeDocs(docs))
      .orderBy("doc_id").collect()
    def row(i: Int) = out(i)
    // doc1: 12 toks, one run covering t3..t10
    assert(row(0).getAs[Long]("n_runs") == 1 && row(0).getAs[Long]("n_removed") == 8)
    assert(row(0).getAs[String]("kept_md5") == md5hex("t1 t2 t11 t12"))
    // doc2: fully removed
    assert(row(1).getAs[Long]("n_kept") == 0)
    assert(row(1).getAs[String]("kept_md5") == md5hex(""))
    // doc3: two islands (starts 1 and 18), spacers survive
    assert(row(2).getAs[Long]("n_runs") == 2 && row(2).getAs[Long]("n_removed") == 16)
    assert(row(2).getAs[String]("kept_md5") == md5hex(u.mkString(" ")))
    // doc4: the repeat is within ONE doc — instance count 2 still dups both
    assert(row(3).getAs[Long]("n_runs") == 2 && row(3).getAs[Long]("n_kept") == 1)
    assert(row(3).getAs[String]("kept_md5") == md5hex("w"))
    // doc5: shorter than the gram -> zero grams, full text kept
    assert(row(4).getAs[Long]("n_runs") == 0 && row(4).getAs[Long]("n_kept") == 3)
    assert(row(4).getAs[String]("kept_md5") == md5hex("a b c"))
  }

  test("x262 Luby MIS: independent, maximal, and equal to greedy-by-priority") {
    val dir = "/root/testdata/sf0.001"
    // Independent re-derivation of the sparsified graph in plain Scala:
    // trade pairs via one SQL join chain, top-3 by (w desc, dst), closure.
    Seq("lineitem", "orders", "customer", "supplier").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"r11_$t")
    }
    val trade = spark.sql(
      """SELECT CAST(c.c_nationkey AS BIGINT) AS cn,
        |       CAST(s.s_nationkey AS BIGINT) AS sn
        |FROM r11_lineitem l
        |JOIN r11_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN r11_customer c ON o.o_custkey = c.c_custkey
        |JOIN r11_supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE c.c_nationkey <> s.s_nationkey""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val w = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    trade.foreach { case (a, b) => w((a, b)) += 1; w((b, a)) += 1 }
    // .toSeq before flatMap: flatMapping a Map with pair results rebuilds
    // a Map and silently dedups the 3 edges per src down to 1
    val top3 = w.keys.groupBy(_._1).toSeq.flatMap { case (src, es) =>
      es.toSeq.sortBy { case (_, dst) => (-w((src, dst)), dst) }.take(3)
    }.toSet
    val adj = (top3 ++ top3.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val pri = (v: Long) => (v * 2654435761L) % 1000000007L

    val out = graft.queries.GraphQueries.lubyMis(spark, dir).collect()
    val mis = out.map(_.getAs[Long]("nationkey")).toSet
    assert(out.forall(_.getAs[Long]("live_final") == 0L), "peel must converge")
    assert(out.head.getAs[Long]("n_nodes") == adj.size.toLong)
    // independence: no sparsified edge inside the MIS
    assert(!top3.exists { case (a, b) => mis(a) && mis(b) })
    // maximality: every non-MIS node has a MIS neighbor
    adj.keys.filterNot(mis).foreach { v =>
      assert(adj(v).exists(mis), s"node $v has no MIS neighbor")
    }
    // the parallel peel equals sequential greedy in priority order
    val greedy = scala.collection.mutable.Set[Long]()
    adj.keys.toSeq.sortBy(v => -pri(v)).foreach { v =>
      if (!adj(v).exists(greedy)) greedy += v
    }
    assert(mis == greedy.toSet, s"parallel $mis != greedy $greedy")
  }

  test("x263 Theil-Sen: one wild outlier month leaves the median slope exact") {
    val dir = tmpDir("graft_r11_ts")
    // months 0..8 on the exact line y = 50000 + 30000*m cents; month 9 wild
    val rows = (0 to 9).map { m =>
      val price = if (m == 9) 1000000.0 else 500.0 + 300.0 * m
      (m.toLong, 7L, java.sql.Timestamp.valueOf(f"1995-${m + 1}%02d-15 00:00:00"), price)
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((7L, 0L)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((0L, "TESTLAND")).toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val out = graft.queries.StatsQueries.theilSenX263(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_months") == 10 && r.getAs[Long]("n_pairs") == 45)
    // 36 clean pairs all at exactly 30000 cents/month dominate the median
    assert(r.getAs[Long]("med_num") == 30000L * r.getAs[Long]("med_den"))
    assert(r.getAs[Double]("slope_cents") == 30000.0)
  }

  test("x276 Shapley: hand-computed coalition lattice, exact phi and efficiency") {
    val dir = tmpDir("graft_r11_shap")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    // u1: view -> purchase (mask 1); u2: click,view -> purchase (mask 3);
    // u3: purchase immediately (mask 0); u4: touches but never converts.
    // v(S) = 1 + [view∈S] + [view,click⊆S]  =>  phi_view = 36/24,
    // phi_click = 12/24, phi_signup = phi_error = 0.
    Seq(
      (1L, t("2024-01-01 00:00:00"), "view"),
      (1L, t("2024-01-01 01:00:00"), "purchase"),
      (2L, t("2024-01-01 00:00:00"), "click"),
      (2L, t("2024-01-01 00:30:00"), "view"),
      (2L, t("2024-01-01 01:00:00"), "purchase"),
      (3L, t("2024-01-01 00:00:00"), "purchase"),
      (4L, t("2024-01-01 00:00:00"), "view"),
      (4L, t("2024-01-01 00:10:00"), "click"))
      .toDF("user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.ExperimentQueries.shapleyAttribution(spark, dir)
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    assert(out("view").getAs[Long]("phi24") == 36L)
    assert(out("click").getAs[Long]("phi24") == 12L)
    assert(out("signup").getAs[Long]("phi24") == 0L)
    assert(out("error").getAs[Long]("phi24") == 0L)
    assert(out("view").getAs[Long]("v_full") == 3L)
    assert(out("view").getAs[Long]("v_empty") == 1L)
    // efficiency: sum(phi) = v(full) - v(empty)
    assert(out.values.map(_.getAs[Long]("phi24")).sum == 24L * (3L - 1L))
  }

  test("x273 clamped balance: hand trajectory 5,2,0,2,1 with one stockout day") {
    val dir = tmpDir("graft_r11_bal")
    val t = (s: String) => java.sql.Timestamp.valueOf(s + " 00:00:00")
    // deltas +5 -3 -4 +2 -1 -> balances 5 2 0 2 1 (clamp binds on day 3:
    // 2 - 4 = -2 -> 0, so the unclamped sum would end at -1, not 1)
    Seq(
      (t("2024-01-01"), "R", 5.0), (t("2024-01-02"), "N", 3.0),
      (t("2024-01-03"), "A", 4.0), (t("2024-01-04"), "R", 2.0),
      (t("2024-01-05"), "N", 1.0))
      .toDF("l_shipdate", "l_returnflag", "l_quantity")
      .withColumn("l_suppkey", lit(77L))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((77L, 5L)).toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val r = graft.queries.RelationalQueries.clampedBalance(spark, dir)
      .collect().head
    assert(r.getAs[Long]("nation") == 5L)
    assert(r.getAs[Long]("n_days") == 5L)
    assert(r.getAs[Long]("final_bal") == 1L, s"final=${r.getAs[Long]("final_bal")}")
    assert(r.getAs[Long]("n_zero_days") == 1L)
    assert(r.getAs[Long]("max_bal") == 5L)
  }

  test("x260 histogram select: exact p50/p99 on a 1..100 dollar ladder") {
    val dir = tmpDir("graft_r11_hsel")
    (1 to 100).map(i => i.toDouble).toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.queries.EngineOpsQueries.histogramSelect(spark, dir)
      .collect().map(r => r.getAs[String]("rk") -> r).toMap
    // n=100: p50 rank (n+1)//2 = 50 -> $50; p99 rank 99n//100+1 = 100 -> $100
    assert(out("p50").getAs[Long]("sel_cents") == 5000L)
    assert(out("p50").getAs[Long]("target_rank") == 50L)
    assert(out("p99").getAs[Long]("sel_cents") == 10000L)
    assert(out("p99").getAs[Long]("target_rank") == 100L)
  }

  test("x266 quantile normalization: two 2-doc shards map onto pooled ranks") {
    val dir = tmpDir("graft_r11_qn")
    // lengths: srcA (10, 20), srcB (30, 40); pooled sorted 10,20,30,40.
    // shard rank r of 2 -> pooled k = ceil(r*4/2) in {2, 4} -> (20, 40)
    // for BOTH shards: after-means equalize at 30, p50_after = 20.
    Seq((1L, 10L, "srcA"), (2L, 20L, "srcA"), (3L, 30L, "srcB"), (4L, 40L, "srcB"))
      .map { case (id, n, s) => (id, "x" * n.toInt, "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.StatsQueries.quantileNormalizeX266(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("srcA").getAs[Double]("mean_before") == 15.0)
    assert(out("srcB").getAs[Double]("mean_before") == 35.0)
    assert(out("srcA").getAs[Double]("mean_after") == 30.0)
    assert(out("srcB").getAs[Double]("mean_after") == 30.0)
    assert(out("srcA").getAs[Long]("p50_after") == 20L)
    assert(out("srcB").getAs[Long]("p50_after") == 20L)
  }

  test("x287 bag set-ops: hand multisets obey ANSI multiplicity rules") {
    val dir = tmpDir("graft_r11_bag")
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    // A (urgent) = {(1,1995)x2, (3,1997)}; B (>=150k) = {(1,1995), (2,1996)}
    Seq(
      (1L, ts(1995), "1-URGENT", 200000.0),
      (1L, ts(1995), "1-URGENT", 10.0),
      (2L, ts(1996), "5-LOW", 200000.0),
      (3L, ts(1997), "1-URGENT", 1.0))
      .toDF("o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.queries.RelationalQueries.bagSetOps(spark, dir)
      .collect().map(r => r.getAs[String]("metric") -> r.getAs[Long]("cnt")).toMap
    // A's distinct keys are {(1,1995),(3,1997)} — (1,1995) repeats, so
    // except DISTINCT keeps only (3,1997) while except ALL keeps 2 rows
    assert(out == Map(
      "n_a" -> 3L, "n_b" -> 2L,
      "intersect_all" -> 1L, "except_all" -> 2L,
      "intersect_distinct" -> 1L, "except_distinct" -> 1L,
      "union_all" -> 5L, "union_distinct" -> 3L), s"got $out")
  }

  test("x285 KS: disjoint length distributions force D=1 and a rejection") {
    val dir = tmpDir("graft_r11_ks")
    // en lengths 10..29, others 60..79 — fully separated: D = 1, reject
    val rows = (0 until 20).map(i => (i.toLong, "x" * (10 + i), "en", "s", (10 + i).toLong)) ++
      (0 until 20).map(i => (100L + i, "x" * (60 + i), "fr", "s", (60 + i).toLong))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.queries.StatsQueries.ksTestX285(spark, dir).collect().head
    assert(r.getAs[Long]("n1") == 20 && r.getAs[Long]("n2") == 20)
    // sup at the last en value: F1=20/20, F2=0/20 -> d_num = 20*20
    assert(r.getAs[Long]("d_num") == 400L)
    assert(r.getAs[Double]("d") == 1.0)
    assert(r.getAs[Long]("at_value") == 29L)
    assert(r.getAs[Long]("reject_5pct") == 1L)
  }

  test("x271 changepoint: a clean level shift is localized to the step day") {
    val dir = tmpDir("graft_r11_cp")
    // 10 days at 2 orders/day then 10 days at 8/day: split after day 10
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"1995-01-${d}%02d 00:00:00")
    val rows = (1 to 10).flatMap(d => Seq.fill(2)(ts(d))) ++
      (11 to 20).flatMap(d => Seq.fill(8)(ts(d)))
    rows.map(t => (t, 1.0)).toDF("o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = graft.queries.TimeSeriesQueries.changepoint(spark, dir).collect().head
    assert(r.getAs[java.sql.Date]("split_day").toString == "1995-01-10")
    assert(r.getAs[Long]("n_left") == 10 && r.getAs[Long]("n_right") == 10)
    assert(r.getAs[Double]("mean_left") == 2.0)
    assert(r.getAs[Double]("mean_right") == 8.0)
  }

  test("x283 DiD: constructed cells give the exact contrast and placebo") {
    val dir = tmpDir("graft_r11_did")
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    def orders(ck: Long, y: Int, urgent: Int, total: Int) =
      (0 until total).map(i =>
        (ck, ts(y), if (i < urgent) "1-URGENT" else "5-LOW", 1.0))
    // treated rates: pre 2/10, post 6/10; control: pre 1/10, post 2/10
    // DiD = (0.6-0.2) - (0.2-0.1) = 0.3; placebo uses 1995 vs 1996-97 pre
    val rows =
      orders(1L, 1995, 2, 10) ++ orders(1L, 1999, 6, 10) ++
        orders(2L, 1995, 1, 10) ++ orders(2L, 1999, 2, 10)
    rows.toDF("o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "AUTOMOBILE"), (2L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val r = graft.queries.ExperimentQueries.diffInDiff(spark, dir).collect().head
    assert(r.getAs[Long]("n_t_pre") == 10 && r.getAs[Long]("u_t_pre") == 2)
    assert(r.getAs[Long]("n_t_post") == 10 && r.getAs[Long]("u_t_post") == 6)
    assert(r.getAs[Double]("did") == 0.3)
  }

  test("x264 AMS F2: exact moment pinned, estimate unbiased-shaped on uniform freqs") {
    val dir = tmpDir("graft_r11_ams")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    (0 until 100).map(u => (u.toLong, t0))
      .toDF("user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.EngineOpsQueries.amsF2X264(spark, dir).collect().head
    assert(r.getAs[Long]("n_users") == 100 && r.getAs[Long]("exact_f2") == 100)
    val est = r.getAs[Double]("est_f2")
    // E[c^2] = F2 = 100; median-of-8-means of chi2_16/16 stays well inside
    // [0.3, 3]x — a collapse to the affine-hash failure mode (10x low) fails
    assert(est > 30.0 && est < 300.0, s"est_f2=$est out of band")
  }
}
