package graft

import graft.queries.{AnalyticsQueries, CurationQueries, DedupQueries, EngineOpsQueries, EtlQueries, ExperimentQueries, GraphQueries, MultimodalQueries, PipelineQueries, RelationalQueries, RetrievalQueries, SimilarityQueries, StatsQueries, TextQueries, TimeSeriesQueries, TrainingQueries}
import org.apache.spark.sql.functions._

/** Semantics of the x181–x183 tier: the invariants the oracle pairing
  * relies on (learnability of the perceptron label, bootstrap weight
  * distribution shape, AMS estimator unbiasedness envelope). */
class Round10BatchSpec extends SparkTestBase {
  import spark.implicits._

  test("x181: perceptron training reaches zero training error") {
    val out = TrainingQueries.perceptronTrain(spark, sfDir).cache()
    val rows = out.orderBy($"it").collect()
    assert(rows.length == 6)
    val mis = rows.map(_.getAs[Long]("n_mis"))
    // Iteration 1 starts from w=0 where EVERY row is misclassified
    // (margin 0); the label (n_chars >= 300) is linearly separable in the
    // n_chars div 100 feature, so the decayed schedule must drive the
    // error to exactly zero (measured fixed point at all three SFs).
    assert(mis(0) == Tables.documents(spark, sfDir).count())
    assert(mis.last == 0, s"did not separate: ${mis.toSeq}")
    // The separator needs a positive char weight and a negative bias
    // (threshold boundary between buckets 2 and 3).
    assert(rows.last.getAs[Long]("w_chars") > 0)
    assert(rows.last.getAs[Long]("w_bias") < 0)
  }

  test("x182: bootstrap interval brackets the point estimate and is ordered") {
    val r = ExperimentQueries.bootstrapCi(spark, sfDir).head()
    assert(r.getAs[Long]("n_reps") == 32L)
    assert(r.getAs[Long]("boot_lo_fp") <= r.getAs[Long]("boot_hi_fp"))
    // With 1500 orders the replicate-mean spread is ~2.6% (sd/sqrt(n));
    // the 2nd/31st order statistics must bracket the full-sample mean.
    assert(r.getAs[Int]("covered") == 1)
    // The quantized-Poisson weights must average ~1 (mass conservation in
    // expectation): total resampled mass within 10% of the corpus size.
    val v = Tables.orders(spark, sfDir).count() * 32L
    val mass = Tables.orders(spark, sfDir)
      .select($"o_orderkey".cast("long").as("k"))
      .crossJoin(broadcast(spark.range(32).select($"id".as("b"))))
      .select(pmod(pmod($"k" * 1000003L + $"b", lit(1048573L)) * 2654435761L,
        lit(1000000L)).as("u"))
      .select(when($"u" < 367879L, 0L).when($"u" < 735759L, 1L)
        .when($"u" < 919699L, 2L).when($"u" < 981012L, 3L)
        .when($"u" < 996340L, 4L).when($"u" < 999406L, 5L).otherwise(6L).as("w"))
      .agg(sum($"w")).as[Long].head()
    assert(math.abs(mass - v) <= v / 10, s"mass=$mass expected~$v")
  }

  test("x184: stump argmin beats the majority baseline and is exhaustively optimal") {
    val r = TrainingQueries.stumpTrain(spark, sfDir).head()
    val (bestT, polGe, errBest) =
      (r.getAs[Long]("best_t"), r.getAs[Int]("pol_ge"), r.getAs[Long]("err_best"))
    assert(errBest < r.getAs[Long]("base_err"))
    // Brute-force check: recompute the chosen stump's error directly on
    // the rows — the window-prefix-sum path must equal the naive count.
    val feats = Tables.documents(spark, sfDir).select(
      (length($"text") - length(regexp_replace($"text", " ", ""))).cast("long").as("s"),
      when($"n_chars" >= 300, 1L).otherwise(-1L).as("y"))
    val pred = if (polGe == 1) when($"s" >= bestT, 1L).otherwise(-1L)
               else when($"s" < bestT, 1L).otherwise(-1L)
    val naive = feats.filter(pred =!= $"y").count()
    assert(naive == errBest, s"prefix-sum err $errBest != naive $naive")
  }

  test("x186: DP release clamps at zero and noise stays in the documented tail") {
    val out = AnalyticsQueries.dpHistogram(spark, sfDir).cache()
    assert(out.filter($"released" < 0).count() == 0)
    assert(out.filter($"within_clamp" =!= 1).count() == 0)
    assert(out.filter($"released" =!= greatest($"true_n" + $"noise", lit(0L))).count() == 0)
  }

  test("x187: conformal interval covers ~90% out of sample") {
    val r = TrainingQueries.conformalCoverage(spark, sfDir).head()
    assert(r.getAs[Int]("covers_nominal") == 1)
    assert(r.getAs[Long]("q") > 0)
    // Halves partition the orders table.
    val n = Tables.orders(spark, sfDir).count()
    assert(r.getAs[Long]("n_cal") + r.getAs[Long]("n_test") == n)
  }

  test("x185: B-cubed recall is exactly 1 (exact dups always co-cluster) and precision <= 1") {
    val r = DedupQueries.bcubedEval(spark, sfDir).head()
    // Identical texts have identical shingle sets -> identical signatures
    // -> LSH pairs them at jaccard 1 -> same component. So the clustering
    // can only MERGE truth classes, never split them: recall == 1.
    assert(r.getAs[Long]("b3_rec_fp") == 1000000L)
    assert(r.getAs[Long]("b3_prec_fp") <= 1000000L && r.getAs[Long]("b3_prec_fp") > 0)
    // Coarsening direction: fewer (or equal) predicted clusters than
    // truth classes.
    assert(r.getAs[Long]("n_pred_clusters") <= r.getAs[Long]("n_truth_classes"))
  }

  test("x188: resampling conserves mass per bucket and moves shares toward target") {
    val out = CurationQueries.targetResample(spark, sfDir).cache()
    assert(out.count() == 4)
    // A sampler cannot create documents, and uncapped buckets pass whole.
    assert(out.filter($"n_after" > $"n_before").count() == 0)
    assert(out.filter($"ratio_fp" === 1000000L && $"n_after" =!= $"n_before").count() == 0)
    // Every thinned bucket's achieved share must be no further from the
    // 25% target than its starting share (one-sided: thinning only).
    val off = out.filter($"ratio_fp" < 1000000L)
      .filter(abs($"share_after_fp" - 250000L) > abs($"share_before_fp" - 250000L))
    assert(off.count() == 0)
  }

  test("x189: fairness rates are consistent with their confusion counts") {
    val out = TrainingQueries.fairnessAudit(spark, sfDir).cache()
    assert(out.count() == 5) // one row per lang
    // Rates live in [0, 1e6] (or -1 when undefined); the gap equals the
    // spread of the published rates.
    assert(out.filter($"pos_rate_fp" < 0 || $"pos_rate_fp" > 1000000L).count() == 0)
    assert(out.filter($"tpr_fp" > 1000000L || $"fpr_fp" > 1000000L).count() == 0)
    val r = out.agg((max($"pos_rate_fp") - min($"pos_rate_fp")).as("g"),
      first($"dp_gap_fp").as("pub")).head()
    assert(r.getAs[Long]("g") == r.getAs[Long]("pub"))
    // The stump predicts long docs positive; TPR must dominate FPR in
    // every slice (the classifier is genuinely informative per group).
    assert(out.filter($"tpr_fp" >= 0 && $"fpr_fp" >= 0 && $"tpr_fp" <= $"fpr_fp")
      .count() == 0)
  }

  test("x190: entropy gate keeps the bulk and the repeated-token floor is low") {
    val out = CurationQueries.entropyGate(spark, sfDir).cache()
    val agg = out.agg(sum($"n_docs").as("n"), sum($"n_kept").as("k")).head()
    val (n, k) = (agg.getAs[Long]("n"), agg.getAs[Long]("k"))
    assert(n == Tables.documents(spark, sfDir).count())
    // The 2.4-nat gate is calibrated to drop roughly the bottom 5%.
    assert(k <= n && k >= n * 80 / 100, s"kept $k of $n")
    // Entropy is bounded by ln(vocab) of the doc; fixture docs max out
    // well under e^4 distinct tokens.
    assert(out.filter($"mean_h_fp" > 4000000000L).count() == 0)
  }

  test("x191: measured S-curve is monotone along the theory and hits both tails") {
    val out = DedupQueries.lshScurve(spark, sfDir).orderBy($"bin").collect()
    assert(out.length == 10) // every decile populated by constructed probes
    // Tails: near-zero candidacy at bin 0, near-certain at bin 9 (these
    // are 1e-6 fixed-point rates).
    assert(out.head.getAs[Long]("cand_rate_fp") < 100000L)
    assert(out.last.getAs[Long]("cand_rate_fp") > 900000L)
    // The measured curve must rise across the steep region like the
    // theory does: compare the low third vs the high third.
    val lo = out.slice(1, 4).map(_.getAs[Long]("cand_rate_fp")).max
    val hi = out.slice(6, 9).map(_.getAs[Long]("cand_rate_fp")).min
    assert(hi > lo, s"no S-shape: low-third max $lo vs high-third min $hi")
    // Constructed probes put their mean Jaccard inside the bin.
    out.foreach { r =>
      val (bin, mj) = (r.getAs[Long]("bin"), r.getAs[Long]("mean_j_fp"))
      assert(mj >= bin * 100000L && mj < (bin + 1) * 100000L || bin == 9L,
        s"bin $bin mean_j $mj")
    }
  }

  test("x192: topk_pairs aggregates (no Window) and matches row_number across forced merges") {
    val out = EngineOpsQueries.topkAgg(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    // A TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass — the map-side-k contract; the window shape must be gone.
    assert(plan.contains("ObjectHashAggregate"), plan.take(400))
    assert(!plan.contains("Window"), "top-k fell back to a window plan")
    // Randomized merge-path check: many partitions force serialize/
    // deserialize/merge; results must equal the window formulation.
    val rnd = new scala.util.Random(7)
    val data = (1 to 500).map(i => (rnd.nextInt(5), rnd.nextInt(50).toLong, i.toLong))
    val df = data.toDF("g", "v", "id").repartition(13)
    val viaAgg = df.groupBy($"g").agg(expr("topk_pairs(v, id, 4)").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).as("rk"), $"col.v".as("v"), $"col.id".as("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc, $"id")
    val viaWin = df.select($"g", $"v", $"id",
      row_number().over(w).as("rk")).filter($"rk" <= 4)
      .select($"g", $"rk", $"v", $"id")
    assert(viaAgg.except(viaWin).isEmpty && viaWin.except(viaAgg).isEmpty)
  }

  test("x193: dup-matrix mass equals the pair count and pairs are normalized") {
    val out = DedupQueries.crossSourceDupMatrix(spark, sfDir).cache()
    val total = out.agg(sum($"n_pairs")).as[Long].head()
    val pairs = graft.queries.DedupQueries.minhashLsh(spark, sfDir).count()
    assert(total == pairs, s"matrix mass $total != pair count $pairs")
    assert(out.filter($"src_lo" > $"src_hi").count() == 0)
    assert(out.filter(($"src_lo" === $"src_hi") === ($"is_cross" === 1)).count() == 0)
  }

  test("x194: allocation sums exactly to the budget and the draw hits it") {
    val out = CurationQueries.neymanSample(spark, sfDir).cache()
    assert(out.agg(sum($"alloc")).as[Long].head() == 100L)
    // The rank draw is exact: sampled counts equal allocations (each
    // stratum has far more docs than its allocation at every SF).
    assert(out.filter($"n_sampled" =!= $"alloc").count() == 0)
    assert(out.filter($"mass" <= 0).count() == 0)
  }

  test("x195: normalized deciles are near-uniform within each language") {
    val out = StatsQueries.quantileNormalize(spark, sfDir).cache()
    // Mass conservation.
    assert(out.agg(sum($"n_docs")).as[Long].head()
      == Tables.documents(spark, sfDir).count())
    // Defining property of rank normalization: per lang, no decile holds
    // more than ~3x its uniform share (ties and small strata allow slack).
    val bad = out
      .join(out.groupBy($"lang").agg(sum($"n_docs").as("tot")), "lang")
      .filter($"n_docs" * 10 > $"tot" * 3)
    assert(bad.count() == 0, bad.collect().mkString(","))
  }

  test("x196: IPW beats naive extrapolation on thinned buckets") {
    val out = CurationQueries.ipwRecovery(spark, sfDir).cache()
    val thinned = out.filter($"ratio_fp" < 1000000L)
    assert(thinned.count() > 0)
    val r = thinned.agg(sum($"err_naive").as("en"), sum($"err_ipw").as("ei")).head()
    assert(r.getAs[Long]("ei") < r.getAs[Long]("en"),
      s"ipw ${r.getAs[Long]("ei")} !< naive ${r.getAs[Long]("en")}")
  }

  test("q112: cascade counts are consistent across the key chain") {
    val out = RelationalQueries.deleteCascade(spark, sfDir).collect()
      .map(r => r.getAs[String]("table_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_affected"))).toMap
    // Every affected lineitem references an affected order; cohorts are
    // non-empty and strictly smaller than their tables.
    out.foreach { case (_, (n, a)) => assert(a > 0 && a < n) }
    assert(out("orders")._2 >= out("customer")._2) // >=1 order per customer here
  }

  test("x197: KM curve is a valid survival function") {
    val rows = ExperimentQueries.kaplanMeier(spark, sfDir)
      .orderBy($"t").collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, sfDir)
      .select($"user_id").distinct().count()
    // The risk set at the smallest duration is the whole population, and
    // shrinks by exactly the removals (events + censorings) at each step.
    assert(rows.head.getAs[Long]("n_risk") == nUsers)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_risk") ==
        a.getAs[Long]("n_risk") - a.getAs[Long]("d_events") - a.getAs[Long]("c_censored"))
    }
    // Survival is monotone non-increasing from 1.0 and drops ONLY at
    // event times (censoring-only steps leave S unchanged).
    var s = 1000000L
    rows.foreach { r =>
      val s2 = r.getAs[Long]("surv_fp")
      assert(s2 <= s)
      if (r.getAs[Long]("d_events") == 0L) assert(s2 == s)
      s = s2
    }
  }

  test("x198: log-rank expectations and variance are internally consistent") {
    val r = ExperimentQueries.logRank(spark, sfDir).head()
    val converters = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id").distinct().count()
    // Total expected events across both arms equals total observed (the
    // log-rank identity Σ E_1t + Σ E_0t = Σ d_t), so arm-1 expectation is
    // bounded by the total; chi2 is finite and non-negative.
    assert(r.getAs[Long]("o1") <= converters)
    assert(r.getAs[Long]("e1_fp") <= converters * 1000000L)
    assert(r.getAs[Long]("v_fp") > 0L)
    assert(r.getAs[Double]("chi2") >= 0.0)
    assert(r.getAs[Long]("n_treat") + r.getAs[Long]("n_ctrl") ==
      Tables.events(spark, sfDir).select($"user_id").distinct().count())
  }

  test("x199: WoE bins partition the customers and IV is the published sum") {
    val out = AnalyticsQueries.woeIv(spark, sfDir).cache()
    val rows = out.orderBy($"bin").collect()
    assert(rows.length == 10)
    val total = rows.map(r => r.getAs[Long]("n_good") + r.getAs[Long]("n_bad")).sum
    assert(total == Tables.customer(spark, sfDir).count())
    // IV is replicated on every row (single published headline number).
    assert(rows.map(_.getAs[Long]("iv_fp")).distinct.length == 1)
  }

  test("q113: Gini matches the O(n^2) mean-absolute-difference definition") {
    val r = AnalyticsQueries.giniRevenue(spark, sfDir).head()
    val g = r.getAs[Long]("gini_fp")
    assert(g >= 0L && g <= 1000000L)
    // Recompute from first principles at this SF: G = Σ|x_i−x_j| / (2n²μ̄)
    // over the same per-customer cents (zero-revenue customers included).
    val rev = Tables.orders(spark, sfDir).groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
    val xs = Tables.customer(spark, sfDir)
      .join(rev, $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"cents", lit(0L))).as[Long].collect()
    val n = xs.length.toLong
    val tot = xs.sum
    val mad = (for (a <- xs; b <- xs) yield math.abs(a - b)).map(BigInt(_)).sum
    val expected = (BigDecimal(mad) * 1000000 /
      (BigDecimal(2) * BigDecimal(n) * BigDecimal(n) *
        (BigDecimal(tot) / n))).toLong
    // Rank-identity vs MAD definition differ only in the final 1e-6
    // quantization step.
    assert(math.abs(g - expected) <= 1L, s"gini $g vs mad-form $expected")
  }

  test("x200: CUPED reduces variance and covers all purchasing users") {
    val r = ExperimentQueries.cuped(spark, sfDir).head()
    val purchasers = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id").distinct().count()
    assert(r.getAs[Long]("n0") + r.getAs[Long]("n1") == purchasers)
    // First-half and second-half spend are positively correlated (same
    // users keep buying), so θ > 0 and the reduction ratio = corr² lives
    // strictly inside (0, 1e6).
    assert(r.getAs[Long]("theta_fp") > 0L)
    val vr = r.getAs[Long]("varred_fp")
    assert(vr > 0L && vr < 1000000L, s"varred $vr")
  }

  test("x201: ANOVA decomposition is exhaustive and F is consistent") {
    val rows = StatsQueries.anova(spark, sfDir).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("ng")).sum ==
      Tables.orders(spark, sfDir).count())
    val r = rows.head
    val (ssb, ssw) = (r.getAs[Long]("ssb"), r.getAs[Long]("ssw"))
    assert(ssb >= 0L && ssw > 0L)
    // SSB + SSW must equal SST (computed independently from the global
    // moments) up to the per-group quantization slack (≤ 1 per term).
    val m = Tables.orders(spark, sfDir)
      .select(floor($"o_totalprice" + 0.5).cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx")).head()
    val sst = m.getAs[Long]("sxx").toDouble -
      m.getAs[Long]("sx").toDouble * m.getAs[Long]("sx").toDouble /
        m.getAs[Long]("n").toDouble
    assert(math.abs(ssb + ssw - sst) <= 8.0, s"ssb+ssw ${ssb + ssw} vs sst $sst")
    // F recomputes from the published pieces.
    val f = r.getAs[Double]("f")
    val fRe = (ssb.toDouble / r.getAs[Long]("df1")) /
      (ssw.toDouble / r.getAs[Long]("df2"))
    assert(math.abs(f - fRe) < 0.001, s"f $f vs $fRe")
    val e2 = r.getAs[Long]("eta2_fp")
    assert(e2 >= 0L && e2 <= 1000000L)
  }

  test("x202: RBO is a bounded overlap measure over the joined top-k") {
    val r = RetrievalQueries.rbo(spark, sfDir).head()
    assert(r.getAs[Long]("k") == 50L)
    val (nc, rbo) = (r.getAs[Long]("n_common"), r.getAs[Long]("rbo_fp"))
    assert(nc >= 0L && nc <= 50L)
    assert(rbo >= 0L && rbo <= 1000000L)
    // Zero overlap must publish exactly zero; any overlap must be > 0.
    if (nc == 0L) assert(rbo == 0L) else assert(rbo > 0L)
  }

  test("x203: removal effects are non-negative and shares apportion the total") {
    val rows = ExperimentQueries.markovAttribution(spark, sfDir).collect()
    assert(rows.length == 4)
    val vb = rows.map(_.getAs[Long]("v_base_fp")).distinct
    assert(vb.length == 1 && vb.head > 0L)
    rows.foreach { r =>
      // Removing a channel reroutes mass to the drop state: the removed
      // chain's conversion value is pointwise dominated at every
      // iteration, so it can never exceed the base chain's.
      assert(r.getAs[Long]("v_rem_fp") <= r.getAs[Long]("v_base_fp"),
        s"${r.getAs[String]("channel")} removal raised conversion")
    }
    val shares = rows.map(_.getAs[Long]("share_fp"))
    assert(math.abs(shares.sum - 1000000L) <= 4L, s"shares ${shares.toSeq}")
  }

  test("x204: isotonic fit is monotone and stays inside the raw-rate hull") {
    val out = StatsQueries.isotonic(spark, sfDir).orderBy($"bin").collect()
    assert(out.length == 12)
    // Monotone non-decreasing — THE isotonic property.
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("iso_rate_fp") <= b.getAs[Long]("iso_rate_fp"))
    }
    // The fit is a projection: it cannot leave the raw rates' range.
    val raws = out.map(_.getAs[Long]("raw_rate_fp"))
    out.map(_.getAs[Long]("iso_rate_fp")).foreach { v =>
      assert(v >= raws.min - 1 && v <= raws.max + 1)
    }
  }

  test("x205: W1 is non-negative and bounded by the grid span") {
    val r = StatsQueries.wasserstein(spark, sfDir).head()
    val w1 = r.getAs[Long]("w1_fp")
    assert(w1 >= 0L)
    assert(r.getAs[Long]("w1_cents") >= 0L)
    // Each year's shares sum to ~1e9, so |cum diff| per bin ≤ 1e9 and
    // the sum over the ~60-bin grid is bounded by 60e9.
    assert(w1 <= 60L * 1000000000L)
  }

  test("x206: Holt backtest covers every 1998 day with consistent errors") {
    val out = TimeSeriesQueries.holtBacktest(spark, sfDir).cache()
    val days = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === 1998)
      .select(to_date($"o_orderdate")).distinct().count()
    assert(out.count() == days)
    // The naive forecast is one constant (last train-day revenue); each
    // error column recomputes from its forecast.
    assert(out.select($"f_naive").distinct().count() == 1)
    assert(out.filter($"err_holt" =!= abs($"y" - $"f_holt")).count() == 0)
    assert(out.filter($"err_naive" =!= abs($"y" - $"f_naive")).count() == 0)
  }

  test("x208: DTW equals the naive DP and never exceeds the lock-step L1") {
    val r = TimeSeriesQueries.dtw(spark, sfDir).head()
    val (dtw, l1) = (r.getAs[Long]("dtw_cents"), r.getAs[Long]("l1_cents"))
    assert(dtw >= 0L && dtw <= l1, s"dtw $dtw l1 $l1")
    // First-principles recompute of the same 12x12 DP in Scala.
    def monthly(yr: Int): Array[Long] = {
      val m = Tables.orders(spark, sfDir)
        .filter(year($"o_orderdate") === yr)
        .groupBy(month($"o_orderdate").cast("long").as("m"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
        .collect().map(r2 => r2.getAs[Long]("m") -> r2.getAs[Long]("y")).toMap
      (1 to 12).map(i => m.getOrElse(i.toLong, 0L)).toArray
    }
    val (a, b) = (monthly(1995), monthly(1996))
    val d = Array.ofDim[Long](12, 12)
    for (i <- 0 until 12; j <- 0 until 12) {
      val c = math.abs(a(i) - b(j))
      d(i)(j) = c + ((i, j) match {
        case (0, 0) => 0L
        case (0, _) => d(0)(j - 1)
        case (_, 0) => d(i - 1)(0)
        case _ => math.min(d(i - 1)(j - 1), math.min(d(i - 1)(j), d(i)(j - 1)))
      })
    }
    assert(dtw == d(11)(11), s"fold $dtw vs naive ${d(11)(11)}")
  }

  test("x209: Shapley values satisfy the efficiency axiom exactly") {
    val rows = ExperimentQueries.shapley(spark, sfDir).collect()
    assert(rows.length == 4)
    // Σ_c φ12_c = 12·(v(full) − v(∅)) — the telescoping identity holds
    // EXACTLY on the quantized v's because every coalition's v appears
    // with balancing +/- weights.
    val users = Tables.events(spark, sfDir).groupBy($"user_id").agg(
      (coalesce(max(when($"event_type" === "click", 1L)), lit(0L)) +
        coalesce(max(when($"event_type" === "view", 1L)), lit(0L)) +
        coalesce(max(when($"event_type" === "signup", 1L)), lit(0L)) +
        coalesce(max(when($"event_type" === "error", 1L)), lit(0L))).as("touched"),
      coalesce(max(when($"event_type" === "purchase", 1L)), lit(0L)).as("conv"))
    def vFp(cond: org.apache.spark.sql.Column): Long = {
      val r = users.filter(cond)
        .agg(count(lit(1)).as("nu"), sum($"conv").as("nc")).head()
      val (nu, nc) = (r.getAs[Long]("nu"), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
      if (nu == 0) 0L else math.floor(nc.toDouble / nu.toDouble * 1000000 + 0.5).toLong
    }
    val vFull = vFp(lit(true))
    val vEmpty = vFp($"touched" === 0L)
    assert(rows.map(_.getAs[Long]("phi12_fp")).sum == 12L * (vFull - vEmpty))
  }

  test("x210: modularity decomposition respects the degree identity") {
    val out = GraphQueries.modularity(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // e_c = 2·intra ≤ d_c = 2·intra + inter, and each term is a valid
      // modularity contribution.
      assert(r.getAs[Long]("e_c") <= r.getAs[Long]("d_c"))
      assert(math.abs(r.getAs[Long]("q_c_fp")) <= 1000000L)
    }
    val q = out.head.getAs[Long]("q_fp")
    assert(q == out.map(_.getAs[Long]("q_c_fp")).sum)
    assert(q >= -1000000L && q <= 1000000L)
  }

  test("x211: assortativity is a correlation in [-1, 1]") {
    val r = GraphQueries.assortativity(spark, sfDir).head()
    assert(r.getAs[Long]("m") > 0L)
    val rho = r.getAs[Long]("r_fp")
    assert(rho >= -1000000L && rho <= 1000000L, s"r $rho")
  }

  test("x212: burstiness stays in the Goh-Barabasi range per type") {
    val out = AnalyticsQueries.burstiness(spark, sfDir).collect()
    assert(out.length == 5)
    out.foreach { r =>
      val (lo, mid, hi) = (r.getAs[Long]("min_b_fp"),
        r.getAs[Long]("mean_b_fp"), r.getAs[Long]("max_b_fp"))
      assert(lo >= -1000000L && hi < 1000000L)
      assert(lo <= mid && mid <= hi)
      assert(r.getAs[Long]("n_users") > 0L)
    }
  }

  test("x213: published LOF outliers are ranked, positive, and genuinely sparse") {
    val out = SimilarityQueries.lof(spark, sfDir).orderBy($"rk").collect()
    assert(out.length == 20)
    // Scores ordered with the ranking, all positive; the top outlier's
    // density must be visibly below its neighborhood (LOF > 1).
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("lof_fp") >= b.getAs[Long]("lof_fp"))
    }
    assert(out.last.getAs[Long]("lof_fp") > 0L)
    assert(out.head.getAs[Long]("lof_fp") > 1000000L,
      s"top LOF ${out.head.getAs[Long]("lof_fp")} not an outlier")
  }

  test("x215: RAKE phrases are capped, stopword-free, and rank-ordered") {
    val out = TextQueries.rake(spark, sfDir).orderBy($"rk").collect()
    assert(out.length == 20)
    out.foreach { r =>
      val words = r.getAs[String]("phrase").split(" ")
      assert(words.length >= 1 && words.length <= 3)
      assert(!words.exists(Set("the", "a")), r.getAs[String]("phrase"))
      assert(r.getAs[Long]("support") >= 1L)
      assert(r.getAs[Long]("score_fp") > 0L)
    }
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("score_fp") >= b.getAs[Long]("score_fp"))
    }
  }

  test("x216/x217: CSLS demotes hubs that the k-occurrence audit identifies") {
    val hubs = SimilarityQueries.hubnessAudit(spark, sfDir).orderBy($"rk").collect()
    assert(hubs.length == 10)
    // k-occurrence ordering and panel consistency.
    hubs.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("k_occ") >= b.getAs[Long]("k_occ"))
    }
    assert(hubs.head.getAs[Long]("k_occ") == hubs.head.getAs[Long]("max_k_occ"))
    // Mean N_k is exactly K: Σ N_k = n·K (every list has K members), so a
    // max above K certifies genuine hubness in the fixture.
    assert(hubs.head.getAs[Long]("max_k_occ") > 10L)
    val csls = SimilarityQueries.cslsTopk(spark, sfDir).collect()
    assert(csls.length % 5 == 0 && csls.nonEmpty)
    // CSLS = 2cos − r(a) − r(b) can never exceed plain 2·cos; spot-check
    // the published rows' internal consistency.
    csls.foreach { r =>
      assert(r.getAs[Long]("csls_fp") <= 2L * r.getAs[Long]("cos_fp") + 2000000L)
    }
  }

  test("x218: seasonal effects are mean-centered and the panel is a valid share") {
    val out = TimeSeriesQueries.seasonalDecompose(spark, sfDir).collect()
    assert(out.length == 7)
    // Seasonal effects are deviations from the trend: they must straddle
    // zero (can't all be positive — means of a centered series).
    val s = out.map(_.getAs[Long]("s_fp"))
    assert(s.min <= 0L && s.max >= 0L, s.toSeq.toString)
    val e = out.head.getAs[Long]("explained_fp")
    assert(e >= 0L && e <= 1000000L)
    // Trend+seasonal must explain SOMETHING on a series with a real
    // weekly cadence in the fixture (non-degenerate decomposition).
    assert(out.map(_.getAs[Long]("n_days")).sum ==
      Tables.orders(spark, sfDir).filter(year($"o_orderdate") <= 1997)
        .select(to_date($"o_orderdate")).distinct().count())
  }

  test("x219: CCF values are correlations and lag 0 matches the direct compute") {
    val out = TimeSeriesQueries.ccf(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val v = r.getAs[Long]("r_fp")
      assert(v >= -1000000L && v <= 1000000L, s"lag ${r.getAs[Long]("lag")}: $v")
    }
    // Symmetric coverage: the published lags form a contiguous range
    // centred on zero wherever overlap exists.
    val lags = out.map(_.getAs[Long]("lag")).sorted
    assert(lags.contains(0L))
  }

  test("x220: changepoints respect segment bounds and children split the root") {
    val out = TimeSeriesQueries.binsegChangepoints(spark, sfDir).collect()
      .map(r => r.getAs[String]("phase") ->
        (r.getAs[Long]("tau_di"), r.getAs[Long]("gain_d100"))).toMap
    assert(out.keySet == Set("root", "left", "right"))
    val (rootDi, _) = out("root")
    // Left child splits strictly before the root, right strictly after.
    assert(out("left")._1 < rootDi)
    assert(out("right")._1 > rootDi)
    // The root split is the global argmax: its gain dominates both
    // children's (a subsegment's best reduction can't beat the full
    // series' best reduction... it CAN in general, but each child gain
    // is still a valid non-negative SSE reduction).
    out.values.foreach { case (_, g) => assert(g >= 0L, out.toString) }
  }

  test("x221: ABC/XYZ cells partition the parts and shares sum to one") {
    val out = AnalyticsQueries.abcXyz(spark, sfDir).collect()
    val nParts = Tables.lineitem(spark, sfDir)
      .select($"l_partkey").distinct().count()
    assert(out.map(_.getAs[Long]("n_parts")).sum == nParts)
    val share = out.map(_.getAs[Long]("rev_share_fp")).sum
    assert(math.abs(share - 1000000L) <= out.length, s"share $share")
    // A-class cells carry the bulk of revenue per part by construction:
    // mean revenue share per part must decrease A -> C.
    def perPart(c: String) = {
      val cells = out.filter(_.getAs[String]("abc") == c)
      if (cells.isEmpty) None
      else Some(cells.map(_.getAs[Long]("rev_share_fp")).sum.toDouble /
        cells.map(_.getAs[Long]("n_parts")).sum)
    }
    (perPart("A"), perPart("C")) match {
      case (Some(a), Some(c)) => assert(a > c)
      case _ => ()
    }
  }

  test("x222: PACF lag 1 equals ACF lag 1 and all values are correlations") {
    val out = TimeSeriesQueries.pacf(spark, sfDir).orderBy($"lag").collect()
    assert(out.length == 5)
    out.foreach { r =>
      val v = r.getAs[Long]("pacf_fp")
      assert(v >= -1000000L && v <= 1000000L, s"lag ${r.getAs[Long]("lag")}: $v")
    }
    // Definitional identity: φ_11 = ρ_1 — recompute ρ_1 with the q85
    // exact-moment recipe and compare at the published quantization.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.orders(spark, sfDir)
      .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
        .cast("long").as("di"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val c = daily.crossJoin(broadcast(tot))
      .select($"di", ($"n".cast(dec) * $"y".cast(dec) - $"s".cast(dec)).as("cy"))
    val dd = c.agg(sum($"cy" * $"cy")).head().getDecimal(0)
    val num = c.join(c.toDF("dj", "cz"), $"dj" === $"di" + 1L)
      .agg(sum($"cy" * $"cz")).head().getDecimal(0)
    val rho1 = math.floor(num.doubleValue() / dd.doubleValue() * 1000000 + 0.5).toLong
    assert(out.head.getAs[Long]("pacf_fp") == rho1)
  }

  test("x223: harmonic closeness covers the trade graph and ranks correctly") {
    val out = GraphQueries.harmonicCloseness(spark, sfDir).collect()
    assert(out.length == 25)
    out.foreach { r =>
      assert(r.getAs[Long]("hc_fp") > 0L)
      assert(r.getAs[Long]("n_reach") <= 24L)
    }
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hc_fp") >= b.getAs[Long]("hc_fp"))
    }
    // The dense trade fixture reaches every other nation from everywhere
    // within the unrolled rounds.
    assert(out.forall(_.getAs[Long]("n_reach") == 24L))
  }

  test("x224: Moran's I is a bounded autocorrelation with positive weight mass") {
    val r = GraphQueries.moransI(spark, sfDir).head()
    assert(r.getAs[Long]("wsum") > 0L)
    val i = r.getAs[Long]("moran_fp")
    // Moran's I lives in approximately [-1, 1] (exact bounds depend on
    // the weight matrix's extreme eigenvalues; 1.5 is a safe envelope).
    assert(math.abs(i) <= 1500000L, s"moran $i")
  }

  test("x225: Delta is symmetric-complete over source pairs and non-negative") {
    val out = TextQueries.burrowsDelta(spark, sfDir).collect()
    val ns = Tables.documents(spark, sfDir)
      .select($"source").distinct().count()
    assert(out.length == ns * (ns - 1) / 2)
    out.foreach(r => assert(r.getAs[Long]("delta_fp") >= 0L))
    // Ranked ascending: most stylistically similar pair first.
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("delta_fp") <= b.getAs[Long]("delta_fp"))
    }
  }

  test("q114/q115: storage round-trips preserve cohort identities") {
    val se = EtlQueries.schemaEvolution(spark, sfDir).collect()
    val totalRows = se.map(_.getAs[Long]("n_rows")).sum
    assert(totalRows == Tables.orders(spark, sfDir).count())
    // v1 rows (null evolved column) are exactly the pre-1996 cohort.
    val v1 = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") <= 1995).count()
    assert(se.map(_.getAs[Long]("n_v1_rows")).sum == v1)
    val pd = EtlQueries.partitionDiscovery(spark, sfDir).collect()
    assert(pd.length == 5)
    assert(pd.map(_.getAs[Long]("n_rows")).sum ==
      Tables.orders(spark, sfDir).count())
    // The partition column recovered from directory names, not data.
    assert(pd.forall(_.getAs[String]("o_orderpriority").nonEmpty))
  }

  test("x226: TWAP lies within the user's value range and bias ranks descend") {
    val out = AnalyticsQueries.twap(spark, sfDir).orderBy($"rk").collect()
    assert(out.nonEmpty && out.length <= 20)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("bias_c") >= b.getAs[Long]("bias_c"))
    }
    // TWAP is a convex combination of observed values: recheck the top
    // user's published TWAP against their min/max event value.
    val uid = out.head.getAs[Long]("user_id")
    val mm = Tables.events(spark, sfDir).filter($"user_id" === uid)
      .agg(min(floor($"value" * 100 + 0.5).cast("long")).as("lo"),
        max(floor($"value" * 100 + 0.5).cast("long")).as("hi")).head()
    val t = out.head.getAs[Long]("twap_c")
    assert(t >= mm.getAs[Long]("lo") - 1 && t <= mm.getAs[Long]("hi") + 1)
  }

  test("x227: the tail cut is exact and CVaR is at most VaR") {
    val r = AnalyticsQueries.cvar(spark, sfDir).head()
    val (n, k) = (r.getAs[Long]("n"), r.getAs[Long]("k"))
    assert(k == math.max(1L, n * 50 / 1000))
    // CVaR (mean of the worst k) can never exceed VaR (the best of the
    // worst k), up to the 1e-2 quantization.
    assert(r.getAs[Long]("cvar_d100") <= r.getAs[Long]("var_d") * 100 + 1)
  }

  test("x228: variant extraction agrees with the string-path JSON functions") {
    val out = RelationalQueries.variantExtract(spark, sfDir).cache()
    assert(out.count() == 5)
    // Missing path is null for EVERY row (try_variant_get, no errors).
    assert(out.filter($"n_missing" =!= $"n").count() == 0)
    // Cross-check one aggregate against the legacy get_json_object path.
    val legacy = Tables.events(spark, sfDir)
      .select(get_json_object($"props", "$.k").cast("long").as("k"))
      .agg(sum($"k")).as[Long].head()
    assert(out.agg(sum($"sum_k")).as[Long].head() == legacy)
  }

  test("x229: the recursive roll-up partitions customers and conserves revenue") {
    val out = RelationalQueries.recursiveRollup(spark, sfDir).collect()
    assert(out.map(_.getAs[Long]("n_cust")).sum ==
      Tables.customer(spark, sfDir).count())
    // Revenue mass conservation: every order's customer reaches exactly
    // one division root.
    val totalCents = Tables.orders(spark, sfDir)
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))).as[Long].head()
    assert(out.map(_.getAs[Long]("cents")).sum == totalCents)
    // Depth = digits(custkey) − 1 for the deepest member.
    val maxKey = Tables.customer(spark, sfDir)
      .agg(max($"c_custkey")).as[Long].head()
    assert(out.map(_.getAs[Long]("max_depth")).max ==
      maxKey.toString.length - 1)
  }

  test("x230: straddle counts are bounded by the sequence count per shard") {
    val out = PipelineQueries.packStraddle(spark, sfDir).collect()
    assert(out.length == 8)
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
    out.foreach { r =>
      // At most one straddler per boundary: n_straddle < n_seqs.
      assert(r.getAs[Long]("n_straddle") < r.getAs[Long]("n_seqs"),
        r.toString)
      // Truncated mass only exists when something straddles, and each
      // straddler loses at least one token.
      val (ns, tt) = (r.getAs[Long]("n_straddle"), r.getAs[Long]("truncated_tok"))
      assert((ns == 0L && tt == 0L) || (ns > 0L && tt >= ns))
    }
  }

  test("x232: the constructed offset clones match their originals") {
    val out = MultimodalQueries.audioFingerprint(spark, sfDir)
      .orderBy($"rk").collect()
    assert(out.length == 20)
    out.sliding(2).foreach { case Array(x, y) =>
      assert(x.getAs[Long]("n_shared") >= y.getAs[Long]("n_shared"))
    }
    out.foreach(r => assert(r.getAs[Long]("n_shared") >= 1L))
    // The hop-aligned truncated clones (negative ids) are GUARANTEED to
    // share dt-invariant prints with their originals — at least one
    // clone-origin pair must be in the published matches.
    val clonePairs = out.filter(r => r.getAs[Long]("a") < 0L)
    assert(clonePairs.nonEmpty, out.map(_.toString).mkString(","))
    assert(clonePairs.exists(r => r.getAs[Long]("b") == -r.getAs[Long]("a")))
  }

  test("q116: PSI terms are non-negative and deciles partition the expected side") {
    val out = AnalyticsQueries.psi(spark, sfDir).orderBy($"bin").collect()
    assert(out.length == 10)
    // Each (p−q)ln(p/q) term is ≥ 0 (same sign factors), so the total is
    // the sum of non-negative contributions.
    out.foreach(r => assert(r.getAs[Long]("psi_term_fp") >= 0L, r.toString))
    assert(out.head.getAs[Long]("psi_fp") ==
      out.map(_.getAs[Long]("psi_term_fp")).sum)
    // Expected-side decile binning: bin counts are near-equal (rank-edge
    // construction guarantees |bin| within ±1 of n/10 plus tie spill).
    val ne = out.map(_.getAs[Long]("n_exp"))
    assert(ne.sum == Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === 1995).count())
    assert(ne.max - ne.min <= math.max(2L, ne.sum / 10 / 5), ne.toSeq.toString)
  }

  test("x233: pinball losses are non-negative and coverage tracks tau") {
    val out = StatsQueries.pinball(spark, sfDir).orderBy($"tau_pm").collect()
    assert(out.length == 3)
    out.foreach(r => assert(r.getAs[Long]("loss_pm") >= 0L))
    // Higher quantiles must cover at least as often as lower ones, and
    // the predicted quantile values must be monotone in tau.
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("coverage_fp") <= hi.getAs[Long]("coverage_fp"))
      assert(lo.getAs[Long]("q_dollars") <= hi.getAs[Long]("q_dollars"))
    }
  }

  test("x234: Kendall pair counts partition the top-100 pairs and tau is bounded") {
    val r = StatsQueries.kendallTau(spark, sfDir).head()
    val (nc, nd) = (r.getAs[Long]("nc"), r.getAs[Long]("nd"))
    // Unique ranks (key tie-breaks): every pair is concordant or
    // discordant, so C + D = C(100, 2).
    assert(nc + nd == 100L * 99L / 2L, s"nc=$nc nd=$nd")
    val tau = r.getAs[Long]("tau_fp")
    assert(tau >= -1000000L && tau <= 1000000L)
  }

  test("x183: AMS estimate lands within the audited 3x envelope") {
    val r = EngineOpsQueries.amsF2(spark, sfDir).head()
    assert(r.getAs[Int]("within_3x") == 1)
    // Exact F2 >= n (every key contributes at least count^2 >= count).
    val n = Tables.lineitem(spark, sfDir).count()
    assert(r.getAs[Long]("f2_exact") >= n)
  }
}
