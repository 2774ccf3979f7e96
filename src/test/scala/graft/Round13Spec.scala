package graft

import org.apache.spark.sql.functions._

/** Hand-derived semantic checks for the round-13 tier — properties the
  * DuckDB oracle parity cannot establish on its own (it proves Spark ==
  * DuckDB, not that either computes the intended statistic). */
class Round13Spec extends SparkTestBase {
  import spark.implicits._

  test("Holt linear recurrence: constant series converges to the constant with zero trend") {
    // l1=100, b1=0; every step: l=(100+l+b)/2, b=(l-lprev+b)/2 — fixed
    // point at l=100, b=0 reached immediately for a constant series.
    var l = 100L; var b = 0L
    (1 to 20).foreach { _ =>
      val lp = l; l = (100L + l + b) / 2L; b = (l - lp + b) / 2L
    }
    assert(l == 100L && b == 0L)
  }

  test("Holt linear recurrence: truncating division matches DuckDB // on negative states") {
    // The x317 pinned convention: JVM / truncates toward zero, as does
    // DuckDB's //. A decreasing series drives the trend negative; the
    // recurrence must stay within the integers the oracle's CTE computes.
    // Hand step: x=(300,200,100): l1=300,b1=0; l2=(200+300+0)/2=250,
    // b2=(250-300+0)/2=-25 (trunc: -50/2=-25); l3=(100+250-25)/2=162
    // (325/2 trunc=162), b3=(162-250-25)/2=(-113)/2 trunc=-56.
    var l = 300L; var b = 0L
    Seq(200L, 100L).foreach { x =>
      val lp = l; l = (x + l + b) / 2L; b = (l - lp + b) / 2L
    }
    assert(l == 162L && b == -56L, s"got l=$l b=$b")
  }

  test("dynamic-gap sessions: a purchase window bridges past a short-gap break") {
    // user 1: purchase at t=0 (gap 1800), click at t=700 (gap 600),
    // click at t=1500. Lag-based sessionization with per-event gaps
    // would BREAK at 1500 (1500-700=800 > 600), but the purchase's
    // window [0,1800) still covers 1500 — session_window must merge all
    // three (running-max-of-ends semantics). Control user 2: two clicks
    // 700 apart split into two sessions.
    val ev = Seq(
      (1L, 0L, "purchase"), (1L, 700L, "click"), (1L, 1500L, "click"),
      (2L, 0L, "click"), (2L, 700L, "click"))
      .toDF("user_id", "sec", "event_type")
      .select($"user_id", $"sec".cast("timestamp").as("ts"), $"event_type")
    val gap = when($"event_type" === "purchase", lit("1800 seconds"))
      .otherwise(lit("600 seconds"))
    val got = ev.groupBy($"user_id", session_window($"ts", gap))
      .agg(count(lit(1)).as("n"))
      .select($"user_id",
        expr("CAST(unix_timestamp(session_window.start) AS BIGINT)").as("s"),
        expr("CAST(unix_timestamp(session_window.end) AS BIGINT)").as("e"),
        $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 0L, 2100L, 3L),  // merged: end = max(0+1800, 700+600, 1500+600)
      (2L, 0L, 600L, 1L), (2L, 700L, 1300L, 1L)), got.toString)
  }

  test("McNemar cells partition the users and chi2 matches the hand formula") {
    val out = queries.StatsQueries.mcnemar(spark, "/root/testdata/sf0.001")
      .collect().head
    val (yy, b, c, nn) = (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
    val users = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id").distinct().count()
    assert(yy + b + c + nn == users, s"cells $yy+$b+$c+$nn != $users users")
    if (b + c > 0) {
      val chi2 = out.getDouble(4)
      val expect = math.floor((b - c).toDouble * (b - c) / (b + c) * 1e6 + 0.5) / 1e6
      assert(chi2 == expect)
    }
  }

  test("filtered-ANN audit: hits never exceed the truth and recall is their exact ratio") {
    val rows = queries.SimilarityQueries.filteredAnn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTrue, hits, recall) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(hits <= nTrue && nTrue <= 5)
      assert(recall == math.floor(hits.toDouble / nTrue * 1e4 + 0.5) / 1e4)
    }
  }

  test("property: folding ANY batch split through mergeSessions equals batch sessionization") {
    // The invariant behind TwsTimerSessionProcessor (and the r10-r12
    // ADVICE bug class it replaced): however an event multiset is split
    // into micro-batches - including out-of-order and duplicate
    // timestamps across batches - folding the batches through the pure
    // merge yields exactly the from-scratch batch session_window result
    // (sorted runs split where the gap exceeds gapSec, counts summed).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val gapSec = 10L
    val eventsGen = Gen.listOfN(40, Gen.choose(0L, 300L))
    def batchSessionize(secs: Seq[Long]): Seq[(Long, Long, Long)] = {
      val sorted = secs.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      sorted.foreach { t =>
        if (out.nonEmpty && t - out.last._2 <= gapSec) {
          val (s, _, n) = out.last; out(out.size - 1) = (s, t, n + 1)
        } else out += ((t, t, 1L))
      }
      out.toSeq
    }
    (1L to 40L).foreach { seed =>
      val secs = sample(eventsGen, seed)
      // random batch split: assign each event a batch index, preserve order
      val nBatches = 1 + (seed % 5).toInt
      val batches = secs.zipWithIndex
        .groupBy { case (t, i) => (t * 31 + i + seed) % nBatches }
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      var state = Array.empty[(Long, Long, Long)]
      batches.foreach { b =>
        state = graft.streaming.IncrementalStream
          .mergeSessions(state, b.toArray, gapSec)
      }
      assert(state.toSeq == batchSessionize(secs),
        s"seed=$seed split into ${batches.size} batches diverged")
    }
  }

  test("energy statistic census prefix sums equal brute-force pairwise masses") {
    // x325 computes three pair-defined expectations WITHOUT a pair join;
    // this recomputes them by brute force over the sf0.001 corpus (500
    // docs -> 250k driver-side pairs, test-only) and checks the BIGINT
    // pair masses match exactly.
    val vals = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"n_chars" > 0)
      .select($"n_chars".cast("long"), ($"lang" === "en").cast("boolean"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val xs = vals.filter(_._2).map(_._1); val ys = vals.filterNot(_._2).map(_._1)
    val sxy = (for (a <- xs; b <- ys) yield math.abs(a - b)).sum
    val sxx = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
    val syy = (for (a <- ys; b <- ys) yield math.abs(a - b)).sum
    val row = queries.StatsQueries.energyDistance(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(row.getLong(0) == xs.length && row.getLong(1) == ys.length)
    assert(row.getLong(2) == sxy, s"sxy ${row.getLong(2)} != $sxy")
    assert(row.getLong(3) == sxx, s"sxx ${row.getLong(3)} != $sxx")
    assert(row.getLong(4) == syy, s"syy ${row.getLong(4)} != $syy")
  }

  test("Jonckheere null mean equals the unordered cross-group pair count") {
    // e2jt must be sum over g<h of n_g*n_h -- the count of cross-group
    // pairs (an earlier draft emitted the ORDERED count, inflating |z|
    // ~40x; this identity pins the fix).
    val r = queries.StatsQueries.jonckheere(spark, "/root/testdata/sf0.001")
      .collect().head
    val counts = Tables.orders(spark, "/root/testdata/sf0.001")
      .groupBy(substring($"o_orderpriority", 1, 1)).count()
      .collect().map(_.getLong(1))
    val n = counts.sum
    val pairs = (n * n - counts.map(c => c * c).sum) / 2
    assert(r.getLong(0) == n && r.getLong(2) == pairs,
      s"e2jt ${r.getLong(2)} != $pairs")
  }

  test("Kruskal-Wallis doubled rank sums add up to the full rank mass N(N+1)") {
    // Σ_g R2_g = 2·Σ ranks = N(N+1) — an identity any correct census
    // ranking must satisfy regardless of the data.
    val r = queries.StatsQueries.kruskalWallis(spark, "/root/testdata/sf0.001")
      .collect().head
    val n = r.getLong(0)
    val r2sum = r.getLong(4) + r.getLong(5) + r.getLong(6)
    assert(r2sum == n * (n + 1), s"rank mass $r2sum != ${n * (n + 1)}")
  }

  /** Brute-force Friedman via doubled average ranks on a b×k matrix:
    * returns (ΣR2j², Σr2², b) for the integer Conover form. */
  private def friedmanParts(m: Seq[Seq[Long]]): (Long, Long, Long) = {
    val k = m.head.size
    val r2 = m.map { row =>
      row.map(v => 2L * row.count(_ < v) + row.count(_ == v) + 1L)
    }
    val r2j = (0 until k).map(j => r2.map(_(j)).sum)
    (r2j.map(r => r * r).sum, r2.flatten.map(r => r * r).sum, m.size.toLong)
  }

  test("Friedman integer form matches the classic chi2_F on a no-ties textbook matrix") {
    // b=4 blocks, k=3 treatments, no ties; classic chi2_F =
    // 12/(b*k*(k+1)) * sum R_j^2 - 3*b*(k+1).
    val m = Seq(Seq(1L, 2L, 3L), Seq(1L, 3L, 2L), Seq(2L, 1L, 3L), Seq(1L, 2L, 3L))
    val (sR2sq, a2, b) = friedmanParts(m)
    val k = 3L
    val tInt = (k - 1).toDouble * (sR2sq - b * b * k * (k + 1) * (k + 1)).toDouble /
      (a2 - b * k * (k + 1) * (k + 1)).toDouble
    val rj = (0 until 3).map(j => m.map { row =>
      row.indices.sortBy(row(_)).indexOf(j) + 1.0
    }.sum)
    val classic = 12.0 / (b * k * (k + 1)) * rj.map(r => r * r).sum - 3.0 * b * (k + 1)
    assert(math.abs(tInt - classic) < 1e-12, s"$tInt != $classic")
  }

  test("Friedman doubled ranks handle within-block ties as average ranks") {
    // block (5,5,2): ranks (2.5, 2.5, 1) -> doubled (5,5,2). The
    // Conover denominator must then differ from the tie-free value.
    val m = Seq(Seq(5L, 5L, 2L), Seq(4L, 6L, 1L))
    val (sR2sq, a2, b) = friedmanParts(m)
    // block1 doubled ranks: 5,5,2; block2: 4,6,2 -> R2 = (9,11,4)
    assert(sR2sq == 81L + 121L + 16L && b == 2L)
    assert(a2 == 25L + 25L + 4L + 16L + 36L + 4L)
  }

  test("Cochran Q integer form matches the textbook column-deviation form") {
    // 6 blocks x 3 treatments of binaries (mixed rows incl. all-1 and
    // all-0 blocks, which must cancel from the denominator).
    val m = Seq(
      Seq(1L, 0L, 0L), Seq(1L, 1L, 0L), Seq(0L, 0L, 0L),
      Seq(1L, 1L, 1L), Seq(1L, 0L, 1L), Seq(1L, 0L, 0L))
    val k = 3L
    val cj = (0 until 3).map(j => m.map(_(j)).sum)
    val ri = m.map(_.sum)
    val nS = ri.sum
    val qInt = (k - 1).toDouble * (k * cj.map(c => c * c).sum - nS * nS).toDouble /
      (k * nS - ri.map(r => r * r).sum).toDouble
    val qText = k * (k - 1).toDouble *
      cj.map(c => (c - nS.toDouble / k) * (c - nS.toDouble / k)).sum /
      (k * nS - ri.map(r => r * r).sum).toDouble
    assert(math.abs(qInt - qText) < 1e-12, s"$qInt != $qText")
  }

  test("Cochran Q fixture invariants: column totals bounded by blocks, N = sum Cj") {
    val r = queries.StatsQueries.cochranQ(spark, "/root/testdata/sf0.001")
      .collect().head
    val b = r.getLong(0); val n = r.getLong(1)
    val cjs = (3 to 7).map(r.getLong)
    assert(cjs.forall(c => c >= 0 && c <= b))
    assert(cjs.sum == n, s"sum Cj ${cjs.sum} != N $n")
  }

  test("Brown-Forsythe census form matches direct ANOVA on |x - median| deviations") {
    // Three small groups with distinct spreads; brute-force the textbook
    // BF statistic and the integer-census form side by side.
    val groups = Seq(
      Seq(1L, 3L, 5L, 7L, 9L),        // spread-y, median 5
      Seq(4L, 5L, 5L, 6L),             // tight, doubled median 10
      Seq(2L, 2L, 8L, 8L, 10L, 10L))   // bimodal, doubled median 16
    // direct: z_ij = |x - med_g| (med as double), one-way ANOVA F on z
    val z = groups.map { g =>
      val s = g.sorted
      val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
      g.map(x => math.abs(x - med))
    }
    val nTot = z.map(_.size).sum.toDouble
    val zTot = z.flatten.sum
    val between = z.map(g => math.pow(g.sum, 2) / g.size).sum - zTot * zTot / nTot
    val within = z.flatten.map(v => v * v).sum - z.map(g => math.pow(g.sum, 2) / g.size).sum
    val fDirect = (between / (groups.size - 1)) / (within / (nTot - groups.size))
    // census form: doubled medians, z2 = |2v - m2|, F from (n, S, Q)
    val parts = groups.map { g =>
      val s = g.sorted
      val m2 = s((s.size - 1) / 2) + s(s.size / 2)
      val z2 = g.map(x => math.abs(2 * x - m2))
      (g.size.toLong, z2.sum, z2.map(v => v * v).sum)
    }
    val ssg = parts.map { case (n, s, _) => s.toDouble * s / n }.sum
    val sTot = parts.map(_._2).sum.toDouble
    val n = parts.map(_._1).sum.toDouble
    val b2 = ssg - sTot * sTot / n
    val w2 = parts.map(_._3).sum - ssg
    val fCensus = (b2 / (groups.size - 1)) / (w2 / (n - groups.size))
    assert(math.abs(fDirect - fCensus) < 1e-12, s"$fDirect != $fCensus")
  }

  test("Durbin-Watson integer residual numerator reproduces exact OLS residuals") {
    // y = 2x + noise; residual numerator R_i / (nD) must equal the
    // double-OLS residual to within quantization.
    val xs = (1L to 8L).toSeq
    val ys = Seq(3L, 5L, 6L, 9L, 11L, 12L, 16L, 17L)
    val n = xs.size.toLong
    val sx = xs.sum; val sxx = xs.map(x => x * x).sum
    val sy = ys.sum; val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val dd = n * sxx - sx * sx
    val bn = n * sxy - sx * sy
    val slope = bn.toDouble / dd
    val icept = (sy - slope * sx) / n
    xs.zip(ys).foreach { case (x, y) =>
      val rNum = n * dd * y - dd * sy + bn * sx - n * bn * x
      val eInt = rNum.toDouble / (n * dd)
      val eOls = y - icept - slope * x
      assert(math.abs(eInt - eOls) < 1e-9, s"x=$x: $eInt != $eOls")
    }
    // DW of an alternating-sign residual series approaches 4; of a
    // slowly-drifting one approaches 0 — sanity-pin the formula ends.
    def dw(e: Seq[Double]) =
      e.sliding(2).map { case Seq(a, b) => (b - a) * (b - a) }.sum / e.map(v => v * v).sum
    assert(dw(Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0)) > 3.0)
    assert(dw(Seq(1.0, 1.1, 1.2, 1.3, 1.4, 1.5)) < 0.1)
  }

  test("Durbin-Watson fixture statistic lies in the admissible (0, 4) band") {
    val r = queries.TimeSeriesQueries.durbinWatson(spark, "/root/testdata/sf0.001")
      .collect().head
    val dw = r.getDouble(5)
    assert(dw > 0.0 && dw < 4.0, s"dw=$dw out of band")
    assert(r.getLong(3) > 0L, "zero residual mass — degenerate fit")
  }

  test("Mantel-Haenszel collapses to the plain odds ratio on identical strata") {
    // Two copies of the same 2x2 table: OR_MH must equal ad/bc of the
    // single table (quantized path within micro-unit tolerance).
    val (a, b, c, d) = (30L, 70L, 15L, 85L)
    val n = a + b + c + d
    def q(x: Long) = x * 1000000L / n // truncating, as the query does
    val orMh = (q(a * d) + q(a * d)).toDouble / (q(b * c) + q(b * c))
    val orPlain = (a * d).toDouble / (b * c)
    assert(math.abs(orMh - orPlain) < 1e-4, s"$orMh != $orPlain")
  }

  test("MH chi-square matches the textbook form on a hand pair of strata") {
    // Unquantized textbook: (|sum a - sum E|)^2 / sum V with
    // E = (a+b)(a+c)/n, V = (a+b)(c+d)(a+c)(b+d)/(n^2(n-1)).
    val strata = Seq((12L, 18L, 8L, 22L), (25L, 25L, 20L, 30L))
    val (sa, se, sv) = strata.foldLeft((0.0, 0.0, 0.0)) {
      case ((xa, xe, xv), (a, b, c, d)) =>
        val n = (a + b + c + d).toDouble
        (xa + a,
          xe + (a + b) * (a + c) / n,
          xv + (a + b).toDouble * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)))
    }
    val chi2Text = (sa - se) * (sa - se) / sv
    // quantized path (micro-units) as the query computes it
    val s = 1000000L
    val (qa, qe, qv) = strata.foldLeft((0L, 0L, 0L)) {
      case ((xa, xe, xv), (a, b, c, d)) =>
        val n = a + b + c + d
        (xa + a,
          xe + (a + b) * (a + c) * s / n,
          xv + (a + b) * (c + d) * (a + c) * (b + d) * s / (n * n * (n - 1)))
    }
    val chi2Q = (qa.toDouble * s - qe) * (qa.toDouble * s - qe) / (s.toDouble * qv)
    assert(math.abs(chi2Text - chi2Q) < 1e-3, s"$chi2Text != $chi2Q")
  }

  test("Fleiss kappa census form matches the per-item agreement definition, and is 1 on unanimity") {
    // 5 items x 3 raters x 3 categories; counts per item sum to 3.
    val items = Seq(Seq(3L, 0L, 0L), Seq(2L, 1L, 0L), Seq(0L, 3L, 0L),
      Seq(1L, 1L, 1L), Seq(0L, 2L, 1L))
    val nI = items.size.toDouble; val nR = 3.0
    // definition: P_i = (sum n_ic^2 - n)/(n(n-1)), Pbar = mean P_i
    val pbarDef = items.map(it => (it.map(v => v * v).sum - nR) / (nR * (nR - 1))).sum / nI
    // census form used by the query
    val s2 = items.map(_.map(v => v * v).sum).sum.toDouble
    val pbarCensus = (s2 - nI * nR) / (nI * nR * (nR - 1))
    assert(math.abs(pbarDef - pbarCensus) < 1e-12)
    val cc = (0 until 3).map(j => items.map(_(j)).sum.toDouble)
    val pe = cc.map(c => (c / (nI * nR)) * (c / (nI * nR))).sum
    val kappa = (pbarCensus - pe) / (1.0 - pe)
    assert(kappa > 0.0 && kappa < 1.0, s"kappa=$kappa")
    // unanimity: every item 3-0-0 somewhere -> Pbar = 1 -> kappa = 1
    val unan = Seq(Seq(3L, 0L, 0L), Seq(0L, 3L, 0L), Seq(0L, 0L, 3L))
    val s2u = unan.map(_.map(v => v * v).sum).sum.toDouble
    val pbarU = (s2u - 3 * nR) / (3 * nR * (nR - 1))
    assert(math.abs(pbarU - 1.0) < 1e-12)
  }

  /** Reference HRU greedy mirroring x337's algebra on literal sizes. */
  private def hruGreedy(sizes: Map[Long, Long], k: Int): Seq[(Long, Long)] = {
    var cost = sizes.keys.map(m => m -> sizes(7L)).toMap
    var picked = Set(7L)
    (1 to k).map { _ =>
      // iterator, not Set.map — a Set would dedupe equal per-descendant
      // benefit terms before the sum
      val best = sizes.keys.toSeq.filterNot(picked).map { v =>
        val ben = sizes.keys.toSeq.filter(w => (w & v) == w)
          .map(w => math.max(0L, cost(w) - sizes(v))).sum
        (v, ben)
      }.sortBy { case (v, ben) => (-ben, v) }.head
      picked += best._1
      cost = cost.map { case (w, c) =>
        w -> (if ((w & best._1) == w) math.min(c, sizes(best._1)) else c)
      }
      best
    }
  }

  test("HRU greedy picks the hand-derived trace incl. the lowest-mask tie-break") {
    // sizes chosen so round 1 TIES views 1 and 3 at benefit 160 — the
    // deterministic tie-break must take mask 1; rounds 2-3 follow.
    val sizes = Map(0L -> 1L, 1L -> 20L, 2L -> 30L, 3L -> 60L,
      4L -> 50L, 5L -> 70L, 6L -> 80L, 7L -> 100L)
    assert(hruGreedy(sizes, 3) == Seq((1L, 160L), (3L, 80L), (5L, 60L)))
  }

  test("x337 fixture trace: total cost drops by exactly the claimed benefit each round") {
    val rows = queries.EngineOpsQueries.viewSelection(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 3)
    // initial total = 8 * |top view|; each greedy round's post-pick total
    // must equal the previous total minus the picked benefit (the HRU
    // benefit IS the total-cost reduction) and benefits must be
    // non-increasing (submodularity).
    val s7 = rows.head.getLong(4) + rows.head.getLong(3) // total1 + benefit1 = 8*s7
    assert(s7 % 8 == 0, s"initial total $s7 not 8*|top|")
    var prevTotal = s7
    var prevBen = Long.MaxValue
    rows.sortBy(_.getLong(0)).foreach { r =>
      val ben = r.getLong(3); val tot = r.getLong(4)
      assert(tot == prevTotal - ben, s"iter ${r.getLong(0)}: $tot != $prevTotal - $ben")
      assert(ben <= prevBen, "greedy benefits must be non-increasing")
      prevTotal = tot; prevBen = ben
    }
  }

  test("x338 advisor invariants: ndv <= runs <= n, best is the argmin under dict<rle<plain ties") {
    val rows = queries.EngineOpsQueries.encodingAdvisor(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, ndv, runs) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ndv <= runs && runs <= n, s"${r.getString(0)}: $ndv <= $runs <= $n violated")
      val (p, d, rl, best) = (r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))
      val expected = if (d <= rl && d <= p) "dict" else if (rl <= p) "rle" else "plain"
      assert(best == expected, s"${r.getString(0)}: best=$best, expected $expected")
      assert(d == Seq(p, d, rl).min || best != "dict" || d <= Seq(p, rl).min)
    }
  }

  /** Reference k-truss peel to fixpoint on canonical (a<b) edges. */
  private def trussRef(edges0: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var e = edges0
    var changed = true
    while (changed) {
      val sup = e.toSeq.flatMap { case (a, b) =>
        e.toSeq.collect { case (x, y) if x == b && e((a, y)) => Seq((a, b), (a, y), (b, y)) }.flatten
      }.groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
      val kept = e.filter(ed => sup.getOrElse(ed, 0L) >= k - 2)
      changed = kept != e
      e = kept
    }
    e
  }

  test("k-truss peels the pendant triangle but keeps K4 (hand graph), matching brute force") {
    // K4 on 1-4 (each edge in 2 triangles) + triangle 4-5-6 (support 1)
    // + pendant edge 6-7 (support 0): the 4-truss is exactly K4.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val g = k4.toSet ++ Set((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    assert(trussRef(g, 4) == k4.toSet)
  }

  test("x339 fixture 4-truss is a true fixed point: every surviving edge has support >= 2") {
    val rows = queries.GraphQueries.kTruss(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) >= 2L),
      s"min support ${rows.map(_.getLong(2)).min} < k-2 — TrussRounds too small for fixture")
  }

  test("densest-subgraph peeling finds the K6 core hidden behind a path (reference trace)") {
    // K6 (15 edges, deg 5) + disjoint 10-node path (9 edges): round 0
    // keeps only nodes with deg*16 >= 3*24=72 -> K6; best density 15/6.
    var edges = (for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)).toSet ++
      (10L until 19L).map(i => (i, i + 1)).toSet
    var trace = Seq.empty[(Long, Long)] // (n, m)
    (0 until 8).foreach { _ =>
      val nodes = edges.flatMap(e => Seq(e._1, e._2))
      if (nodes.nonEmpty) {
        val n = nodes.size.toLong; val m = edges.size.toLong
        trace :+= (n, m)
        val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .map { case (k2, v) => k2 -> v.size.toLong }
        val keep = nodes.filter(nd => deg(nd) * n >= 3 * m)
        edges = edges.filter(e => keep(e._1) && keep(e._2))
      }
    }
    assert(trace == Seq((16L, 24L), (6L, 15L)), s"trace $trace")
    // cross-multiplied argmax: 15*16 vs 24*6 -> round 1 is best
    assert(15L * 16L > 24L * 6L)
  }

  test("x340 fixture: exactly one best round, dens equals m/n on every row") {
    val rows = queries.GraphQueries.densestSubgraph(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.map(_.getLong(4)).sum == 1L, "exactly one best flag expected")
    rows.foreach { r =>
      val expect = math.floor(r.getLong(2).toDouble / r.getLong(1) * 10000 + 0.5) / 10000
      assert(r.getDouble(3) == expect)
    }
  }

  test("Page-Hinkley integer recurrence detects a level shift and stays flat before it") {
    // series: stable at 10, then jumps to 30 — PH must be ~0 through the
    // stable prefix and grow monotonically after the shift.
    val xs = Seq(10L, 10L, 10L, 10L, 30L, 30L, 30L)
    val micro = 1000000L; val delta = 2 * micro
    var s = 0L; var m = 0L; var mn = 0L
    val ph = xs.zipWithIndex.map { case (x, i) =>
      val t = i + 1L
      s += x
      val mbar = s * micro / t // truncating, as the query's DIV
      m += x * micro - mbar - delta
      mn = math.min(mn, m)
      m - mn
    }
    assert(ph.take(4).forall(_ == 0L), s"stable prefix must give PH=0, got ${ph.take(4)}")
    assert(ph(4) > 0L && ph(5) > ph(4) && ph(6) > ph(5), s"post-shift PH must grow: $ph")
    // alarm at lambda = 20 events fires by the end of the shift
    assert(ph.last > 20L * micro)
  }

  test("average precision micro-quantization matches the hand-computed rational") {
    // relevant at ranks 1, 3, 5 with R=3: AP = (1/1 + 2/3 + 3/5)/3.
    val relRanks = Seq((1L, 1L), (3L, 2L), (5L, 3L)) // (rank, cumrel)
    val sumP = relRanks.map { case (rk, cr) => cr * 1000000L / rk }.sum
    assert(sumP == 1000000L + 666666L + 600000L)
    assert(sumP / 3L == 755555L)
    val apExact = (1.0 + 2.0 / 3 + 3.0 / 5) / 3
    assert(math.abs(sumP / 3L / 1e6 - apExact) < 2e-6)
  }

  test("x342 fixture: ap_micro bounded by 1e6 and map_micro is the truncated mean") {
    val rows = queries.RetrievalQueries.mapEval(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
    val expect = rows.map(_.getLong(3)).sum / rows.length
    assert(rows.forall(_.getLong(4) == expect))
  }

  /** Reference Holt-Winters step mirroring x343's integer recurrence. */
  private def hwFold(xs: Seq[Long]): (Long, Long, Array[Long]) = {
    var l = xs.head; var b = 0L; val s = Array.fill(7)(0L)
    (2 to xs.length).foreach { i =>
      val x = xs(i - 1); val idx = (i - 1) % 7
      val lp = l
      l = ((x - s(idx)) + l + b) / 2L
      b = ((l - lp) + b) / 2L
      s(idx) = ((x - l) + s(idx)) / 2L
    }
    (l, b, s)
  }

  test("Holt-Winters integer recurrence: constant series is a fixed point, negatives truncate") {
    val (lc, bc, sc) = hwFold(Seq.fill(10)(100L))
    assert(lc == 100L && bc == 0L && sc.forall(_ == 0L))
    // hand trajectory on (300,200,100): i=2 -> l=250,b=-25,s1=-25;
    // i=3 -> l=162 (325/2 trunc), b=(-113)/2=-56 trunc, s2=-31
    val (l, b, s) = hwFold(Seq(300L, 200L, 100L))
    assert(l == 162L && b == -56L && s(1) == -25L && s(2) == -31L,
      s"got l=$l b=$b s=${s.toSeq}")
  }

  test("Holt-Winters learns a pure period-7 signal into the seasonal slots") {
    // 70 days alternating by weekday slot: high on slot 0, low otherwise.
    val xs = (1 to 70).map(i => if ((i - 1) % 7 == 0) 1000L else 100L)
    val (_, _, s) = hwFold(xs)
    assert(s(0) > s(1) + 100L,
      s"slot 0 seasonal ${s(0)} must sit well above the off-slots ${s.toSeq}")
  }

  test("Witten-Bell probabilities sum to one over the vocabulary (exact rationals)") {
    // train bigrams from 'a b a b a c': histories a->{b,b,c}, b->{a,a}.
    // For v=a: c=3, T=2; unigrams over 6 train tokens.
    val uni = Map("a" -> 3L, "b" -> 2L, "c" -> 1L); val n = 6L
    val cvw = Map("b" -> 2L, "c" -> 1L); val cv = 3L; val tv = 2L
    // exact: sum over FULL vocab of (c(vw)*N + T*c(w)) = cv*N + T*N
    val num = uni.keys.map(w2 => cvw.getOrElse(w2, 0L) * n + tv * uni(w2)).sum
    assert(num == (cv + tv) * n, s"$num != ${(cv + tv) * n}")
    // micro-quantized sum lands within |vocab| micro-units of 1
    val micro = uni.keys.map(w2 =>
      (cvw.getOrElse(w2, 0L) * n + tv * uni(w2)) * 1000000L / (n * (cv + tv))).sum
    assert(micro >= 1000000L - uni.size && micro <= 1000000L)
  }

  test("x344 fixture: every per-doc average probability lies in (0, 1]") {
    val rows = queries.TextQueries.wittenBell(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val avg = r.getDouble(4)
      assert(avg >= 0.0 && avg <= 1.0, s"doc ${r.getLong(0)}: avg_p $avg")
      assert(r.getLong(1) > 0L)
    }
  }

  test("Flesch-Kincaid hand example: 'the cat sat on the mat' pseudo-sentence") {
    // 6 words, 1 pseudo-sentence (ceil(6/10)), vowel groups: e,a,a,o,e,a = 6.
    val w = 6.0; val s = 1.0; val syl = 6.0
    val fk = 0.39 * (w / s) + 11.8 * (syl / w) - 15.59
    assert(math.abs(fk - (0.39 * 6 + 11.8 - 15.59)) < 1e-12)
    // and the vowel-group regex counts GROUPS, not vowels: 'queue' has
    // one contiguous run 'ueue'; 'banana' has three separated 'a's
    assert("[aeiouy]+".r.findAllIn("queue").length == 1)
    assert("[aeiouy]+".r.findAllIn("banana").length == 3)
    assert("[aeiouy]+".r.findAllIn("the cat sat on the mat").length == 6)
  }

  test("Harrell's C is 1 on perfectly anti-ordered risk, 1/2 under ties-only, by formula") {
    // subjects (t, e, score): earlier death always higher score -> all
    // comparable pairs concordant -> C = 1.
    val perfect = Seq((1L, 1L, 30L), (2L, 1L, 20L), (3L, 1L, 10L))
    def cIndex(subj: Seq[(Long, Long, Long)]): Double = {
      val ps = for {
        i <- subj.indices; j <- subj.indices if i < j
        (t1, e1, s1) = subj(i); (t2, e2, s2) = subj(j)
        if t1 != t2
        eEarly = if (t1 < t2) e1 else e2
        if eEarly == 1L
      } yield {
        val sE = if (t1 < t2) s1 else s2; val sL = if (t1 < t2) s2 else s1
        if (sE > sL) 1.0 else if (sE == sL) 0.5 else 0.0
      }
      ps.sum / ps.size
    }
    assert(cIndex(perfect) == 1.0)
    assert(cIndex(Seq((1L, 1L, 5L), (2L, 1L, 5L), (3L, 1L, 5L))) == 0.5)
    // censored-early subjects contribute no pairs from their side
    assert(cIndex(Seq((1L, 0L, 9L), (2L, 1L, 5L), (3L, 1L, 1L))) == 1.0)
  }

  test("x346 fixture: c_micro consistent with the (nc, nt, ncomp) censuses") {
    val r = queries.ExperimentQueries.harrellC(spark, "/root/testdata/sf0.001")
      .collect().head
    val (ncomp, nc, nt) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(ncomp > 0 && nc + nt <= ncomp)
    assert(r.getLong(3) == (2 * nc + nt) * 1000000L / (2 * ncomp))
  }

  test("Croston recurrence: steady demand at a steady cadence reaches its integer fixed point") {
    // demand 40 every 3 weeks: z converges to 40 exactly; p approaches 3
    // FROM BELOW and the truncating update (3+2)/2 = 2 pins it at 2 —
    // the documented downward interval bias of the integer smoother
    // (a true fixed point only when initialized AT the cadence).
    var z = 40L; var p = 1L
    (1 to 12).foreach { _ => z = (40L + z) / 2L; p = (3L + p) / 2L }
    assert(z == 40L && p == 2L, s"z=$z p=$p")
    var pAt = 3L
    (1 to 5).foreach(_ => pAt = (3L + pAt) / 2L)
    assert(pAt == 3L, "initialized at the cadence, p must stay there")
    // truncation on an alternating interval: p walks 1->(5+1)/2=3->(1+3)/2=2
    var p2 = 1L
    Seq(5L, 1L).foreach(a => p2 = (a + p2) / 2L)
    assert(p2 == 2L)
  }

  test("Roaring container choice: run beats bitmap on dense runs, array on sparse, bitmap in between") {
    def choose(n: Long, runs: Long): String = {
      val arrayB = if (n <= 4096) 2 * n + 8 else Long.MaxValue
      val runB = 8 + 4 * runs
      val bitmapB = 8200L
      val best = Seq(arrayB, runB, bitmapB).min
      if (runB == best) "run" else if (arrayB == best) "array" else "bitmap"
    }
    assert(choose(5000, 1) == "run")      // one dense run: 12 bytes
    assert(choose(100, 100) == "array")   // scattered sparse: 208 < 408
    assert(choose(5000, 3000) == "bitmap") // dense but fragmented: 8200 < 12008
  }

  test("x348 fixture: run census bounded by cardinality and best_b is the admissible min") {
    val rows = queries.EngineOpsQueries.roaringSizing(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, runs) = (r.getLong(1), r.getLong(2))
      assert(runs >= 1 && runs <= n)
      val cand = Seq(r.getLong(4), r.getLong(5)) ++
        (if (r.getLong(3) >= 0) Seq(r.getLong(3)) else Nil)
      assert(r.getLong(6) == cand.min)
    }
  }

  test("x349 streaming Page-Hinkley trajectory equals the batch window recomputation") {
    import org.apache.spark.sql.expressions.Window
    val streamed = queries.StreamingQueries
      .streamPageHinkley(spark, "/root/testdata/sf0.001").collect()
    val wc = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .select(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("x"))
      .withColumn("t", row_number().over(Window.orderBy($"day")).cast("long"))
      .withColumn("s", sum($"x").over(wc))
      .withColumn("dev", $"x" * 1000000L - expr("(s * 1000000) DIV t") - 2000000L)
      .withColumn("m_t", sum($"dev").over(wc))
      .withColumn("ph", $"m_t" - min($"m_t").over(wc))
      .select($"day", $"x", $"m_t", $"ph").orderBy($"day").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (sr, br) =>
      assert(sr.getLong(0) == br.getLong(0) && sr.getLong(2) == br.getLong(2) &&
        sr.getLong(3) == br.getLong(3),
        s"day ${sr.getLong(0)}: stream (${sr.getLong(2)},${sr.getLong(3)}) " +
          s"!= batch (${br.getLong(2)},${br.getLong(3)})")
    }
  }

  test("Bloom config table matches (1-e^(-k/b))^k within rounding and is monotone") {
    val cfgs = Seq((8L, 6L, 21577L), (10L, 7L, 8194L), (12L, 8L, 3142L),
      (14L, 10L, 1201L), (16L, 11L, 459L), (20L, 14L, 67L))
    cfgs.foreach { case (b, k, ppm) =>
      val fpp = math.pow(1 - math.exp(-k.toDouble / b), k.toDouble)
      assert(math.abs(fpp * 1e6 - ppm) < 1.0, s"b=$b: ${fpp * 1e6} vs $ppm")
      assert(k == math.round(b * math.log(2)), s"b=$b: k=$k not optimal")
    }
    assert(cfgs.map(_._3) == cfgs.map(_._3).sorted.reverse, "fpp must fall as b grows")
  }

  /** Closed-form AB block score sum, mirroring x351's arithmetic. */
  private def abBlockSum(lo: Long, hi: Long, n: Long): Long = {
    val c = (n + 1) / 2
    val b1 = math.min(hi, c)
    val a2 = math.max(lo, c + 1)
    val s1 = if (b1 >= lo) (b1 * (b1 + 1) - (lo - 1) * lo) / 2 else 0L
    val s2 = if (hi >= a2) (hi - a2 + 1) * (n + 1) - (hi * (hi + 1) - (a2 - 1) * a2) / 2
    else 0L
    s1 + s2
  }

  test("Ansari-Bradley closed-form block sums equal direct min(r, N+1-r) sums") {
    // straddling, left-only, right-only blocks at even and odd N
    for (n <- Seq(7L, 8L, 12L); lo <- 1L to n; hi <- lo to n) {
      val direct = (lo to hi).map(r => math.min(r, n + 1 - r)).sum
      assert(abBlockSum(lo, hi, n) == direct, s"n=$n block [$lo,$hi]")
    }
  }

  test("Ansari-Bradley direction: the tighter group carries the larger score mass") {
    // A tight around the median (middle ranks = high scores), R spread to
    // the extremes (low scores): W_A must exceed its H0 expectation.
    val a = Seq(5L, 5L, 6L, 6L) // middle values
    val r = Seq(1L, 2L, 9L, 10L) // extremes
    val all = (a.map((_, "A")) ++ r.map((_, "R"))).sortBy(_._1)
    val n = all.size.toLong
    val scores = all.zipWithIndex.map { case ((v, g), i) =>
      (g, math.min(i + 1L, n - i)) // no ties in this construction
    }
    val wA = scores.filter(_._1 == "A").map(_._2).sum.toDouble
    val e0 = a.size.toDouble * scores.map(_._2).sum / n
    assert(wA > e0, s"W_A $wA must exceed E0 $e0 for the tight group")
  }

  test("x352 fixture: per-candidate totals add up and exactly one best flag") {
    val rows = queries.EngineOpsQueries.sortOrderAdvisor(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 9)
    val byCand = rows.groupBy(_.getString(0))
    byCand.foreach { case (cand, rs) =>
      assert(rs.map(_.getLong(3)).sum == rs.head.getLong(4),
        s"$cand: rle_b parts must sum to total_b")
    }
    assert(byCand.values.map(_.head.getLong(5)).sum == 1L, "exactly one winner")
    val winner = byCand.values.find(_.head.getLong(5) == 1L).get.head
    assert(byCand.values.forall(_.head.getLong(4) >= winner.getLong(4)))
  }

  /** Reference Hilbert xy->d (Wikipedia's iterative form), order 16. */
  private def hilbertRef(x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 8L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("SQL Hilbert chain equals the reference transform and is a unit-step bijection") {
    val grid = spark.range(256).selectExpr("CAST(id % 16 AS BIGINT) AS cx",
      "CAST(id DIV 16 AS BIGINT) AS cy")
    val indexed = queries.EngineOpsQueries.hilbertSqlSteps("cx", "cy")
      .foldLeft(grid.toDF()) { (df, s) => df.selectExpr("*", s) }
      .selectExpr("CAST(cx AS BIGINT) AS cx", "CAST(cy AS BIGINT) AS cy",
        "CAST(hd4 AS BIGINT) AS hidx",
        s"CAST(${queries.EngineOpsQueries.zorderSql("cx", "cy")} AS BIGINT) AS zidx")
      .collect()
    val byD = indexed.map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1))).toMap
    assert(byD.size == 256, "Hilbert index must be a bijection on the grid")
    indexed.foreach { r =>
      assert(r.getLong(2) == hilbertRef(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)},${r.getLong(1)}): SQL ${r.getLong(2)}")
    }
    // THE defining property: consecutive Hilbert positions are grid
    // neighbors (manhattan distance exactly 1) — Z-order violates this
    (0L until 255L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1L, s"jump at d=$d")
    }
    // and the z-order index is the bit interleave
    indexed.foreach { r =>
      val (x, y) = (r.getLong(0), r.getLong(1))
      val z = (0 until 4).map { b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
      }.sum
      assert(r.getLong(3) == z)
    }
  }

  test("Somers' D is 1 on a strictly monotone census and 0 under X-independence") {
    def somers(cells: Seq[(Long, Long, Long)]): Double = {
      // every term keyed on x1 < x2 so pairs count ONCE — the symmetric
      // x1 != x2 tie predicate double-counted T_Y (r13 review catch)
      var (c, d, ty) = (0L, 0L, 0L)
      for ((x1, y1, n1) <- cells; (x2, y2, n2) <- cells if x1 < x2) {
        if (y1 < y2) c += n1 * n2
        else if (y1 > y2) d += n1 * n2
        else ty += n1 * n2
      }
      (c - d).toDouble / (c + d + ty)
    }
    assert(somers(Seq((1L, 1L, 3L), (2L, 2L, 2L), (3L, 3L, 5L))) == 1.0)
    // X carries no information about Y: counts factorize -> D = 0
    val indep = for (x <- 1L to 3L; y <- 1L to 2L) yield (x, y, 4L)
    assert(math.abs(somers(indep)) < 1e-12)
    // the review counterexample where the double-counted tie term showed:
    // cells (1,1),(2,1),(2,2): C=1 ((1,1)<(2,2)), D=0, T_Y=1 ((1,1)~(2,1))
    // -> D_yx = 1/2, NOT 1/3
    assert(somers(Seq((1L, 1L, 1L), (2L, 1L, 1L), (2L, 2L, 1L))) == 0.5)
  }

  /** Driver-side Kruskal with union-find, keyed on the distinct cost. */
  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.sortBy(_._3).flatMap { case (a, b, d) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; Some((a, b)) } else None
    }.toSet
  }

  test("x355 Boruvka MST equals a driver-side Kruskal on the same fixture edges (3rd algorithm)") {
    // The oracle already proves Boruvka(Spark) == Prim(DuckDB); this adds
    // Kruskal as an independent third derivation, all meeting at the
    // UNIQUE MST the distinct perturbed costs guarantee.
    val edges = queries.GraphQueries.tradeWeighted(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val got = queries.GraphQueries.mstBoruvka(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == kruskal(edges.toSeq), "Boruvka and Kruskal disagree")
    assert(got.size == nodes.length - 1,
      s"${got.size} tree edges for ${nodes.length} nodes — graph not spanned")
  }

  test("x356 fixture invariants: above-cells bounded by group totals, groups partition N") {
    val r = queries.StatsQueries.moodsMedian(spark, "/root/testdata/sf0.001")
      .collect().head
    val nn = r.getLong(0)
    val (aab, nab, rab) = (r.getLong(2), r.getLong(3), r.getLong(4))
    val (at, nt, rt) = (r.getLong(5), r.getLong(6), r.getLong(7))
    assert(aab <= at && nab <= nt && rab <= rt)
    assert(at + nt + rt == nn)
    // the doubled global median bisects: at most half the mass strictly above
    assert(2 * (aab + nab + rab) <= nn + 1)
  }

  test("partial correlation equals the correlation of OLS residuals (hand data)") {
    // x and y both load on z plus independent parts; the formula
    // (rxy - rxz*ryz)/sqrt((1-rxz^2)(1-ryz^2)) must equal corr of the
    // residuals from regressing x on z and y on z.
    val z = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val x = Seq(2.1, 3.9, 6.2, 8.0, 9.8, 12.1) // ~2z + noise
    val y = Seq(0.9, 2.2, 2.8, 4.3, 4.9, 6.2)  // ~z + noise
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.size
      val (sa, sb) = (a.sum, b.sum)
      val sab = a.zip(b).map { case (p, q) => p * q }.sum
      val (saa, sbb) = (a.map(v => v * v).sum, b.map(v => v * v).sum)
      (n * sab - sa * sb) / math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    }
    def resid(a: Seq[Double]): Seq[Double] = {
      val n = a.size
      val slope = (n * a.zip(z).map { case (p, q) => p * q }.sum - a.sum * z.sum) /
        (n * z.map(v => v * v).sum - z.sum * z.sum)
      val icept = (a.sum - slope * z.sum) / n
      a.zip(z).map { case (p, q) => p - icept - slope * q }
    }
    val (rxy, rxz, ryz) = (corr(x, y), corr(x, z), corr(y, z))
    val formula = (rxy - rxz * ryz) / math.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    val residual = corr(resid(x), resid(y))
    assert(math.abs(formula - residual) < 1e-12, s"$formula != $residual")
  }

  test("Nelson-Aalen hand example and fixture monotonicity") {
    // spans (1,1,2), events (1,1,0): at t=1 two events with three at
    // risk -> increment floor(2e6/3) = 666666; t=2 has no event row.
    assert(2L * 1000000L / 3L == 666666L)
    val rows = queries.ExperimentQueries.nelsonAalen(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    var (prevRisk, prevCum) = (Long.MaxValue, 0L)
    var cum = 0L
    rows.foreach { r =>
      assert(r.getLong(2) <= prevRisk, "at-risk counts must not increase")
      cum += r.getLong(3)
      assert(r.getLong(4) == cum, "h_cum must be the prefix sum of h_inc")
      prevRisk = r.getLong(2); prevCum = r.getLong(4)
    }
  }

  test("capstone-v8 readability gate is a real filter and every v8 doc passes it") {
    val dir = "/root/testdata/sf0.001"
    val readKeep = queries.PipelineQueries.readabilityKeepIds(spark, dir)
    val total = Tables.documents(spark, dir).count()
    val kept = readKeep.count()
    assert(kept > 0 && kept < total,
      s"FK band keeps $kept of $total — a no-op or kill-all gate is miscalibrated")
    val v8 = queries.PipelineQueries.trainingCorpusV8(spark, dir).select("doc_id")
    assert(v8.count() > 0, "v8 must still pack a nonempty corpus")
    val outside = v8.join(readKeep, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0))
    assert(outside.isEmpty,
      s"v8 packed docs the readability gate drops: ${outside.take(10).mkString(", ")}")
  }
}
