package graft

import graft.operators.Etl
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.3): dedup idempotence,
  * incremental-vs-bulk equivalence under arbitrary page splits with
  * arbitrary boundary overlaps, and content-hash stability. Uses raw
  * ScalaCheck generators with fixed seeds (the scalatest-scalacheck bridge
  * artifact isn't in the offline cache). */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val rowsGen: Gen[List[(String, Int)]] =
    Gen.listOfN(60, Gen.zip(Gen.oneOf((1 to 25).map(i => s"h$i")), Gen.choose(0, 9)))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("property: dedup is idempotent — dedup(dedup(x)) == dedup(x)") {
    (1L to 8L).foreach { seed =>
      val rows = sample(rowsGen, seed)
      val df = rows.toDF("hash", "v")
      val once = Etl.dedupByHash(df, "hash", Seq("v"))
      val twice = Etl.dedupByHash(once, "hash", Seq("v"))
      assert(once.except(twice).count() == 0 && twice.except(once).count() == 0,
        s"seed=$seed")
    }
  }

  test("property: bulk == incremental for any page split with overlap re-fetch") {
    (1L to 6L).foreach { seed =>
      val rows = sample(rowsGen, seed).distinct
      val pageSize = 5 + (seed % 7).toInt
      val overlap = (seed % 4).toInt
      val bulk = Etl.dedupByHash(rows.toDF("hash", "v"), "hash", Seq("v"))
      val pages = rows.grouped(pageSize).toList
      val incremental = pages.zipWithIndex.foldLeft(Seq.empty[(String, Int)].toDF("hash", "v")) {
        case (sink, (page, i)) =>
          // S1 semantics: re-fetch up to `overlap` rows of the previous
          // page's tail before this page; dedup swallows the replay.
          // localCheckpoint truncates lineage — mergeIncremental references
          // `sink` twice, so an unbroken fold grows the plan exponentially.
          val tail = if (i == 0) Nil else pages(i - 1).takeRight(overlap)
          Etl.mergeIncremental(sink,
            Etl.dedupByHash((tail ++ page).toDF("hash", "v"), "hash", Seq("v")))
            .localCheckpoint(true)
      }
      assert(bulk.select("hash").except(incremental.select("hash")).count() == 0, s"seed=$seed")
      assert(incremental.select("hash").except(bulk.select("hash")).count() == 0, s"seed=$seed")
    }
  }

  test("property: native expressions == their declarative equivalents on random text") {
    import org.apache.spark.sql.functions._
    // mixed-script text: ASCII words, digits, punctuation, CJK runs
    val tokenGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.listOfN(3, Gen.choose(0x4e00, 0x4eff)).map(_.map(_.toChar).mkString),
      Gen.const(""), Gen.const("the"), Gen.const("a?b"))
    val textGen = Gen.listOfN(8, tokenGen).map(_.mkString(" "))
    (1L to 10L).foreach { seed =>
      val texts = sample(Gen.listOfN(20, textGen), seed)
      val df = texts.toDF("text").repartition(3) // defeat LocalRelation folding
      // token_shingles / sorted_token_set / token_ngrams vs declarative forms
      val stop = graft.operators.TextAnalysis.StopwordsEn
      val toks = split($"text", " ")
      val rows = df.select(
        call_function("sorted_token_set", $"text").as("n_set"),
        array_sort(array_distinct(toks)).as("d_set"),
        call_function("token_ngrams", $"text", lit(2)).as("n_bg"),
        when(size(toks) >= 2, transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
          .otherwise(array().cast("array<string>")).as("d_bg"),
        call_function("kgram_min_md5", $"text", lit(5)).as("n_fp"),
        array_min(transform(sequence(lit(1), greatest(length($"text") - 4, lit(1))),
          i => md5(substr($"text", i, lit(5))))).as("d_fp"),
        call_function("stop_strip", $"text", array(stop.map(lit): _*)).as("n_ss"),
        struct(
          array_join(filter(split(trim(regexp_replace(lower($"text"), lit("[^a-z0-9 ]"), lit(""))), " "),
            t => !t.isInCollection(stop) && t =!= ""), " ").as("clean_text"),
          size(filter(split(trim(regexp_replace(lower($"text"), lit("[^a-z0-9 ]"), lit(""))), " "),
            t => t.isInCollection(stop))).as("n_stop")).as("d_ss"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"sorted_token_set seed=$seed")
        assert(r.getSeq[String](2) == r.getSeq[String](3), s"token_ngrams seed=$seed")
        assert(r.getString(4) == r.getString(5), s"kgram_min_md5 seed=$seed")
        assert(r.getStruct(6) == r.getStruct(7), s"stop_strip seed=$seed")
      }
      // charNgramLongs intersection counts == string-gram intersection counts
      val pairs = texts.zip(texts.reverse).toDF("a", "b").repartition(3)
      val cnt = pairs.select(
        call_function("sorted_long_intersect_count",
          graft.operators.TextAnalysis.charNgramLongs($"a", 3),
          graft.operators.TextAnalysis.charNgramLongs($"b", 3)).as("n"),
        size(array_intersect(
          ReferenceImpls.charNgrams($"a", 3),
          ReferenceImpls.charNgrams($"b", 3))).as("d"))
        .as[(Int, Int)].collect()
      cnt.foreach { case (n, d) => assert(n == d, s"charNgramLongs seed=$seed") }
    }
  }

  test("property: distributed packing == sequential reference for arbitrary token counts") {
    (1L to 6L).foreach { seed =>
      val rows = sample(Gen.listOfN(80,
        Gen.zip(Gen.choose(0L, 500L), Gen.choose(0L, 3L), Gen.choose(1, 40))), seed)
        .distinctBy(_._1) // unique doc_ids: the pack order must be total
      val got = graft.queries.PipelineQueries
        .withPacking(rows.toDF("doc_id", "shard", "n_tok").repartition(5))
        .select($"doc_id", $"cum_before", $"seq_id", $"seq_off")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      // sequential reference: per shard in doc_id order, a running total
      val budget = 512L
      val expected = rows.groupBy(_._2).flatMap { case (_, docs) =>
        docs.sortBy(_._1).scanLeft((-1L, 0L)) { case ((_, cum), (id, _, n)) =>
          (id, cum + n)
        }.sliding(2).map { case Seq((_, before), (id, _)) =>
          id -> ((before, before / budget, before % budget))
        }
      }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("property: contentHash is 16 lowercase hex, collision-free on distinct small sets") {
    (1L to 8L).foreach { seed =>
      val strs = sample(Gen.listOfN(30, Gen.alphaNumStr.map(_.take(12))), seed).distinct
      val hs = strs.toDF("s")
        .select($"s", Etl.contentHash($"s").as("h"))
        .as[(String, String)].collect()
      assert(hs.forall(_._2.matches("[0-9a-f]{16}")), s"seed=$seed")
      assert(hs.map(_._2).distinct.length == strs.length, s"seed=$seed")
    }
  }

  test("property: chunkDedup == sequential first-occurrence reference on random corpora") {
    import org.apache.spark.sql.functions._
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd") // tiny vocab -> many chunk collisions
    val docGen = Gen.choose(1, 70).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.listOfN(40, docGen)
    (1L to 4L).foreach { seed =>
      val texts = sample(corpusGen, seed)
      val dir = tmpDir(s"cd$seed")
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.queries.TrainingQueries.chunkDedup(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
      // Sequential reference: walk docs in id order, chunk in 16-token
      // blocks, keep a chunk iff its text was never seen before.
      val seen = scala.collection.mutable.Set[String]()
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split(" ")
        val chunks = toks.grouped(16).map(_.mkString(" ")).toSeq
        val kept = chunks.filter { c => if (seen.contains(c)) false else { seen.add(c); true } }
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(kept.mkString(" ").getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        assert(out(i.toLong) == ((chunks.length, kept.length, hex)),
          s"seed=$seed doc=$i: got ${out(i.toLong)}, want (${chunks.length}, ${kept.length}, $hex)")
      }
    }
  }

  test("property: prefix-filter set join == quadratic reference (exact, no lost pairs)") {
    import org.apache.spark.sql.functions.{col, array_sort, array_distinct}
    // random small-alphabet element sets: heavy overlap AND disjoint pairs
    val setGen: Gen[List[List[String]]] =
      Gen.listOfN(30, Gen.chooseNum(2, 12).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf((1 to 20).map(i => s"e$i")))))
    (1L to 5L).foreach { seed =>
      val sets = sample(setGen, seed).map(_.distinct.sorted)
      val base = sets.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "sh")
        .select(col("doc_id"), array_sort(array_distinct(col("sh"))).as("sh"))
      val got = queries.DedupQueries.setJoinPrefixOn(base)
        .select($"a", $"b").as[(Long, Long)].collect().toSet
      val want = (for {
        (sa, i) <- sets.zipWithIndex
        (sb, j) <- sets.zipWithIndex
        if i < j
        o = sa.toSet.intersect(sb.toSet).size
        if 3 * o >= sa.size + sb.size
      } yield (i.toLong, j.toLong)).toSet
      assert(got == want, s"seed=$seed: prefix join lost or invented pairs")
    }
  }

  test("property: SCD2 incremental apply == full rebuild for any time-boundary split") {
    import graft.operators.Scd
    import org.apache.spark.sql.functions.timestamp_seconds
    // (user, sec, event_id, type): few users, few types -> lots of repeats
    // (versions collapse) AND changes; event_ids unique and shuffled so
    // same-second ties exercise the (ts, event_id) ordering.
    val evGen: Gen[List[(Long, Long, String)]] =
      Gen.listOfN(80, Gen.zip(Gen.choose(1L, 5L), Gen.choose(0L, 400L),
        Gen.oneOf("a", "b", "c")))
    (1L to 6L).foreach { seed =>
      val rows = sample(evGen, seed).zipWithIndex
        .map { case ((u, s, t), i) => (u, s, i.toLong, t) }
      def df(xs: Seq[(Long, Long, Long, String)]) =
        xs.toDF("user_id", "sec", "event_id", "event_type")
          .select($"user_id", timestamp_seconds($"sec").cast("timestamp_ntz").as("ts"),
            $"event_id", $"event_type")
      // split at the median second: h2 strictly later than every h1 row,
      // so the batch is append-only per user. Also exercises brand-new
      // users (users whose events are all in h2).
      val cut = rows.map(_._2).sorted.apply(rows.size / 2)
      val h1 = rows.filter(_._2 <= cut)
      val h2 = rows.filter(_._2 > cut)
      val full = Scd.scd2Build(df(rows))
      val merged = Scd.scd2Apply(Scd.scd2Build(df(h1)), df(h2))
      assert(full.except(merged).count() == 0 && merged.except(full).count() == 0,
        s"seed=$seed: apply(build(h1), h2) != build(all)")
      // no-op batch: applying an empty batch returns the dim unchanged
      val noop = Scd.scd2Apply(full, df(Nil))
      assert(full.except(noop).count() == 0 && noop.except(full).count() == 0,
        s"seed=$seed: empty-batch apply changed the dimension")
    }
  }

  test("property: Mann-Whitney U (rank-sum identity) == brute-force pair counting") {
    import graft.queries.StatsQueries
    val gen: Gen[List[(String, String, Long)]] =
      Gen.listOfN(50, Gen.zip(Gen.oneOf("A", "B"), Gen.oneOf("O", "F"),
        Gen.choose(0L, 5L))) // tiny value domain => heavy ties
    (1L to 6L).foreach { seed =>
      val rows = sample(gen, seed)
      // keep only groups where both samples are present (the query's
      // fixture shape; U is undefined otherwise)
      val ok = rows.groupBy(_._1).filter { case (_, rs) =>
        rs.exists(_._2 == "O") && rs.exists(_._2 == "F")
      }.keySet
      val kept = rows.filter(r => ok(r._1))
      if (kept.nonEmpty) {
        val got = StatsQueries.mannWhitneyStat(kept.toDF("grp", "s", "y"))
          .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
        val ref = ok.map { g =>
          val o = kept.filter(r => r._1 == g && r._2 == "O").map(_._3)
          val f = kept.filter(r => r._1 == g && r._2 == "F").map(_._3)
          val w = o.map(a => f.count(_ < a)).sum
          val t = o.map(a => f.count(_ == a)).sum
          g -> (2L * w + t)
        }.toMap
        assert(got == ref, s"seed=$seed got=$got ref=$ref")
      }
    }
  }

  test("property: KS windowed ECDF-gap maximum == brute-force per-value scan") {
    import graft.queries.StatsQueries
    val gen: Gen[List[(String, String, Long)]] =
      Gen.listOfN(50, Gen.zip(Gen.oneOf("A", "B"), Gen.oneOf("O", "F"),
        Gen.choose(0L, 9L)))
    (1L to 6L).foreach { seed =>
      val rows = sample(gen, seed)
      val ok = rows.groupBy(_._1).filter { case (_, rs) =>
        rs.exists(_._2 == "O") && rs.exists(_._2 == "F")
      }.keySet
      val kept = rows.filter(r => ok(r._1))
      if (kept.nonEmpty) {
        val got = StatsQueries.ksStat(kept.toDF("grp", "s", "y"))
          .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
        val ref = ok.map { g =>
          val o = kept.filter(r => r._1 == g && r._2 == "O").map(_._3)
          val f = kept.filter(r => r._1 == g && r._2 == "F").map(_._3)
          val ys = (o ++ f).distinct
          g -> ys.map(y =>
            math.abs(f.size.toLong * o.count(_ <= y) -
              o.size.toLong * f.count(_ <= y))).max
        }.toMap
        assert(got == ref, s"seed=$seed got=$got ref=$ref")
      }
    }
  }

  test("property: sssp == sequential Bellman-Ford reference on random graphs") {
    import graft.operators.Graph
    val edgeGen: Gen[List[(Long, Long, Long)]] =
      Gen.listOfN(40, Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L),
        Gen.choose(1L, 9L))).map(_.filter(e => e._1 != e._2))
    (1L to 6L).foreach { seed =>
      val edges = sample(edgeGen, seed)
      // sequential reference: textbook Bellman-Ford over the edge list
      val ref = scala.collection.mutable.Map(0L -> 0L)
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (u, v, w) =>
          ref.get(u).foreach { du =>
            if (ref.get(v).forall(_ > du + w)) { ref(v) = du + w; changed = true }
          }
        }
      }
      val got = Graph.sssp(Seq(0L).toDF("node"),
        edges.toDF("src", "dst", "w")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref.toMap, s"seed=$seed")
    }
  }

  test("property: AUC doubled pair statistic == brute-force quadratic count") {
    import graft.queries.CurationQueries
    val gen: Gen[List[(Long, Long)]] =
      Gen.listOfN(60, Gen.zip(Gen.oneOf(0L, 1L), Gen.choose(0L, 7L)))
    (1L to 6L).foreach { seed =>
      val rows = sample(gen, seed)
      if (rows.exists(_._1 == 1L) && rows.exists(_._1 == 0L)) {
        val r = CurationQueries.aucCore(rows.toDF("pos", "s")).collect().head
        val pos = rows.filter(_._1 == 1L).map(_._2)
        val neg = rows.filter(_._1 == 0L).map(_._2)
        val refU2 = pos.map(p =>
          2L * neg.count(_ < p) + neg.count(_ == p)).sum
        assert(r.getLong(0) == pos.size.toLong, s"seed=$seed n_pos")
        assert(r.getLong(1) == neg.size.toLong, s"seed=$seed n_neg")
        assert(r.getLong(2) == refU2, s"seed=$seed u2=${r.getLong(2)} ref=$refU2")
      }
    }
  }

  test("property: runs statistic == sequential median-exclude-and-scan reference") {
    import graft.queries.StatsQueries
    val gen: Gen[List[Long]] = Gen.listOfN(40, Gen.choose(0L, 6L))
    (1L to 6L).foreach { seed =>
      val ys = sample(gen, seed)
      val daily = ys.zipWithIndex.map { case (y, i) => (i.toLong, y) }
      // sequential reference: lower median by (y, di) order, exclude
      // ties with it, count maximal sign runs in di order
      val m = daily.sortBy(d => (d._2, d._1)).apply((daily.size + 1) / 2 - 1)._2
      val signs = daily.filter(_._2 != m).map(d => d._2 > m)
      val refRuns =
        if (signs.isEmpty) 0L
        else 1L + signs.sliding(2).count(p => p.size == 2 && p(0) != p(1))
      val r = StatsQueries.runsCore(daily.toDF("di", "y")).collect().head
      if (signs.isEmpty) assert(r.isNullAt(0) || r.getLong(0) == 0L)
      else {
        assert(r.getLong(0) == refRuns, s"seed=$seed runs")
        assert(r.getLong(1) == signs.count(identity).toLong, s"seed=$seed n1")
        assert(r.getLong(2) == signs.count(s => !s).toLong, s"seed=$seed n2")
      }
    }
  }

  test("property: CDC chunks reassemble to the text; boundaries are content-defined") {
    import graft.operators.Cdc
    import org.apache.spark.sql.functions._
    val textGen = Gen.listOfN(300, Gen.alphaLowerChar).map(_.mkString)
    (1L to 6L).foreach { seed =>
      val t = sample(textGen, seed)
      val df = Seq(t).toDF("text")
        .withColumn("len", length($"text"))
        .withColumn("starts", Cdc.chunkStarts("text", "len"))
        .withColumn("chunks", Cdc.chunkTexts("text", "starts", "len"))
      val row = df.select(concat_ws("", $"chunks"), $"starts").head()
      // (a) reassembly identity: chunks partition the text exactly
      assert(row.getString(0) == t, s"seed=$seed reassembly")
      // (b) starts are 1-based, strictly ascending, within bounds
      val starts = row.getSeq[Int](1)
      assert(starts.head == 1 && starts == starts.sorted && starts.distinct == starts)
      assert(starts.forall(s => s >= 1 && s <= t.length))
    }
  }

  test("property: CDC chunking is shift-robust where fixed-width chunking is not") {
    import graft.operators.Cdc
    import org.apache.spark.sql.functions._
    // a prefix insertion shifts every character; content-defined boundaries
    // re-synchronize after the edit, fixed-width boundaries never do
    val textGen = Gen.listOfN(800, Gen.alphaLowerChar).map(_.mkString)
    var cdcShared = 0L; var cdcTotal = 0L; var fixShared = 0L; var fixTotal = 0L
    (1L to 4L).foreach { seed =>
      val t = sample(textGen, seed)
      val shifted = "INSERTED-PREFIX-" + t
      def chunksOf(s: String): (Seq[String], Seq[String]) = {
        val r = Seq(s).toDF("text")
          .withColumn("len", length($"text"))
          .withColumn("starts", Cdc.chunkStarts("text", "len"))
          .select(Cdc.chunkTexts("text", "starts", "len").as("cdc"),
            ReferenceImpls.fixedChunkTexts("text", "len").as("fix"))
          .head()
        (r.getSeq[String](0), r.getSeq[String](1))
      }
      val (cdcA, fixA) = chunksOf(t)
      val (cdcB, fixB) = chunksOf(shifted)
      cdcShared += cdcA.toSet.intersect(cdcB.toSet).size; cdcTotal += cdcA.size
      fixShared += fixA.toSet.intersect(fixB.toSet).size; fixTotal += fixA.size
    }
    // content-defined: most of the original's chunks survive the shift
    assert(cdcShared * 2 > cdcTotal,
      s"CDC shared only $cdcShared of $cdcTotal chunks after a prefix edit")
    // fixed-width: essentially none survive (every boundary re-aligned)
    assert(fixShared * 10 < fixTotal + 10,
      s"fixed-width unexpectedly shared $fixShared of $fixTotal")
  }

  test("property: bin packing == sequential greedy fold, partitions independent") {
    import graft.queries.EngineOpsQueries
    val gen: Gen[List[(String, Long, Long)]] =
      Gen.listOfN(40, Gen.zip(Gen.oneOf("A", "B"), Gen.choose(0L, 30L),
        Gen.choose(1L, 12L)))
    val target = 10L
    (1L to 6L).foreach { seed =>
      // one row per (part, file_id): keep the first size generated
      val files = sample(gen, seed)
        .groupBy(f => (f._1, f._2)).map(_._2.head).toList
      val got = EngineOpsQueries.binPack(files.toDF("part", "file_id", "f_rows"),
          target).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
      val ref = files.groupBy(_._1).flatMap { case (part, fs) =>
        var cum = 0L
        fs.sortBy(_._2).map { case (_, fid, rows) =>
          val bin = cum / target; cum += rows; (part, fid) -> bin
        }
      }.toMap
      assert(got == ref, s"seed=$seed")
    }
  }

  test("property: KMV sketch of a union == truncated union of the sketches") {
    // the mergeability x141 relies on: kmv_k(A ∪ B) is exactly the k
    // smallest of kmv_k(A) ∪ kmv_k(B) — so per-partition sketches merge
    // with zero estimate drift (unlike HLL's estimator, q96)
    val k = 16
    def md48(v: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 12)
      java.lang.Long.parseLong(hex, 16)
    }
    def kmv(vs: Set[Long]): Seq[Long] = vs.toSeq.map(md48).distinct.sorted.take(k)
    (1L to 8L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val a = Set.fill(60)(rnd.nextLong(500))
      val b = Set.fill(60)(rnd.nextLong(500))
      val direct = kmv(a ++ b)
      val merged = (kmv(a) ++ kmv(b)).distinct.sorted.take(k)
      assert(direct == merged, s"seed=$seed")
    }
  }

  test("property: x149 Kneser-Ney bigram probabilities sum to 1 per context") {
    // interpolated KN with D over seen successors: sum_w2 P(w2|w1) =
    // 1 - D·N1+(w1,·)/c(w1·) · (1 - sum_seen Pcont) ... for contexts whose
    // successors cover the continuation mass this is exactly <= 1; verify
    // numerically on a toy corpus that every context's seen-successor
    // mass + reserved backoff mass for UNSEEN continuations equals 1.
    val corpus = Seq("a b a b a c", "b a b c a a")
    val bigrams = corpus.flatMap(_.split(" ").sliding(2).map(w => (w(0), w(1))))
    val c = bigrams.groupBy(identity).map { case (kk, v) => kk -> v.size.toLong }
    val cw1 = c.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val n1r = c.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val n1l = c.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val bt = c.size.toLong
    val d = 0.75
    val vocab = n1l.keySet ++ cw1.keySet
    cw1.keys.foreach { w1 =>
      // full interpolated-KN mass over the WHOLE vocab (seen + unseen w2)
      val total = vocab.toSeq.map { w2 =>
        val cnt = c.getOrElse((w1, w2), 0L).toDouble
        math.max(cnt - d, 0.0) / cw1(w1) +
          d * (n1r(w1).toDouble / cw1(w1)) * (n1l.getOrElse(w2, 0L).toDouble / bt)
      }.sum
      // sums to 1 iff Pcont is a proper distribution over the vocab;
      // with Pcont = N1+(·,w2)/B it is (sum of n1l == bt), so total == 1
      assert(math.abs(total - 1.0) < 1e-12, s"w1=$w1 total=$total")
    }
  }

  test("property: q100 join-IVM maintain == recompute for arbitrary splits") {
    // A = (k, a), B = (k, b); any insert-only split of A and B into
    // (base, delta) must satisfy mergeJoinState(A0⋈B0, ...) == A⋈B as a
    // bag. Keys overlap heavily so every delta term is exercised.
    (1L to 6L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val aRows = (0 until 40).map(i => (rnd.nextInt(12), s"a$i"))
      val bRows = (0 until 15).map(i => (rnd.nextInt(12), s"b$i"))
      val aSplit = rnd.nextInt(41)
      val bSplit = rnd.nextInt(16)
      val (a0r, dAr) = aRows.splitAt(aSplit)
      val (b0r, dBr) = bRows.splitAt(bSplit)
      val (a0, dA) = (a0r.toDF("k", "a"), dAr.toDF("k", "a"))
      val (b0, dB) = (b0r.toDF("k", "b"), dBr.toDF("k", "b"))
      val j0 = a0.join(b0, "k")
      val maintained = graft.sinks.Sinks.mergeJoinState(j0, a0, b0, dA, dB, "k")
      val recomputed = aRows.toDF("k", "a").join(bRows.toDF("k", "b"), "k")
      // bag equality via sorted collect (exceptAll both ways also works,
      // but tiny frames make the direct compare clearest)
      val m = maintained.collect().map(_.toSeq).sortBy(_.mkString("|"))
      val r = recomputed.collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(m.toSeq == r.toSeq, s"seed=$seed split=($aSplit,$bSplit)")
    }
  }

  test("property: x174 isqrt correction yields exact floor-sqrt near boundaries") {
    // The ±1-corrected IEEE sqrt must equal BigInt floor-sqrt for values
    // AROUND perfect squares and fourth powers (where double rounding
    // can misplace floor(sqrt)) and for random draws up to 2^52.
    val rnd = new scala.util.Random(7)
    val nearSquares = (1L to 200L).flatMap { i =>
      val s = i * i * 1000000L + rnd.nextLong(2000000L)
      Seq(s - 1, s, s + 1)
    }
    val fourth = (1L to 50L).flatMap { i => val f = i * i * i * i; Seq(f - 1, f, f + 1) }
    val randoms = Seq.fill(200)(math.abs(rnd.nextLong()) % (1L << 52))
    val xs = (nearSquares ++ fourth ++ randoms).filter(_ >= 0).distinct
    val df = xs.toDF("x").selectExpr("x",
      // the exact Column expression x174 uses, inlined via SQL
      """CASE WHEN (CASE WHEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
        |               * CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) > x
        |          THEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) - 1
        |          ELSE CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) END + 1)
        |        * (CASE WHEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
        |               * CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) > x
        |          THEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) - 1
        |          ELSE CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) END + 1) <= x
        |     THEN (CASE WHEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
        |               * CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) > x
        |          THEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) - 1
        |          ELSE CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) END) + 1
        |     ELSE (CASE WHEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
        |               * CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) > x
        |          THEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) - 1
        |          ELSE CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) END) END AS s""".stripMargin)
    df.collect().foreach { r =>
      val x = r.getLong(0); val s = r.getLong(1)
      val expect = BigInt(x).bigInteger.sqrt().longValueExact()
      assert(s == expect, s"x=$x got=$s want=$expect")
    }
  }

  test("property: x176 ICT context + held-out chunk reassemble the document") {
    // query chunk re-inserted at its index must reproduce the original
    // chunk sequence exactly — the slice arithmetic has off-by-one traps.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val w = 24
    val chunks = docs.filter(size(split($"text", " ")) >= w * 2)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id",
        transform(sequence(lit(0), floor((size($"toks") - 1) / lit(w)).cast("int")),
          i => array_join(slice($"toks", i * w + 1, lit(w)), " ")).as("ch"))
      .select($"doc_id", $"ch",
        (conv(substring(md5(concat(lit("ict|"), $"doc_id")), 1, 4), 16, 10)
          .cast("long") % size($"ch")).cast("int").as("qi"))
    val bad = chunks.select($"doc_id",
        (concat(
          slice($"ch", lit(1), $"qi"),
          array(element_at($"ch", $"qi" + 1)),
          slice($"ch", $"qi" + 2, size($"ch") - $"qi" - 1)) === $"ch").as("ok"))
      .filter(!$"ok").count()
    assert(bad == 0L)
  }

  test("property: x179 delta-fold components == recompute for arbitrary edge splits") {
    // fold random edge sets in 3 arbitrary batches through mergeDeltaEdges;
    // the final labeling must equal the one-shot recompute — the graph
    // analogue of the q100 join-IVM property. Random graphs also regress
    // the unique-parent convergence fix (the latent multi-parent state
    // appeared only on particular edge subsets).
    import org.apache.spark.sql.functions.col
    (1L to 4L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val cut1 = rnd.nextInt(edges.size + 1)
      val cut2 = cut1 + rnd.nextInt(edges.size - cut1 + 1)
      val (b0, rest) = edges.splitAt(cut1)
      val (d1, d2) = rest.splitAt(cut2 - cut1)
      val nodes = (0L until n).toDF("node")
      def df(es: Seq[(Long, Long)]) =
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b") else es.toDF("a", "b")
      val full = graft.operators.Components
        .connectedComponentsStars(spark, nodes, df(edges), "node")
      var labels = graft.operators.Components
        .connectedComponentsStars(spark, nodes, df(b0), "node")
      Seq(d1, d2).foreach { d =>
        labels = graft.operators.Components
          .mergeDeltaEdges(spark, labels, df(d), "node")._1
      }
      assert(labels.except(full).isEmpty && full.except(labels).isEmpty,
        s"seed=$seed cuts=($cut1,$cut2)")
      assert(labels.count() == n && labels.select("node").distinct().count() == n,
        s"seed=$seed duplicate or missing labels")
    }
  }

  test("property: x181 distributed perceptron step == sequential fold on arbitrary data") {
    import org.apache.spark.sql.functions._
    val rowGen = Gen.listOfN(80, Gen.zip(Gen.choose(-20L, 20L),
      Gen.oneOf(1L, -1L)))
    (1L to 8L).foreach { seed =>
      val rows = sample(rowGen, seed)
      val (wb, wc) = (sample(Gen.choose(-300L, 300L), seed * 31),
        sample(Gen.choose(-300L, 300L), seed * 37))
      val feats = rows.toDF("c", "y").repartition(7) // force partial aggs
      val (mis, gb, gc) =
        graft.queries.TrainingQueries.perceptronStep(feats, wb, wc)
      // sequential reference fold
      val misq = rows.filter { case (c, y) => y * (wb + wc * c) <= 0 }
      assert(mis == misq.size && gb == misq.map(_._2).sum
        && gc == misq.map { case (c, y) => y * c }.sum, s"seed=$seed")
    }
  }

  test("property: x185 contingency B-cubed == per-document brute force on arbitrary labelings") {
    val labGen = Gen.listOfN(40, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L)))
    (1L to 6L).foreach { seed =>
      val labs = sample(labGen, seed).zipWithIndex
        .map { case ((c, t), i) => (i.toLong, c, t) }
      val pred = labs.map { case (d, c, _) => (d, c) }.toDF("doc_id", "c")
      val truth = labs.map { case (d, _, t) => (d, t) }.toDF("doc_id", "t")
      val r = graft.queries.DedupQueries.bcubedFromLabels(pred, truth).head()
      // exact rational per-document brute force
      val byC = labs.groupBy(_._2).view.mapValues(_.size).toMap
      val byT = labs.groupBy(_._3).view.mapValues(_.size).toMap
      val byCT = labs.groupBy(l => (l._2, l._3)).view.mapValues(_.size).toMap
      val n = labs.size.toDouble
      val prec = labs.map { case (_, c, t) => byCT((c, t)).toDouble / byC(c) }.sum / n
      val rec = labs.map { case (_, c, t) => byCT((c, t)).toDouble / byT(t) }.sum / n
      // per-term 1e-6 floors bound the quantization by #cells/n per metric
      val tol = 2e-3
      assert(math.abs(r.getAs[Long]("b3_prec_fp") / 1e6 - prec) < tol, s"seed=$seed prec")
      assert(math.abs(r.getAs[Long]("b3_rec_fp") / 1e6 - rec) < tol, s"seed=$seed rec")
      assert(r.getAs[Long]("n_docs") == labs.size)
    }
  }

  test("property: x155 largest-remainder allocation sums exactly to the budget") {
    (1L to 8L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val masses = (0 until 7).map(i => s"s$i" -> (1L + rnd.nextLong(10000)))
      val tt = masses.map(_._2).sum
      val budget = 1234L
      val q = masses.map { case (s, t) =>
        (s, budget * t / tt, budget * t % tt)
      }
      val short = budget - q.map(_._2).sum
      val extras = q.sortBy { case (s, _, rem) => (-rem, s) }.take(short.toInt).map(_._1).toSet
      val alloc = q.map { case (s, fl, _) => fl + (if (extras(s)) 1L else 0L) }.sum
      assert(alloc == budget, s"seed=$seed alloc=$alloc")
    }
  }
}
