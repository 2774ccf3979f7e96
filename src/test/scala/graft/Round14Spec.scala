package graft

/** Round-14 unit/property specs: the dynamic-gap session merge contract
  * and supporting invariants. */
class Round14Spec extends SparkTestBase {

  test("property: folding ANY batch split through mergeDynSessions equals batch dynamic sessionization") {
    // The dynamic-gap side of the one session merge: each event is
    // its own window [t, t + gap_t]; however the multiset is split into
    // micro-batches (out-of-order, duplicate timestamps, mixed gaps),
    // folding through the pure merge equals from-scratch sessionization on
    // the running max of window ends — including the lag-diff trap where a
    // long-gap event bridges past a short-gap successor.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val eventsGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 300L), Gen.oneOf(3L, 10L, 60L)))
    def batchSessionize(evs: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
      val sorted = evs.map { case (t, g) => (t, t + g) }.sortBy(identity)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      sorted.foreach { case (s, e) =>
        if (out.nonEmpty && s <= out.last._2) {
          val (ls, le, ln) = out.last
          out(out.size - 1) = (ls, math.max(le, e), ln + 1)
        } else out += ((s, e, 1L))
      }
      out.toSeq
    }
    (1L to 40L).foreach { seed =>
      val evs = sample(eventsGen, seed)
      val nBatches = 1 + (seed % 5).toInt
      val batches = evs.zipWithIndex
        .groupBy { case ((t, _), i) => (t * 31 + i + seed) % nBatches }
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      var state = Array.empty[(Long, Long, Long)]
      batches.foreach { b =>
        state = graft.streaming.IncrementalStream
          .mergeDynSessions(state, b.map { case (t, g) => (t, t + g) }.toArray)
      }
      assert(state.toSeq == batchSessionize(evs),
        s"seed=$seed split into ${batches.size} batches diverged")
    }
  }

  test("AhoCorasick counts all occurrences, incl. overlapping and dictionary-substring matches") {
    val ac = new graft.operators.AhoCorasick(Seq("an", "scan", "ana", "na"))
    // "banana scan": an@2,4 (overlapping via "ana"), ana@2(overlaps ana@4? banana: a1n2a3n4a5 -> ana@1,3), na@...
    val got = ac.countAll("banana scan")
    // brute force reference
    def brute(t: String, p: String): Long =
      (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong
    assert(got.toSeq == Seq("an", "scan", "ana", "na").map(brute("banana scan", _)))
    // randomized cross-check over a small alphabet (dense overlaps)
    val rnd = new scala.util.Random(7)
    val pats = Seq("ab", "aba", "b", "bab", "aab", "a")
    val ac2 = new graft.operators.AhoCorasick(pats)
    (1 to 200).foreach { _ =>
      val t = (1 to 30).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString
      val got2 = ac2.countAll(t).toSeq
      val want = pats.map(brute(t, _))
      assert(got2 == want, s"text=$t got=$got2 want=$want")
    }
  }

  test("mergeDynSessions: a later bridging interval re-merges previously separate sessions") {
    val s1 = graft.streaming.IncrementalStream
      .mergeDynSessions(Array.empty, Array((0L, 10L), (20L, 30L)))
    assert(s1.toSeq == Seq((0L, 10L, 1L), (20L, 30L, 1L)))
    val s2 = graft.streaming.IncrementalStream
      .mergeDynSessions(s1, Array((8L, 22L)))
    assert(s2.toSeq == Seq((0L, 30L, 3L)))
  }
}
