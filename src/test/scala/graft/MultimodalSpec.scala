package graft

import graft.multimodal.Multimodal

/** X7: binary media column + typed partition-local decode plumbing. */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("attach + decode: deterministic metadata, sane ranges, byte-accurate length") {
    val docs = Seq((1L, "hello world"), (2L, "another doc"), (3L, "hello world"))
      .toDF("doc_id", "text")
    val meta = Multimodal.decodeMeta(Multimodal.attachFakeMedia(docs))
      .collect().sortBy(_.doc_id)
    assert(meta.map(_.media_len).toSeq == Seq(11, 11, 11))
    assert(meta.forall(m => m.width >= 64 && m.width < 512))
    assert(meta.forall(m => m.height >= 64 && m.height < 512))
    assert(meta.forall(m => m.n_frames >= 1 && m.n_frames <= 30))
    // same payload -> same fake decode (determinism)
    assert(meta(0).width == meta(2).width && meta(0).height == meta(2).height)
    // different payload -> (virtually certainly) different metadata hash source
    assert(meta(0).width != meta(1).width || meta(0).height != meta(1).height
      || meta(0).n_frames != meta(1).n_frames)
  }

  test("sampleFrames: every k-th frame, contiguous char slices, CJK-safe") {
    val docs = Seq((1L, "abcdefghij" * 10), (2L, "世界" * 20)).toDF("doc_id", "text")
    val media = Multimodal.attachFakeMedia(docs)
    val all = Multimodal.sampleFrames(media, everyK = 1).collect()
    val sampled = Multimodal.sampleFrames(media, everyK = 3).collect()
    // sampling keeps exactly the frame_idx % 3 == 0 subset
    assert(sampled.map(f => (f.doc_id, f.frame_idx)).toSet ==
      all.filter(_.frame_idx % 3 == 0).map(f => (f.doc_id, f.frame_idx)).toSet)
    assert(all.forall(_.frame_idx >= 0) && all.nonEmpty)
    // frames re-assemble into a prefix of the original text (char slicing
    // never splits a multi-byte char)
    for (id <- Seq(1L, 2L)) {
      val text = if (id == 1L) "abcdefghij" * 10 else "世界" * 20
      val joined = all.filter(_.doc_id == id).sortBy(_.frame_idx)
        .map(f => new String(f.frame, java.nio.charset.StandardCharsets.UTF_8)).mkString
      assert(text.startsWith(joined) && joined.nonEmpty)
    }
  }

  test("resizeTo: geometry attached, payload bounded by target area, schema preserved") {
    val docs = Seq((1L, "x" * 2000), (2L, "y")).toDF("doc_id", "text")
    val resized = Multimodal.resizeTo(Multimodal.attachFakeMedia(docs), 64, 64)
      .collect().sortBy(_.doc_id)
    assert(resized.map(r => (r.width, r.height)).toSeq == Seq((64, 64), (64, 64)))
    assert(resized(0).content.length == 64 * 64 / 64)  // truncated to target area
    assert(resized(1).content.length == 1)             // never grows past the input
    assert(resized.forall(_.mime == "image/fake"))
  }

  test("frameFeatures: deterministic [0,1] features, byte-accurate frame_len") {
    val docs = Seq((1L, "hello world, a modest payload")).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(Multimodal.attachFakeMedia(docs), everyK = 1)
    val feats = Multimodal.frameFeatures(frames).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(f => Seq(f.f0, f.f1, f.f2, f.f3).forall(x => x >= 0.0 && x <= 1.0)))
    assert(feats.forall(_.frame_len > 0))
    // determinism: re-running yields identical rows
    val again = Multimodal.frameFeatures(frames).collect()
    assert(feats.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("audioWindows: hop coverage, tail lengths, energy matches byte sums") {
    val docs = Seq((1L, "a" * 100), (2L, "z"), (3L, "ab" * 40)).toDF("doc_id", "text")
    val wins = Multimodal.audioWindows(Multimodal.attachFakeMedia(docs), frame = 64, hop = 32)
      .collect().sortBy(w => (w.doc_id, w.win_idx))
    // doc 1: n=100 -> starts 0,32,64,96 -> lengths 64,64,36,4
    val d1 = wins.filter(_.doc_id == 1L)
    assert(d1.map(_.n_samples).toSeq == Seq(64, 64, 36, 4))
    assert(d1.forall(w => w.energy == w.n_samples.toLong * 'a'.toInt && w.peak == 'a'.toInt))
    // doc 2: single sample -> one window of 1
    val d2 = wins.filter(_.doc_id == 2L)
    assert(d2.map(w => (w.win_idx, w.n_samples, w.energy, w.peak)).toSeq ==
      Seq((0, 1, 'z'.toLong, 'z'.toInt)))
    // doc 3: alternating bytes -> peak is 'b' in every full window
    val d3 = wins.filter(_.doc_id == 3L)
    assert(d3.forall(_.peak == 'b'.toInt))
    assert(d3.head.energy == 32L * ('a'.toInt + 'b'.toInt))
  }

  test("audioWindows typed byte path == independent char-code path on the fixture") {
    import org.apache.spark.sql.functions._
    // Rebuild the oracle's ASSUMPTION (bytes == character codes) as an
    // actual char-based DataFrame computation — a genuinely different
    // path from the typed flatMap over payload bytes. If a non-ASCII doc
    // ever lands in the fixture, this is the test that fails.
    val spark2 = spark
    import spark2.implicits._
    val chars = Tables.documents(spark, sfDir)
      .select($"doc_id", transform(split($"text", ""), c => ascii(c)).as("codes"))
      .select($"doc_id", $"codes",
        explode(sequence(lit(0), floor((size($"codes") - 1) / lit(32)).cast("int"))).as("k"))
      .select($"doc_id", $"k".as("win_idx"),
        least(lit(64), size($"codes") - $"k" * 32).cast("int").as("n_samples"),
        aggregate(slice($"codes", $"k" * 32 + 1, lit(64)), lit(0L), (acc, x) => acc + x).as("energy"),
        array_max(slice($"codes", $"k" * 32 + 1, lit(64))).as("peak"))
    val typed = Multimodal.audioWindows(
      Multimodal.attachFakeMedia(Tables.documents(spark, sfDir)),
      frame = 64, hop = 32).toDF()
    assert(chars.count() == typed.count())
    assert(chars.except(typed).count() == 0 && typed.except(chars).count() == 0)
  }
}
