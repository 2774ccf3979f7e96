package graft.queries

import graft.{QueryDef, Tables}
import graft.multimodal.{ImageCodec, MediaSynth, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal family: the synthetic media corpus (per-document BMP/PPM,
  * GIF, PNG, JPEG and WAV containers whose pixels and samples are md5
  * functions of documents.text) decoded by the engine's real codecs, and
  * the frame, audio and perceptual-hash queries over it. The SQL helpers
  * at the top re-derive the same pixels inside DuckDB, so byte-exact
  * decodes are oracle-gated. */
object MultimodalQueries {

  /* DuckDB-side re-derivation of the synthetic media pixels (see
   * [[graft.multimodal.MediaSynth]]): the oracle computes every pixel
   * directly from md5 formulas over `documents.text`, while the Spark path
   * goes pixels → real BMP/PPM bytes → real parse → features. A decoder
   * defect (channel order, row flip, padding, header grammar, container
   * lengths) diverges the features and fails the driver's hash compare —
   * so these CTEs are what makes the byte-exact codec oracle-GATED. */
  private val Hex = "'0123456789abcdef'"
  private def nib(expr: String, k: Int) =
    s"(strpos($Hex, substr(md5($expr), ${k + 1}, 1)) - 1)"
  /** Byte value from hex chars [pos, pos+1] (1-based) of column `hx`. */
  private def hb(pos: String) =
    s"((strpos($Hex, substr(hx, CAST($pos AS INTEGER), 1)) - 1) * 16 " +
      s"+ (strpos($Hex, substr(hx, CAST(($pos) + 1 AS INTEGER), 1)) - 1))"

  /** CTE chain ending in `lm(doc_id, nf, w, h, i, y, x, l)` — integer luma
    * per pixel of every frame, plus `s` carrying per-doc geometry and `px`
    * the per-channel values. `prefix` lets a consumer that appends a
    * recursive CTE open with "WITH RECURSIVE". */
  def pixelCtesWith(prefix: String): String =
    s"""$prefix m AS (SELECT doc_id, text, length(text) AS clen,
       |             1 + ${nib("text", 0)} % ${MediaSynth.NFramesMod} AS nf,
       |             4 + ${nib("text", 1)} % ${MediaSynth.WidthMod} AS w,
       |             4 + ${nib("text", 2)} % ${MediaSynth.HeightMod} AS h
       |           FROM documents),
       |s AS (SELECT doc_id, text, clen, nf, w, h,
       |        greatest(1, clen // (nf * h)) AS stride FROM m),
       |fr AS (SELECT doc_id, text, nf, w, h, stride, unnest(range(0, nf)) AS i FROM s),
       |rw AS (SELECT doc_id, nf, w, h, i, y,
       |         md5(substr(text, CAST((i * h + y) * stride + 1 AS INTEGER),
       |                    CAST(stride AS INTEGER))) AS hx
       |       FROM (SELECT *, unnest(range(0, h)) AS y FROM fr)),
       |px AS (SELECT doc_id, nf, w, h, i, y, x,
       |         ${hb("6 * x + 1")} AS r, ${hb("6 * x + 3")} AS g, ${hb("6 * x + 5")} AS b
       |       FROM (SELECT *, unnest(range(0, w)) AS x FROM rw)),
       |lm AS (SELECT doc_id, nf, w, h, i, y, x,
       |         (299 * r + 587 * g + 114 * b) // 1000 AS l
       |       FROM px)""".stripMargin

  val pixelCtes: String = pixelCtesWith("WITH")

  /** Appends `fq(doc_id, nf, frame_idx, s0..s3)` — per-frame quadrant luma
    * sums (quadrant split at 2x>=w / 2y>=h, matching MediaSynth.quadSums). */
  val frameQuadCtes: String =
    pixelCtes + s""",
       |fq AS (SELECT doc_id, nf, CAST(i AS INTEGER) AS frame_idx,
       |         sum(CASE WHEN 2 * y < h AND 2 * x < w THEN l ELSE 0 END) AS s0,
       |         sum(CASE WHEN 2 * y < h AND 2 * x >= w THEN l ELSE 0 END) AS s1,
       |         sum(CASE WHEN 2 * y >= h AND 2 * x < w THEN l ELSE 0 END) AS s2,
       |         sum(CASE WHEN 2 * y >= h AND 2 * x >= w THEN l ELSE 0 END) AS s3
       |       FROM lm GROUP BY doc_id, nf, i)""".stripMargin

  /** Appends `dh(doc_id, phash)` — the 15-bit dHash over frame 0 resized to
    * 4x4 by nearest-neighbor (source index = target*src // 4, truncating). */
  def dhashCtesWith(prefix: String): String =
    pixelCtesWith(prefix) + s""",
       |tg AS (SELECT doc_id, w, h, ty, tx,
       |         (ty * h) // ${MediaSynth.DhashH} AS sy,
       |         (tx * w) // ${MediaSynth.DhashW} AS sx
       |       FROM (SELECT doc_id, w, h, ty, unnest(range(0, ${MediaSynth.DhashW})) AS tx
       |             FROM (SELECT doc_id, w, h, unnest(range(0, ${MediaSynth.DhashH})) AS ty
       |                   FROM s))),
       |rs AS (SELECT t.doc_id, t.ty * ${MediaSynth.DhashW} + t.tx AS p, lm.l
       |       FROM tg t JOIN lm ON lm.doc_id = t.doc_id AND lm.i = 0
       |                        AND lm.y = t.sy AND lm.x = t.sx),
       |bt AS (SELECT doc_id, p, l,
       |         lead(l) OVER (PARTITION BY doc_id ORDER BY p) AS nxt FROM rs),
       |dh AS (SELECT doc_id,
       |         CAST(coalesce(sum(CASE WHEN l > nxt THEN 1 << CAST(p AS INTEGER) ELSE 0 END), 0) AS BIGINT) AS phash
       |       FROM bt WHERE p < ${MediaSynth.DhashW * MediaSynth.DhashH - 1}
       |       GROUP BY doc_id)""".stripMargin

  val dhashCtes: String = dhashCtesWith("WITH")

  /** X7: media metadata extraction through the typed mapPartitions decode
    * stage. The fake decode derives metadata from md5 hex nibbles, which the
    * oracle reproduces with strpos-based hex parsing. */
  def multimodalMeta(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val media = Multimodal.attachFakeMedia(Tables.documents(spark, dir))
    Multimodal.decodeMeta(media).toDF().orderBy("doc_id")
  }

  private val multimodalOracle = {
    s"""SELECT doc_id,
       |       CAST(strlen(text) AS INTEGER) AS media_len,
       |       CAST(64 + (${nib("text", 0)} * 16 + ${nib("text", 1)}) % 448 AS INTEGER) AS width,
       |       CAST(64 + (${nib("text", 2)} * 16 + ${nib("text", 3)}) % 448 AS INTEGER) AS height,
       |       CAST(1 + ${nib("text", 0)} % 30 AS INTEGER) AS n_frames
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** X7 stage 2+3: frame sampling (1→N explode via partition-local flatMap,
    * every 3rd frame) then per-frame feature extraction — the full
    * decode → sample → featurize media pipeline with scalar outputs the
    * oracle reproduces from character slices. */
  def frameSample(spark: SparkSession, dir: String) = {
    val media = Multimodal.attachFakeMedia(Tables.documents(spark, dir))
    Multimodal.frameFeatures(Multimodal.sampleFrames(media, everyK = 3))
      .toDF().orderBy("doc_id", "frame_idx")
  }

  /** `m` and `s` CTEs: per document the synthetic frame count
    * (1 + nibble 0 of md5(text) mod 30) and the byte stride of one frame —
    * the geometry x71's sampler and x164's aligner both decode against. */
  private val frameStrideCtes =
    s"""WITH m AS (SELECT doc_id, text,
       |             1 + ${nib("text", 0)} % 30 AS n_frames,
       |             length(text) AS clen
       |           FROM documents),
       |s AS (SELECT doc_id, text, clen, n_frames,
       |             greatest(1, clen // n_frames) AS stride
       |      FROM m),""".stripMargin

  private val frameSampleOracle = {
    s"""$frameStrideCtes
       |f AS (SELECT doc_id, text, clen, stride, unnest(range(0, n_frames)) AS i FROM s),
       |fs AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |         substr(text, CAST(i * stride + 1 AS INTEGER), CAST(stride AS INTEGER)) AS ftext
       |       FROM f WHERE i % 3 = 0 AND i * stride < clen)
       |SELECT doc_id, frame_idx,
       |       CAST(strlen(ftext) AS INTEGER) AS frame_len,
       |       ${nib("ftext", 0)} / 15.0 AS f0,
       |       ${nib("ftext", 1)} / 15.0 AS f1,
       |       ${nib("ftext", 2)} / 15.0 AS f2,
       |       ${nib("ftext", 3)} / 15.0 AS f3
       |FROM fs
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** X7 audio stage: overlapping byte-level windows (frame=64, hop=32)
    * with integer energy/peak stats — the STFT-frame batch shape. The
    * payload is the UTF-8 text (pure ASCII fixture), so the oracle
    * reproduces the byte stream exactly via character codes. */
  def audioWindows(spark: SparkSession, dir: String) = {
    val media = Multimodal.attachFakeMedia(Tables.documents(spark, dir))
    Multimodal.audioWindows(media, frame = 64, hop = 32)
      .toDF().orderBy("doc_id", "win_idx")
  }

  private val audioWindowsOracle = {
    def codes = "list_transform(range(k * 32 + 1, least(k * 32 + 64, n) + 1), i -> ascii(substr(text, CAST(i AS INTEGER), 1)))"
    s"""WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |e AS (SELECT doc_id, text, n, unnest(range(0, ((n - 1) // 32) + 1)) AS k
       |      FROM c WHERE n > 0)
       |SELECT doc_id,
       |       CAST(k AS INTEGER) AS win_idx,
       |       CAST(least(64, n - k * 32) AS INTEGER) AS n_samples,
       |       CAST(list_sum($codes) AS BIGINT) AS energy,
       |       CAST(list_max($codes) AS INTEGER) AS peak
       |FROM e
       |ORDER BY doc_id, win_idx""".stripMargin
  }

  /** x76: VAD-style activity segmentation — the voice-activity-detection
    * shape over x72's audio windows: a window is "active" when its mean
    * sample energy clears the gate, decided on the exact integer predicate
    * `energy >= 95 * n_samples` (no float threshold); consecutive active
    * windows merge into segments via gaps-and-islands (win_idx − per-doc
    * active rank is constant within an island — pure integer arithmetic,
    * no iterative pass). Output: per-segment start/end window, length, and
    * energy total. Scale (100 TB): the window stage is the typed
    * partition-local decode (1→N flatMap, no shuffle); the island window
    * and segment aggregate share ONE doc_id-keyed exchange. A real VAD
    * swaps an acoustic score into the same gate. */
  def vadSegments(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val media = Multimodal.attachFakeMedia(Tables.documents(spark, dir))
    val active = Multimodal.audioWindows(media, frame = 64, hop = 32)
      .toDF().filter($"energy" >= lit(95L) * $"n_samples")
    val grp = $"win_idx" -
      row_number().over(Window.partitionBy($"doc_id").orderBy($"win_idx"))
    active.withColumn("grp", grp)
      .groupBy($"doc_id", $"grp")
      .agg(min($"win_idx").as("seg_start"), max($"win_idx").as("seg_end"),
        count(lit(1)).cast("int").as("n_windows"), sum($"energy").as("energy"))
      .select($"doc_id", $"seg_start", $"seg_end", $"n_windows", $"energy")
      .orderBy($"doc_id", $"seg_start")
  }

  private val vadSegmentsOracle = {
    def codes = "list_transform(range(k * 32 + 1, least(k * 32 + 64, n) + 1), i -> ascii(substr(text, CAST(i AS INTEGER), 1)))"
    s"""WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |e AS (SELECT doc_id, text, n, unnest(range(0, ((n - 1) // 32) + 1)) AS k
       |      FROM c WHERE n > 0),
       |w AS MATERIALIZED (SELECT doc_id, CAST(k AS INTEGER) AS win_idx,
       |       CAST(least(64, n - k * 32) AS INTEGER) AS n_samples,
       |       CAST(list_sum($codes) AS BIGINT) AS energy
       |     FROM e),
       |act AS (SELECT doc_id, win_idx, energy,
       |          win_idx - row_number() OVER (PARTITION BY doc_id ORDER BY win_idx) AS grp
       |        FROM w WHERE energy >= 95 * n_samples)
       |SELECT doc_id, min(win_idx) AS seg_start, max(win_idx) AS seg_end,
       |       CAST(count(*) AS INT) AS n_windows, CAST(sum(energy) AS BIGINT) AS energy
       |FROM act
       |GROUP BY doc_id, grp
       |ORDER BY doc_id, seg_start""".stripMargin
  }

  /** X7 + X2 crossover: perceptual-hash near-dup detection over media
    * payloads — REAL pipeline since r14: per-doc video bytes (actual
    * BMP/PPM frames, [[graft.multimodal.MediaSynth.synthVideos]]) are
    * parsed by the byte-exact decoder, frame 0 is nearest-neighbor resized
    * to 4x4 (the resample real pHash runs), and the dHash gradient bits
    * come from DECODED pixel lumas. Candidates from a 3-band Hamming LSH
    * over the 15-bit hash (5 bits per band: a pair within Hamming
    * distance 1 touches at most one band, so ≥ 2 bands still match →
    * found), bucket cap shared with the text-LSH family, verified by
    * exact popcount. The oracle recomputes the pixels directly from the
    * md5 formulas — a decoder defect (BGR order, bottom-up flip, row
    * padding, PPM header grammar) fails the hash compare. At 100 TB: no
    * pairwise scan, two keyed shuffles; decode is partition-local. */
  def phashNearDup(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val ph = graft.multimodal.MediaSynth.dhashReal(
      graft.multimodal.MediaSynth.synthVideos(Tables.documents(spark, dir))).toDF()
    val bands = ph.select($"doc_id", $"phash",
      explode(array((0 until 3).map(j => struct(lit(j).as("band"),
        shiftright($"phash", 5 * j).bitwiseAND(lit(31)).as("bv"))): _*)).as("s"))
      .select($"doc_id", $"phash", $"s.band".as("band"), $"s.bv".as("bv"))
    val pruned = graft.operators.Dedup.capBuckets(bands, Seq("band", "bv"),
      graft.operators.Dedup.DefaultMaxBucket)
    val cand = pruned.select($"doc_id".as("a"), $"phash".as("pa"), $"band", $"bv")
      .join(pruned.select($"doc_id".as("b"), $"phash".as("pb"), $"band", $"bv"),
        Seq("band", "bv"))
      .filter($"a" < $"b")
      .select($"a", $"pa", $"b", $"pb").distinct()
    cand
      .select($"a", $"b",
        QueryUtil.fence(bit_count($"pa".bitwiseXOR($"pb"))).as("hamming"))
      .filter($"hamming" <= 1)
      .orderBy("a", "b")
  }

  private val phashOracle = {
    dhashCtes + s""",
       |bd0 AS (SELECT doc_id, phash, unnest(range(0, 3)) AS j FROM dh),
       |bd AS (SELECT doc_id, phash, j, (phash >> CAST(5 * j AS INTEGER)) & 31 AS bv FROM bd0),
       |pruned AS (SELECT doc_id, phash, j, bv
       |           FROM (SELECT *, count(*) OVER (PARTITION BY j, bv) AS bn FROM bd)
       |           WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, x.phash AS pa, y.doc_id AS b, y.phash AS pb
       |         FROM pruned x JOIN pruned y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT a, b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(pa, pb)) <= 1
       |ORDER BY a, b""".stripMargin
  }

  /** Scene-cut L1 threshold for x75/x128 over integer quadrant luma sums
    * (r14: features come from REAL decoded pixels, so the distance is an
    * exact BIGINT and the comparison cannot sit on a rounding boundary).
    * Calibrated so md5-random frame pairs land on both sides (mean L1 of
    * independent frames ≈ 1150 at the 4..5 x 4..7 geometry). */
  private val SceneTau = 1200L

  /** X7 stage 4 input: every decoded frame with its shot-boundary flag —
    * x75's cut pass, shared with x128's keyframe selection. Since r14 the
    * features are quadrant luma sums of REAL BMP/PPM-decoded pixels
    * ([[graft.multimodal.MediaSynth.decodeFrameStats]]); a cut fires when
    * the L1 distance to the previous frame exceeds τ. Narrow shapes end
    * to end: decode is partition-local, the only shuffle keys the per-doc
    * lag window and final aggregate. */
  private def framesWithCuts(spark: SparkSession, dir: String) =
    withCuts(MediaSynth.decodeFrameStats(
      MediaSynth.synthVideos(Tables.documents(spark, dir))).toDF())

  /** `frames` (per-frame quadrant sums s0..s3) with the cut flag: L1
    * distance to the previous frame of the same document above τ. */
  private def withCuts(frames: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    def d(c: String) = abs(col(c) - lag(col(c), 1).over(w))
    frames.withColumn("cut", ((d("s0") + d("s1") + d("s2") + d("s3")) > SceneTau).cast("int"))
  }

  /** Per-document frame count, scene count and cut-list digest — x75's
    * summary, which x382 (GIF) and x384 (PNG) apply to their own decodes. */
  private def sceneSummary(cut: DataFrame): DataFrame =
    cut.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_frames"),
        (lit(1) + coalesce(sum(col("cut")), lit(0L))).cast("int").as("n_scenes"),
        md5(array_join(
          transform(sort_array(collect_list(when(col("cut") === 1, col("frame_idx")))),
            _.cast("string")), ","))
          .as("cuts_md5"))
      .orderBy("doc_id")


  def sceneSegments(spark: SparkSession, dir: String) =
    sceneSummary(framesWithCuts(spark, dir))

  /** The quadrant-sum chain ending in `c(doc_id, frame_idx, cut)` — one
    * definition for the x75 and x128 oracles (fq also feeds x128's
    * keyframe features). Pixels re-derived from the md5 formulas; the
    * Spark side got them through real encoded bytes. */
  private val sceneCtes: String =
    frameQuadCtes + s""",
       |d AS (SELECT doc_id, frame_idx, s0, s1, s2, s3,
       |        abs(s0 - lag(s0) OVER w) + abs(s1 - lag(s1) OVER w)
       |        + abs(s2 - lag(s2) OVER w) + abs(s3 - lag(s3) OVER w) AS dist
       |      FROM fq
       |      WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
       |c AS (SELECT doc_id, frame_idx,
       |        CASE WHEN dist > $SceneTau THEN 1 ELSE 0 END AS cut
       |      FROM d)""".stripMargin

  private val sceneOracle =
    sceneCtes + s"""
       |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_frames,
       |       CAST(1 + coalesce(sum(cut), 0) AS INTEGER) AS n_scenes,
       |       md5(coalesce(string_agg(CASE WHEN cut = 1 THEN CAST(frame_idx AS VARCHAR) END, ',' ORDER BY frame_idx), '')) AS cuts_md5
       |FROM c GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** x128: keyframe extraction — the representative-frame selection a
    * vision-language training pipeline runs after shot detection: one
    * keyframe per scene (the scene's FIRST frame: frame 0 plus every cut
    * frame), with the keyframe's features carried alongside — the rows a
    * captioning/embedding stage would consume instead of every frame
    * (~n_scenes/n_frames of the decode budget). Pure composition of the
    * audited x71 sampler + x75 cut pass; the per-doc scene numbering is
    * one ranking window over the (tiny) keyframe set. */
  def keyframes(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"frame_idx")
    framesWithCuts(spark, dir)
      .filter($"frame_idx" === 0 || $"cut" === 1)
      .withColumn("scene_id", row_number().over(w))
      .select($"doc_id", $"scene_id", $"frame_idx".as("start_frame"),
        $"s0".as("ks0"), $"s1".as("ks1"), $"s2".as("ks2"), $"s3".as("ks3"))
      .orderBy("doc_id", "scene_id")
  }

  private val keyframesOracle =
    sceneCtes + s""",
       |kf AS (SELECT c.doc_id, c.frame_idx,
       |         row_number() OVER (PARTITION BY c.doc_id ORDER BY c.frame_idx) AS scene_id
       |       FROM c WHERE c.frame_idx = 0 OR c.cut = 1)
       |SELECT kf.doc_id, CAST(kf.scene_id AS INTEGER) AS scene_id,
       |       kf.frame_idx AS start_frame,
       |       CAST(fq.s0 AS BIGINT) AS ks0, CAST(fq.s1 AS BIGINT) AS ks1,
       |       CAST(fq.s2 AS BIGINT) AS ks2, CAST(fq.s3 AS BIGINT) AS ks3
       |FROM kf JOIN fq ON fq.doc_id = kf.doc_id AND fq.frame_idx = kf.frame_idx
       |ORDER BY kf.doc_id, kf.scene_id""".stripMargin

  /** x164: audio-visual alignment — the multimodal training-pair assembly
    * join: every sampled video frame (x71's stage, everyK=3) is matched
    * to the overlapping audio windows (x72's stage, frame=64/hop=32) of
    * the SAME document by payload-position overlap, then each frame picks
    * its best-energy window (the "align caption audio to keyframe" shape
    * a captioning/AV-pretraining pipeline runs). The Spark join is the
    * x62 banded equi-join on 64-byte position bands with
    * responsibility-band dedup (pair counted only where its overlap
    * starts) — never an all-pairs inequality join; the oracle runs the
    * literal interval-overlap join.
    *
    * Scale: both sides are partition-local 1→N decode stages; the
    * alignment is a (doc_id, band)-keyed equi-join — band fan-out is
    * bounded by span/64, so candidate pairs stay linear in media length.
    * The fixture payload is pure-ASCII text (char == byte), which keeps
    * frame CHARACTER slices and audio BYTE windows on one axis. */
  def avAlign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val B = 64 // alignment band width (bytes)
    val media = Multimodal.attachFakeMedia(Tables.documents(spark, dir))
    val meta = Multimodal.decodeMeta(media).toDF()
      .select($"doc_id", $"media_len", $"n_frames",
        greatest(lit(1), floor($"media_len" / $"n_frames")).cast("int").as("stride"))
    val frames = Multimodal.sampleFrames(media, everyK = 3).toDF()
      .select($"doc_id", $"frame_idx", length($"frame").cast("int").as("f_len"))
      .join(meta.select($"doc_id", $"stride"), "doc_id")
      .select($"doc_id", $"frame_idx",
        ($"frame_idx" * $"stride").as("f_start"),
        ($"frame_idx" * $"stride" + $"f_len").as("f_end"))
    val wins = Multimodal.audioWindows(media, frame = 64, hop = 32).toDF()
      .select($"doc_id", $"win_idx",
        ($"win_idx" * 32).as("w_start"),
        ($"win_idx" * 32 + $"n_samples").as("w_end"),
        $"energy")
    val fb = frames.withColumn("band",
      explode(sequence(floor($"f_start" / B).cast("int"),
        floor(($"f_end" - 1) / B).cast("int"))))
    val wb = wins.withColumn("band",
      explode(sequence(floor($"w_start" / B).cast("int"),
        floor(($"w_end" - 1) / B).cast("int"))))
    val pairs = fb.join(wb, Seq("doc_id", "band"))
      .filter($"f_start" < $"w_end" && $"w_start" < $"f_end")
      // responsibility band: count the pair only where its overlap starts
      .filter($"band" === floor(greatest($"f_start", $"w_start") / B).cast("int"))
      .select($"doc_id", $"frame_idx", $"win_idx", $"energy",
        (least($"f_end", $"w_end") - greatest($"f_start", $"w_start")).as("ov"))
    val w = Window.partitionBy($"doc_id", $"frame_idx")
      .orderBy($"energy".desc, $"win_idx")
    pairs.withColumn("rn", row_number().over(w))
      .groupBy($"doc_id", $"frame_idx")
      .agg(count(lit(1)).cast("int").as("n_win"),
        sum($"ov").as("ov_chars"),
        max(when($"rn" === 1, $"win_idx")).as("best_win"))
      .orderBy("doc_id", "frame_idx")
  }

  private val avAlignOracle = {
    s"""$frameStrideCtes
       |fr0 AS (SELECT doc_id, text, clen, stride, unnest(range(0, n_frames)) AS i FROM s),
       |fr AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |         CAST(i * stride AS BIGINT) AS f_start,
       |         CAST(i * stride + strlen(substr(text, CAST(i * stride + 1 AS INTEGER),
       |                                         CAST(stride AS INTEGER))) AS BIGINT) AS f_end
       |  FROM fr0 WHERE i % 3 = 0 AND i * stride < clen),
       |wn AS MATERIALIZED (
       |  SELECT doc_id, CAST(k AS INTEGER) AS win_idx,
       |         CAST(k * 32 AS BIGINT) AS w_start,
       |         CAST(k * 32 + least(64, n - k * 32) AS BIGINT) AS w_end,
       |         CAST(list_sum(list_transform(range(k * 32 + 1, least(k * 32 + 64, n) + 1),
       |                i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS energy
       |  FROM (SELECT doc_id, text, length(text) AS n,
       |               unnest(range(0, ((length(text) - 1) // 32) + 1)) AS k
       |        FROM documents WHERE length(text) > 0)),
       |p AS (SELECT fr.doc_id, fr.frame_idx, wn.win_idx, wn.energy,
       |             least(fr.f_end, wn.w_end) - greatest(fr.f_start, wn.w_start) AS ov,
       |             row_number() OVER (PARTITION BY fr.doc_id, fr.frame_idx
       |                                ORDER BY wn.energy DESC, wn.win_idx) AS rn
       |      FROM fr JOIN wn
       |        ON fr.doc_id = wn.doc_id
       |       AND fr.f_start < wn.w_end AND wn.w_start < fr.f_end)
       |SELECT doc_id, frame_idx,
       |       CAST(count(*) AS INTEGER) AS n_win,
       |       CAST(sum(ov) AS BIGINT) AS ov_chars,
       |       max(CASE WHEN rn = 1 THEN win_idx END) AS best_win
       |FROM p
       |GROUP BY doc_id, frame_idx
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /* Audio fingerprint matching (x232) — the
   * Shazam-style landmark-pair hash over x72's window stage, the
   * multimodal family's near-dup detector for AUDIO (x74's pHash is the
   * image analogue). */

  /** Landmark pairing fan-out bound (windows). */
  private val FpMaxDelta = 8L

  /** Published matches. */
  private val FpTop = 20

  /** x232: audio fingerprint matching — the constellation recipe on the
    * stubbed sample stream: (1) x72's overlapping windows (the typed
    * partition-local decode), (2) landmark windows = strict local peak
    * maxima vs both neighbors, (3) fingerprints = (peak₁, peak₂, Δt)
    * packed into one integer for each landmark and its successor within
    * [[FpMaxDelta]] windows, (4) docs sharing a fingerprint pair up and
    * rank by shared-print count. Every stage is exact integer
    * arithmetic over the deterministic fake audio; a real codec swaps
    * in behind stage 1 (the Multimodal contract).
    *
    * Scale: landmarks are a per-doc window pass (one doc_id-keyed
    * exchange shared with the lag/lead); the match join is an
    * equi-join on the fingerprint key with hot-print capping handled
    * by the landmark sparsity (strict maxima thin the stream ~4×) —
    * the same blocked-join discipline as the LSH families. */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // Constructed probes (the x191/x130 convention): every 25th doc is
    // cloned into the negative keyspace with its first 64 bytes (two
    // hops) removed — the "same recording, later start" case landmark
    // fingerprints exist to catch. The dt-pairs are shift-invariant and
    // the 64-byte cut keeps the window grid aligned, so each clone MUST
    // share most prints with its original — the match list is provably
    // non-empty at every SF instead of hoping for natural collisions.
    val clones = docs.filter($"doc_id" % 25 === 0 && $"doc_id" > 0)
      .select((-$"doc_id").as("doc_id"), expr("substr(text, 65)").as("text"))
    val media = Multimodal.attachFakeMedia(
      docs.select($"doc_id", $"text").unionByName(clones))
    val win = Multimodal.audioWindows(media, frame = 64, hop = 32).toDF()
    val w = Window.partitionBy($"doc_id").orderBy($"win_idx")
    val landmarks = win
      .select($"doc_id", $"win_idx".cast("long").as("t"), $"energy",
        lag($"energy", 1).over(w).as("el"), lead($"energy", 1).over(w).as("er"))
      .filter($"el".isNotNull && $"er".isNotNull &&
        $"energy" > $"el" && $"energy" > $"er")
    val wl = Window.partitionBy($"doc_id").orderBy($"t")
    val prints = landmarks
      .select($"doc_id", $"t", ($"energy" % 4096L).as("p1"),
        (lead($"energy", 1).over(wl) % 4096L).as("p2"),
        (lead($"t", 1).over(wl) - $"t").as("dt"))
      .filter($"p2".isNotNull && $"dt" <= FpMaxDelta)
      .select($"doc_id", (($"p1" * 4096L + $"p2") * 16L + $"dt").as("fp"))
      .distinct()
      .localCheckpoint(true)
    val matches = prints.toDF("a", "fp")
      .join(prints.toDF("b", "fp"), "fp")
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_shared"))
    matches.withColumn("rk", row_number().over(
      Window.orderBy($"n_shared".desc, $"a", $"b")).cast("long"))
      .filter($"rk" <= FpTop)
      .select($"rk", $"a", $"b", $"n_shared")
      .orderBy($"rk")
  }

  private val audioFingerprintOracle = {
    val codes = "list_transform(range(k * 32 + 1, least(k * 32 + 64, n) + 1)," +
      " i -> ascii(substr(text, CAST(i AS INTEGER), 1)))"
    s"""WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents
       |           UNION ALL
       |           SELECT -doc_id, substr(text, 65), length(substr(text, 65))
       |           FROM documents WHERE doc_id % 25 = 0 AND doc_id > 0),
       |e AS (SELECT doc_id, text, n, unnest(range(0, ((n - 1) // 32) + 1)) AS k
       |      FROM c WHERE n > 0),
       |win AS MATERIALIZED (
       |  SELECT doc_id, CAST(k AS BIGINT) AS t,
       |         CAST(list_sum($codes) AS BIGINT) AS energy
       |  FROM e),
       |landmarks AS MATERIALIZED (
       |  SELECT doc_id, t, energy FROM (
       |    SELECT doc_id, t, energy,
       |           lag(energy) OVER w AS el, lead(energy) OVER w AS er
       |    FROM win WINDOW w AS (PARTITION BY doc_id ORDER BY t)) x
       |  WHERE el IS NOT NULL AND er IS NOT NULL
       |    AND energy > el AND energy > er),
       |prints AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, (p1 * 4096 + p2) * 16 + dt AS fp FROM (
       |    SELECT doc_id, energy % 4096 AS p1,
       |           lead(energy) OVER w2 % 4096 AS p2,
       |           lead(t) OVER w2 - t AS dt
       |    FROM landmarks WINDOW w2 AS (PARTITION BY doc_id ORDER BY t)) y
       |  WHERE p2 IS NOT NULL AND dt <= $FpMaxDelta),
       |matches AS (
       |  SELECT pa.doc_id AS a, pb.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM prints pa JOIN prints pb ON pa.fp = pb.fp AND pa.doc_id < pb.doc_id
       |  GROUP BY pa.doc_id, pb.doc_id)
       |SELECT rk, a, b, n_shared FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY n_shared DESC, a, b) AS BIGINT)
       |           AS rk, a, b, n_shared
       |  FROM matches) t
       |WHERE rk <= $FpTop
       |ORDER BY rk""".stripMargin
  }

  // ---------------------------------------------------------------- x305

  /** SDXL-style constant-area bucket set (≈ 512² px) and the LCM of the
    * bucket heights, which turns the cross-multiplied aspect distance
    * into ONE integer sort key comparable across buckets. */
  private val AspectBuckets = Seq(
    (0, 512, 512), (1, 448, 576), (2, 576, 448), (3, 384, 640),
    (4, 640, 384), (5, 320, 768), (6, 768, 320))
  private val AspectLcm = 161280L // lcm(512,576,448,640,384,768,320)

  /** x305: aspect-ratio bucketing — the multimodal batching op every
    * image-training pipeline runs (constant-token batches need
    * near-constant-area shapes; bucketing by aspect ratio minimizes
    * crop loss). Each decoded image picks the bucket minimizing
    * |w/h − wb/hb|, computed EXACTLY: the distance ordering across
    * buckets cross-multiplies to `|w·hb − h·wb| · (LCM/hb)` — one BIGINT
    * key, deterministic ties by bucket id. The cover-crop loss is the
    * exact rational `|w·hb − h·wb| / max(w·hb, h·wb)`, quantized to ppm
    * by integer division. Published: per-bucket census + total/mean
    * crop ppm.
    *
    * Scale: one narrow map over the decoded metadata (7 literal buckets
    * per image), one group-by — the planning pass that runs BEFORE any
    * pixel moves. */
  def aspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val meta = graft.multimodal.Multimodal.decodeMeta(
      graft.multimodal.Multimodal.attachFakeMedia(
        Tables.documents(spark, dir))).toDF()
      .select($"doc_id", $"width".cast("long").as("w"),
        $"height".cast("long").as("h"))
    val buckets = AspectBuckets.toDF("bid", "bw", "bh")
      .select($"bid".cast("long").as("bid"), $"bw".cast("long").as("bw"),
        $"bh".cast("long").as("bh"))
    val scored = meta.crossJoin(broadcast(buckets))
      .withColumn("c", abs($"w" * $"bh" - $"h" * $"bw"))
      .withColumn("key", expr(s"c * ($AspectLcm div bh)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"key", $"bid")))
      .filter($"rk" === 1)
      .withColumn("crop_ppm",
        expr("(c * 1000000L) div greatest(w * bh, h * bw)"))
    scored.groupBy($"bid", $"bw", $"bh")
      .agg(count(lit(1)).as("n_images"),
        sum($"crop_ppm").as("total_crop_ppm"),
        expr("sum(crop_ppm) div count(1)").as("mean_crop_ppm"))
      .orderBy($"bid")
  }

  private val aspectBucketsOracle = {
    val bucketRows = AspectBuckets
      .map { case (id, w, h) => s"($id, $w, $h)" }.mkString(", ")
    s"""WITH meta AS (
       |  SELECT doc_id,
       |         CAST(64 + (${nib("text", 0)} * 16 + ${nib("text", 1)}) % 448 AS BIGINT) AS w,
       |         CAST(64 + (${nib("text", 2)} * 16 + ${nib("text", 3)}) % 448 AS BIGINT) AS h
       |  FROM documents),
       |b AS (SELECT CAST(bid AS BIGINT) AS bid, CAST(bw AS BIGINT) AS bw,
       |             CAST(bh AS BIGINT) AS bh
       |      FROM (VALUES $bucketRows) t(bid, bw, bh)),
       |scored AS (
       |  SELECT doc_id, bid, bw, bh,
       |         abs(w * bh - h * bw) AS c,
       |         abs(w * bh - h * bw) * ($AspectLcm // bh) AS key,
       |         greatest(w * bh, h * bw) AS mx,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY abs(w * bh - h * bw) * ($AspectLcm // bh), bid) AS rk
       |  FROM meta, b)
       |SELECT bid, bw, bh,
       |       CAST(count(*) AS BIGINT) AS n_images,
       |       CAST(sum((c * 1000000) // mx) AS BIGINT) AS total_crop_ppm,
       |       CAST(sum((c * 1000000) // mx) // count(*) AS BIGINT) AS mean_crop_ppm
       |FROM scored WHERE rk = 1
       |GROUP BY bid, bw, bh
       |ORDER BY bid""".stripMargin
  }

  /* The REAL-codec audit tier.
   * x360 gates the full video decode — geometry, frame count, container byte
   * arithmetic (BMP 4-byte row padding / PPM variable-length headers), total
   * luma — and x361 gates the RIFF/WAVE chunk walker against a file with an
   * unknown chunk spliced in (odd-size, so the even-byte padding rule is in
   * the oracle path too). */

  /** x360: per-doc decode audit over the real BMP/PPM video container.
    * container_bytes is what pins the byte-level encode: the oracle
    * recomputes the exact file sizes from the format specs (BMP:
    * 54 + rowpad(3w) * h per frame; PPM: 15 + digits(frame_idx) header +
    * 3wh per frame), so a padding or header-length defect fails here even
    * if the pixels happen to survive. Scale: one narrow mapPartitions,
    * zero shuffles before the final sort. */
  def videoDecodeMeta(spark: SparkSession, dir: String) = {
    MediaSynth.decodeVideoMeta(
      MediaSynth.synthVideos(Tables.documents(spark, dir)))
      .toDF().orderBy("doc_id")
  }

  private val videoDecodeMetaOracle =
    pixelCtes + s""",
       |tot AS (SELECT doc_id, CAST(sum(l) AS BIGINT) AS luma_sum FROM lm GROUP BY doc_id),
       |geo AS (SELECT doc_id, nf, w, h FROM s)
       |SELECT g.doc_id,
       |       CASE WHEN g.doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
       |       CAST(g.w AS INTEGER) AS width, CAST(g.h AS INTEGER) AS height,
       |       CAST(g.nf AS INTEGER) AS n_frames,
       |       CAST(CASE WHEN g.doc_id % 2 = 0
       |            THEN g.nf * (54 + (((3 * g.w + 3) // 4) * 4) * g.h)
       |            ELSE 15 * g.nf + least(g.nf, 10) + 2 * greatest(g.nf - 10, 0)
       |                 + 3 * g.w * g.h * g.nf END AS INTEGER) AS container_bytes,
       |       t.luma_sum
       |FROM geo g JOIN tot t ON t.doc_id = g.doc_id
       |ORDER BY g.doc_id""".stripMargin

  /** One WAV payload per doc: canonical PCM-u8 encode of the UTF-8 text
    * bytes, with an unknown odd-sized LIST chunk SPLICED between `fmt `
    * and `data` — real files carry metadata chunks there, and a naive
    * 44-byte-offset reader mis-reads every one of them. */
  private def synthWav(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (docId, text) =>
        val pcm = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        // the oracle computes energy/length from ascii() CODE POINTS, so
        // this tier (like x72) is only valid on the ASCII fixture — fail
        // LOUDLY on a multi-byte char instead of silently diverging
        require(pcm.length == text.length,
          s"doc $docId: non-ASCII text — x361's ascii() oracle does not apply")
        val canon = ImageCodec.encodeWav(pcm)
        val junk = "graftpd".getBytes(java.nio.charset.StandardCharsets.US_ASCII) // 7 bytes (odd)
        val out = new Array[Byte](canon.length + 8 + junk.length + 1)
        System.arraycopy(canon, 0, out, 0, 36) // RIFF..WAVE..fmt chunk
        out(36) = 'L'; out(37) = 'I'; out(38) = 'S'; out(39) = 'T'
        out(40) = junk.length.toByte // le32(7): low byte only, rest zero
        System.arraycopy(junk, 0, out, 44, junk.length)
        // out(44+7) left 0: the RIFF even-byte pad
        System.arraycopy(canon, 36, out, 52, canon.length - 36)
        // patch RIFF size (+16 for the spliced chunk incl. pad)
        val riff = (canon.length - 8) + 8 + junk.length + 1
        out(4) = (riff & 0xff).toByte; out(5) = ((riff >> 8) & 0xff).toByte
        out(6) = ((riff >> 16) & 0xff).toByte; out(7) = ((riff >> 24) & 0xff).toByte
        (docId, out)
      }.toDF("doc_id", "wav")
  }

  /** x361: WAV chunk-walk parity — decode the spliced file with the real
    * RIFF parser and emit per-doc PCM stats. The oracle knows the samples
    * are exactly the text's byte codes (ASCII fixture) and the container
    * is 60 + n bytes (44 canonical + 16 spliced), so a parser that
    * mis-walks chunks or forgets the odd-size pad diverges on every row. */
  def wavChunkWalk(spark: SparkSession, dir: String) = {
    import spark.implicits._
    synthWav(spark, dir).as[(Long, Array[Byte])].map { case (docId, wav) =>
      val pcm = ImageCodec.decodeWav(wav)
      var energy = 0L; var peak = 0; var i = 0
      while (i < pcm.samples.length) {
        val v = pcm.samples(i) & 0xff
        energy += v; if (v > peak) peak = v
        i += 1
      }
      (docId, pcm.sampleRate, pcm.samples.length, energy, peak, wav.length)
    }.toDF("doc_id", "sample_rate", "n_samples", "energy", "peak", "wav_bytes")
      .orderBy("doc_id")
  }

  private val wavChunkWalkOracle =
    s"""WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents)
       |SELECT doc_id, 8000 AS sample_rate, CAST(n AS INTEGER) AS n_samples,
       |       CAST(coalesce(list_sum(list_transform(range(1, n + 1),
       |              i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0) AS BIGINT) AS energy,
       |       CAST(coalesce(list_max(list_transform(range(1, n + 1),
       |              i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0) AS INTEGER) AS peak,
       |       CAST(60 + n AS INTEGER) AS wav_bytes
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /* Media ANALYTICS over the real decode — the operations
   * a multimodal curation pipeline runs once frames are actually parsed:
   * near-dup clustering of the x74 pHash pairs (x364), per-channel color
   * profiles (x365 — channel-exact, so an RGB/BGR defect that luma audits
   * can cancel still fails), and per-video motion profiling from frame
   * deltas (x366). All integer-exact, all pixels oracle-rederived from the
   * md5 formulas while Spark goes through real encoded bytes. */

  /** x364: pHash near-dup CLUSTERS — connected components over the real-
    * decode dHash pair set (x74), the media twin of x14's text clusters:
    * cluster id = min doc_id reachable, canonical = the cluster's keeper.
    * Scale: pairs come from the banded Hamming join (never all-pairs);
    * components converge in O(log diameter) star rounds. */
  def phashClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = phashNearDup(spark, dir).select($"a", $"b")
    val nodes = Tables.documents(spark, dir).select($"doc_id")
    graft.operators.Components.connectedComponentsStars(spark, nodes, pairs, "doc_id")
      .select($"doc_id", $"component".as("cluster_id"),
        ($"doc_id" === $"component").cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  private val phashClustersOracle =
    dhashCtesWith("WITH RECURSIVE") + s""",
       |bd0 AS (SELECT doc_id, phash, unnest(range(0, 3)) AS j FROM dh),
       |bd AS (SELECT doc_id, phash, j, (phash >> CAST(5 * j AS INTEGER)) & 31 AS bv FROM bd0),
       |pruned AS (SELECT doc_id, phash, j, bv
       |           FROM (SELECT *, count(*) OVER (PARTITION BY j, bv) AS bn FROM bd)
       |           WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.phash AS pa, y.phash AS pb
       |         FROM pruned x JOIN pruned y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |pairs2 AS (SELECT a, b FROM cand WHERE bit_count(xor(pa, pb)) <= 1),
       |edges AS (SELECT a AS src, b AS dst FROM pairs2
       |          UNION ALL SELECT b AS src, a AS dst FROM pairs2),
       |reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
       |          UNION
       |          SELECT e.src AS id, reach.r AS r FROM edges e JOIN reach ON e.dst = reach.id),
       |labeled AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
       |              CAST(min(r) = id AS INTEGER) AS is_canonical
       |            FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id, is_canonical
       |FROM labeled
       |ORDER BY doc_id""".stripMargin

  /** Histogram bins for x365 (bin = value * 4 / 256 = value // 64). */
  private val HistBins = 4

  /** x365: per-channel color profile over every decoded frame's pixels —
    * the corpus-QA view a vision-data pipeline runs (dominant-channel
    * skew, clipped-range detection). Emitted per (doc, channel, bin) with
    * exact integer counts; the full decode → histogram pass is one narrow
    * flatMap, shuffled only by the driver-facing ORDER BY. */
  def channelHist(spark: SparkSession, dir: String): DataFrame = {
    MediaSynth.decodeChannelHist(
      MediaSynth.synthVideos(Tables.documents(spark, dir)), HistBins)
      .toDF().orderBy("doc_id", "channel", "bin")
  }

  private val channelHistOracle =
    pixelCtes + s""",
       |u AS (SELECT doc_id,
       |        unnest([{'channel': 'r', 'v': r}, {'channel': 'g', 'v': g},
       |                {'channel': 'b', 'v': b}]) AS cv
       |      FROM px),
       |grid AS (SELECT doc_id, channel, bin
       |         FROM (SELECT DISTINCT doc_id FROM documents)
       |         CROSS JOIN (SELECT unnest(['r', 'g', 'b']) AS channel)
       |         CROSS JOIN (SELECT unnest(range(0, $HistBins)) AS bin)),
       |h AS (SELECT doc_id, cv.channel AS channel,
       |        CAST(cv.v * $HistBins // 256 AS INTEGER) AS bin,
       |        CAST(count(*) AS BIGINT) AS n
       |      FROM u GROUP BY 1, 2, 3)
       |SELECT g.doc_id, g.channel, CAST(g.bin AS INTEGER) AS bin,
       |       coalesce(h.n, 0) AS n
       |FROM grid g LEFT JOIN h ON h.doc_id = g.doc_id
       |  AND h.channel = g.channel AND h.bin = g.bin
       |ORDER BY g.doc_id, g.channel, g.bin""".stripMargin

  /** x366: motion profile — per-video total and peak frame-to-frame
    * change, the shot-activity statistic a frame sampler budgets by:
    * dist(i) = L1 distance of quadrant luma sums to the previous frame
    * (x75's cut signal), aggregated exactly (BIGINTs). Single-frame
    * videos profile as zero motion. */
  def motionProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = MediaSynth.decodeFrameStats(
      MediaSynth.synthVideos(Tables.documents(spark, dir))).toDF()
    val w = Window.partitionBy($"doc_id").orderBy($"frame_idx")
    val dist = abs($"s0" - lag($"s0", 1).over(w)) + abs($"s1" - lag($"s1", 1).over(w)) +
      abs($"s2" - lag($"s2", 1).over(w)) + abs($"s3" - lag($"s3", 1).over(w))
    frames.withColumn("dist", dist)
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("int").as("n_frames"),
        coalesce(sum($"dist"), lit(0L)).as("total_motion"),
        coalesce(max($"dist"), lit(0L)).as("max_step"))
      .orderBy("doc_id")
  }

  private val motionProfileOracle =
    frameQuadCtes + s""",
       |d AS (SELECT doc_id, frame_idx,
       |        abs(s0 - lag(s0) OVER w) + abs(s1 - lag(s1) OVER w)
       |        + abs(s2 - lag(s2) OVER w) + abs(s3 - lag(s3) OVER w) AS dist
       |      FROM fq
       |      WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))
       |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_frames,
       |       CAST(coalesce(sum(dist), 0) AS BIGINT) AS total_motion,
       |       CAST(coalesce(max(dist), 0) AS BIGINT) AS max_step
       |FROM d GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** x368: audio decimation through the REAL RIFF parse — decode the WAV,
    * halve the sample rate (mean of adjacent pairs, truncating integer;
    * odd tail passes through), re-encode, re-decode, emit the audited
    * stats. Both encode passes and both chunk walks sit in the oracle
    * path: a length/offset defect anywhere in the WAV layer diverges
    * n_out/bytes_out, an arithmetic defect diverges energy_out. */
  def wavDownsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select($"doc_id", $"text")
      .as[(Long, String)].map { case (docId, text) =>
        val pcm = ImageCodec.decodeWav(ImageCodec.encodeWav(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8), 8000))
        val in = pcm.samples
        // ascii() oracle ⇒ ASCII-only fixture contract; fail loudly (x361)
        require(in.length == text.length,
          s"doc $docId: non-ASCII text — x368's ascii() oracle does not apply")
        val nOut = (in.length + 1) / 2
        val out = new Array[Byte](nOut)
        var k = 0
        while (k < nOut) {
          val a = in(2 * k) & 0xff
          out(k) = (if (2 * k + 1 < in.length) (a + (in(2 * k + 1) & 0xff)) / 2
                    else a).toByte
          k += 1
        }
        val re = ImageCodec.decodeWav(ImageCodec.encodeWav(out, 4000))
        var energy = 0L
        re.samples.foreach(b => energy += (b & 0xff))
        (docId, in.length, re.samples.length, re.sampleRate, energy,
          44 + re.samples.length)
      }.toDF("doc_id", "n_in", "n_out", "rate_out", "energy_out", "bytes_out")
      .orderBy("doc_id")
  }

  private val wavDownsampleOracle =
    s"""WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |d AS (SELECT doc_id, n, (n + 1) // 2 AS nout,
       |        coalesce(list_sum(list_transform(range(0, (n + 1) // 2), k ->
       |          CASE WHEN 2 * k + 2 <= n
       |               THEN (ascii(substr(text, CAST(2 * k + 1 AS INTEGER), 1))
       |                     + ascii(substr(text, CAST(2 * k + 2 AS INTEGER), 1))) // 2
       |               ELSE ascii(substr(text, CAST(2 * k + 1 AS INTEGER), 1)) END)), 0) AS energy
       |      FROM c)
       |SELECT doc_id, CAST(n AS INTEGER) AS n_in, CAST(nout AS INTEGER) AS n_out,
       |       4000 AS rate_out, CAST(energy AS BIGINT) AS energy_out,
       |       CAST(44 + nout AS INTEGER) AS bytes_out
       |FROM d
       |ORDER BY doc_id""".stripMargin

  /** Mean-luma admission band for x369 (cross-multiplied integers: a doc
    * passes when LumaLo * n_pixels <= luma_sum <= LumaHi * n_pixels).
    * md5 pixels average ~127.5 with per-doc-mean sd ~6, so the band
    * admits a nontrivial fraction on both sides at every SF. */
  private val LumaLo = 124L
  private val LumaHi = 131L

  /** x369: multimodal curation capstone v1 — the composed intake pipeline
    * a vision-language corpus runs, one dataflow over the REAL decode:
    * (1) parse every frame; (2) exposure gate on mean luma (exact
    * cross-multiplied band); (3) liveness gate n_frames >= 2 (stills
    * can't motion-sample); (4) perceptual dedup among the gate-passers —
    * canonical = min doc_id per 15-bit dHash. Emits the full per-doc
    * audit (gate flags + canonicality + final admission), ONE oracle
    * statement over the shared pixel CTEs. Scale: stages share a single
    * decode; dedup is a signature groupBy, never pairwise. */
  def mediaCurationV1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vids = MediaSynth.synthVideos(Tables.documents(spark, dir))
      .localCheckpoint(true) // decode feeds two consumers (meta + dhash)
    val meta = MediaSynth.decodeVideoMeta(vids).toDF()
      .select($"doc_id", $"width", $"height", $"n_frames", $"luma_sum")
      .withColumn("n_pixels",
        $"width".cast("long") * $"height" * $"n_frames")
      .withColumn("pass_luma",
        ($"luma_sum" >= lit(LumaLo) * $"n_pixels" &&
          $"luma_sum" <= lit(LumaHi) * $"n_pixels").cast("int"))
      .withColumn("pass_frames", ($"n_frames" >= 2).cast("int"))
    val sigs = MediaSynth.dhashReal(vids).toDF()
    val gated = meta.join(sigs, "doc_id")
    val canon = gated.filter($"pass_luma" === 1 && $"pass_frames" === 1)
      .groupBy($"phash").agg(min($"doc_id").as("canonical"))
    gated.join(canon, Seq("phash"), "left")
      .select($"doc_id", $"pass_luma", $"pass_frames",
        when($"pass_luma" === 1 && $"pass_frames" === 1 && $"doc_id" === $"canonical", 1)
          .otherwise(0).as("admitted"))
      .orderBy("doc_id")
  }

  private val mediaCurationOracle =
    dhashCtes + s""",
       |tot AS (SELECT doc_id, CAST(sum(l) AS BIGINT) AS luma_sum FROM lm GROUP BY doc_id),
       |meta AS (SELECT s.doc_id, s.nf,
       |           CAST(s.w AS BIGINT) * s.h * s.nf AS n_pixels, t.luma_sum
       |         FROM s JOIN tot t ON t.doc_id = s.doc_id),
       |gates AS (SELECT m.doc_id, dh.phash,
       |            CASE WHEN m.luma_sum >= $LumaLo * m.n_pixels
       |                  AND m.luma_sum <= $LumaHi * m.n_pixels THEN 1 ELSE 0 END AS pass_luma,
       |            CASE WHEN m.nf >= 2 THEN 1 ELSE 0 END AS pass_frames
       |          FROM meta m JOIN dh ON dh.doc_id = m.doc_id),
       |canon AS (SELECT phash, min(doc_id) AS canonical FROM gates
       |          WHERE pass_luma = 1 AND pass_frames = 1 GROUP BY phash)
       |SELECT g.doc_id, g.pass_luma, g.pass_frames,
       |       CASE WHEN g.pass_luma = 1 AND g.pass_frames = 1
       |             AND g.doc_id = c.canonical THEN 1 ELSE 0 END AS admitted
       |FROM gates g LEFT JOIN canon c ON c.phash = g.phash
       |ORDER BY g.doc_id""".stripMargin

  /* The COMPRESSED-format tier — the same media pipeline
   * through real GIF89a/LZW payloads. The pixels are identical to the
   * BMP/PPM path (palette index = integer luma), so the existing md5-pixel
   * oracles gate the LZW implementation itself: a bit-packing, code-width,
   * sub-block, or table-rebuild defect diverges the decoded lumas and
   * fails the hash compare. */

  /** x382: scene segmentation through the GIF/LZW decode — x75's exact
    * pipeline (quadrant luma sums, L1 cut threshold) over frames that
    * arrive LZW-compressed in one animated GIF per doc. Same oracle shape
    * as x75; what's new under test is the compressed codec in the decode
    * stage. */
  def gifSceneParity(spark: SparkSession, dir: String): DataFrame = {
    sceneSummary(withCuts(MediaSynth.decodeFrameStats(
      MediaSynth.synthGifVideos(Tables.documents(spark, dir))).toDF()))
  }

  /** x383: cross-format dHash parity — the perceptual signature computed
    * from the GIF/LZW decode must equal the one the BMP/PPM path (x74)
    * produces, because both decode to the same pixels: one corpus, three
    * codecs, one signature. The oracle is the md5-pixel dHash derivation
    * itself. */
  def gifDhashCrossformat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    MediaSynth.dhashReal(
      MediaSynth.synthGifVideos(Tables.documents(spark, dir))).toDF()
      .select($"doc_id", $"phash")
      .orderBy("doc_id")
  }

  private val gifDhashOracle =
    dhashCtes + s"""
       |SELECT doc_id, CAST(phash AS INTEGER) AS phash
       |FROM dh
       |ORDER BY doc_id""".stripMargin

  /* PNG/DEFLATE joins the codec family, and the
   * universal mixed-format reader — four codecs, one pixel oracle. */

  /** x384: scene segmentation through PNG/DEFLATE — x75's pipeline over
    * per-frame PNG payloads: zlib inflate + CRC-verified chunk walk +
    * the full five-filter reconstruction (the encoder cycles the filter
    * per row, so Sub/Up/Average/Paeth all sit in the oracle path, not
    * just filter None). Same pixel oracle as x75/x382 — what's new under
    * test is DEFLATE and the filter suite. */
  def pngSceneParity(spark: SparkSession, dir: String): DataFrame = {
    sceneSummary(withCuts(MediaSynth.decodeFrameStats(
      MediaSynth.synthPngVideos(Tables.documents(spark, dir))).toDF()))
  }

  /** x385: the universal reader census — one corpus whose container
    * format cycles doc_id % 4 (BMP / PPM / animated GIF / concatenated
    * PNGs), decoded by ONE magic-dispatch reader into identical pixels:
    * per-doc format, frame count, geometry, total luma. The lake-intake
    * reality check: four codecs, one oracle. */
  def mixedFormatCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = MediaSynth.decodeFrameStats(
      MediaSynth.synthMixedVideos(Tables.documents(spark, dir))).toDF()
    frames.groupBy($"doc_id")
      .agg(count(lit(1)).cast("int").as("n_frames"),
        max($"width").as("width"), max($"height").as("height"),
        sum($"s0" + $"s1" + $"s2" + $"s3").as("luma_sum"))
      .select($"doc_id",
        element_at(array(lit("bmp"), lit("ppm"), lit("gif"), lit("png")),
          ($"doc_id" % 4 + 1).cast("int")).as("fmt"),
        $"n_frames", $"width", $"height", $"luma_sum")
      .orderBy("doc_id")
  }

  private val mixedFormatOracle =
    pixelCtes + s""",
       |tot AS (SELECT doc_id, CAST(sum(l) AS BIGINT) AS luma_sum FROM lm GROUP BY doc_id)
       |SELECT s.doc_id,
       |       ['bmp', 'ppm', 'gif', 'png'][CAST(s.doc_id % 4 + 1 AS INTEGER)] AS fmt,
       |       CAST(s.nf AS INTEGER) AS n_frames,
       |       CAST(s.w AS INTEGER) AS width, CAST(s.h AS INTEGER) AS height,
       |       t.luma_sum
       |FROM s JOIN tot t ON t.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /* Decode-budget pushdown — the media twin of column
   * pruning: a frame sampler that never touches the pixels of skipped
   * frames. */

  private val SampleK = 3

  /** x386: sampled decode with header-only skips — keep every 3rd frame
    * of the BMP/PPM container, skipping the rest via length peeks (BMP
    * bfSize / PPM header+3wh), and emit the budget audit: frames and
    * bytes decoded vs total, plus the sampled frames' luma sum. The
    * oracle recomputes the byte arithmetic from the format specs and the
    * sampled luma from the pixel CTEs — a wrong peek length would
    * desynchronize every subsequent frame and fail the hash. At 100 TB
    * this is the decode-budget story: a k=3 sampler reads ~1/3 of the
    * media bytes, not all of them. */
  def sampledDecodeBudget(spark: SparkSession, dir: String): DataFrame = {
    MediaSynth.decodeSampledStats(
      MediaSynth.synthVideos(Tables.documents(spark, dir)), SampleK)
      .toDF().orderBy("doc_id")
  }

  private val sampledDecodeOracle =
    pixelCtes + s""",
       |fsz AS (SELECT doc_id, i,
       |          CASE WHEN doc_id % 2 = 0
       |               THEN 54 + (((3 * w + 3) // 4) * 4) * h
       |               ELSE 15 + length(CAST(i AS VARCHAR)) + 3 * w * h END AS fb
       |        FROM fr),
       |bud AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_frames,
       |          CAST(sum(CASE WHEN i % $SampleK = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_decoded,
       |          CAST(sum(fb) AS INTEGER) AS bytes_total,
       |          CAST(sum(CASE WHEN i % $SampleK = 0 THEN fb ELSE 0 END) AS INTEGER) AS bytes_decoded
       |        FROM fsz GROUP BY doc_id),
       |sl AS (SELECT doc_id, CAST(sum(l) AS BIGINT) AS luma_sum
       |       FROM lm WHERE i % $SampleK = 0 GROUP BY doc_id)
       |SELECT b.doc_id, b.n_frames, b.n_decoded, b.bytes_total, b.bytes_decoded,
       |       sl.luma_sum
       |FROM bud b JOIN sl ON sl.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /* The JPEG tier — the
   * entropy-coded codec joins the oracle-gated family. Fixtures are
   * block-constant (DC-only blocks decode integer-exactly under quantizer
   * 1, see [[graft.multimodal.JpegCodec]]), so the DuckDB oracle re-derives
   * the exact pixels from md5 formulas while Spark decodes real
   * Huffman-coded bytes: a bit-packing, stuffing, canonical-table, zigzag,
   * dequant, IDCT, upsampling, or color-matrix defect fails the hash. */
  /** Byte `k` (0-based) of md5 over SQL string expression `e`. */
  private def md5Byte(e: String, k: Int): String = {
    val p1 = 2 * k + 1
    s"((strpos($Hex, substr(md5($e), $p1, 1)) - 1) * 16 " +
      s"+ (strpos($Hex, substr(md5($e), ${p1 + 1}, 1)) - 1))"
  }

  /** Text cell for block `cellIdx` at stride `mult` (MediaSynth.cellByte
    * mirror): substr(text, ((cellIdx*mult) % greatest(1,clen)) + 1, 13). */
  private def cellExpr(cellIdx: String, mult: Int): String =
    s"substr(text, CAST((($cellIdx) * $mult) % clen + 1 AS INTEGER), ${MediaSynth.JpegCellLen})"

  // ---------------------------------------------------------------- x387 --

  /** x387: grayscale JPEG decode, block-exact. Every 8x8 block of every
    * frame decodes through the full baseline pipeline (canonical Huffman,
    * 0xFF00 un-stuffing, zigzag dequant, IDCT) and must come back UNIFORM
    * at the md5-derived value — the strongest possible oracle for a lossy
    * container: byte-exact pixels, one row per block. */
  def jpegBlockDecode(spark: SparkSession, dir: String): DataFrame =
    MediaSynth.decodeJpegBlockStats(
      MediaSynth.synthJpegVideos(Tables.documents(spark, dir)))
      .toDF().orderBy("doc_id", "frame_idx", "by", "bx")

  private val jpegBlockOracle =
    s"""WITH m AS (SELECT doc_id, text, greatest(1, length(text)) AS clen,
       |             1 + ${nib("text", 0)} % ${MediaSynth.JpegNFramesMod} AS nf,
       |             2 + ${nib("text", 1)} % ${MediaSynth.JpegBwMod} AS bw,
       |             2 + ${nib("text", 2)} % ${MediaSynth.JpegBhMod} AS bh
       |           FROM documents),
       |fr AS (SELECT doc_id, text, clen, bw, bh, unnest(range(0, nf)) AS i FROM m),
       |rw AS (SELECT *, unnest(range(0, bh)) AS by FROM fr),
       |cl AS (SELECT *, unnest(range(0, bw)) AS bx FROM rw)
       |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |       CAST(by AS INTEGER) AS by, CAST(bx AS INTEGER) AS bx,
       |       CAST(${md5Byte(cellExpr("(i * bh + by) * bw + bx", MediaSynth.JpegYMult), 0)} AS INTEGER) AS v
       |FROM cl
       |ORDER BY doc_id, frame_idx, by, bx""".stripMargin

  // ---------------------------------------------------------------- x388 --

  /** x388: JPEG-vs-BMP cross-format parity (the x383 pattern for the
    * entropy-coded tier): identical gray pixels through the Huffman
    * pipeline and the flat-raster pipeline must sum to identical decoded
    * luma — and both must equal the oracle's formula value. */
  def jpegBmpParity(spark: SparkSession, dir: String): DataFrame =
    MediaSynth.jpegBmpParity(Tables.documents(spark, dir))
      .toDF().orderBy("doc_id")

  private val jpegBmpParityOracle =
    s"""WITH m AS (SELECT doc_id, text, greatest(1, length(text)) AS clen,
       |             1 + ${nib("text", 0)} % ${MediaSynth.JpegNFramesMod} AS nf,
       |             2 + ${nib("text", 1)} % ${MediaSynth.JpegBwMod} AS bw,
       |             2 + ${nib("text", 2)} % ${MediaSynth.JpegBhMod} AS bh
       |           FROM documents),
       |fr AS (SELECT doc_id, text, clen, nf, bw, bh, unnest(range(0, nf)) AS i FROM m),
       |rw AS (SELECT *, unnest(range(0, bh)) AS by FROM fr),
       |cl AS (SELECT *, unnest(range(0, bw)) AS bx FROM rw),
       |bv AS (SELECT doc_id, nf,
       |         ${md5Byte(cellExpr("(i * bh + by) * bw + bx", MediaSynth.JpegYMult), 0)} AS v
       |       FROM cl)
       |SELECT doc_id, CAST(nf AS INTEGER) AS n_frames,
       |       CAST(64 * sum(v) AS BIGINT) AS luma_jpeg,
       |       CAST(64 * sum(v) AS BIGINT) AS luma_bmp
       |FROM bv GROUP BY doc_id, nf
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- x389 --

  /** x389: 4:2:0 color JPEG — three interleaved components, per-component
    * DC predictors and Huffman tables, box chroma upsampling, JFIF
    * YCbCr→RGB with floor(x+0.5). The oracle recomputes the per-frame RGB
    * channel sums from the Y/Cb/Cr block formulas through the SAME matrix
    * (forced DOUBLE arithmetic — both engines run IEEE-754 on identical
    * literals, so the rounding is bit-identical). */
  def jpeg420ColorDecode(spark: SparkSession, dir: String): DataFrame =
    MediaSynth.decodeJpeg420ChannelSums(
      MediaSynth.synthJpeg420Videos(Tables.documents(spark, dir)))
      .toDF().orderBy("doc_id", "frame_idx")

  private def dbl(x: String) = s"CAST($x AS DOUBLE)"
  private val jpeg420Oracle = {
    val yv = md5Byte(cellExpr("(i * 4 * mw * mh) + by * (2 * mw) + bx", MediaSynth.JpegYMult), 0)
    val cbv = md5Byte(cellExpr("(i * mw * mh) + (by // 2) * mw + (bx // 2)", MediaSynth.JpegChromaMult), 1)
    val crv = md5Byte(cellExpr("(i * mw * mh) + (by // 2) * mw + (bx // 2)", MediaSynth.JpegChromaMult), 2)
    s"""WITH m AS (SELECT doc_id, text, greatest(1, length(text)) AS clen,
       |             1 + ${nib("text", 0)} % ${MediaSynth.JpegNFramesMod} AS nf,
       |             1 + ${nib("text", 1)} % ${MediaSynth.JpegMcuMod} AS mw,
       |             1 + ${nib("text", 2)} % ${MediaSynth.JpegMcuMod} AS mh
       |           FROM documents),
       |fr AS (SELECT doc_id, text, clen, mw, mh, unnest(range(0, nf)) AS i FROM m),
       |rw AS (SELECT *, unnest(range(0, 2 * mh)) AS by FROM fr),
       |cl AS (SELECT *, unnest(range(0, 2 * mw)) AS bx FROM rw),
       |ycc AS (SELECT doc_id, i, $yv AS y, $cbv AS cb, $crv AS cr FROM cl),
       |rgb AS (SELECT doc_id, i,
       |          least(255, greatest(0, CAST(floor(y + ${dbl("1.402")} * (cr - 128) + 0.5) AS INTEGER))) AS r,
       |          least(255, greatest(0, CAST(floor(y - ${dbl("0.344136")} * (cb - 128) - ${dbl("0.714136")} * (cr - 128) + 0.5) AS INTEGER))) AS g,
       |          least(255, greatest(0, CAST(floor(y + ${dbl("1.772")} * (cb - 128) + 0.5) AS INTEGER))) AS b
       |        FROM ycc)
       |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |       CAST(64 * sum(r) AS BIGINT) AS r_sum,
       |       CAST(64 * sum(g) AS BIGINT) AS g_sum,
       |       CAST(64 * sum(b) AS BIGINT) AS b_sum
       |FROM rgb GROUP BY doc_id, i
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  // --------------------------------------------------------- x391 / x392 --

  /** Shared oracle for the color-sampling family: per-frame RGB channel
    * sums for Y sampling (hy, vy) — the Y grid is (vy·mh) x (hy·mw)
    * blocks, chroma constant per MCU at (by//vy, bx//hy). x389 is the
    * (2,2) member; these parameterize the same formulas. */
  private def jpegYccOracle(hy: Int, vy: Int): String = {
    val bpm = hy * vy
    val yv = md5Byte(cellExpr(s"(i * $bpm * mw * mh) + by * ($hy * mw) + bx", MediaSynth.JpegYMult), 0)
    val cbv = md5Byte(cellExpr(s"(i * mw * mh) + (by // $vy) * mw + (bx // $hy)", MediaSynth.JpegChromaMult), 1)
    val crv = md5Byte(cellExpr(s"(i * mw * mh) + (by // $vy) * mw + (bx // $hy)", MediaSynth.JpegChromaMult), 2)
    s"""WITH m AS (SELECT doc_id, text, greatest(1, length(text)) AS clen,
       |             1 + ${nib("text", 0)} % ${MediaSynth.JpegNFramesMod} AS nf,
       |             1 + ${nib("text", 1)} % ${MediaSynth.JpegMcuMod} AS mw,
       |             1 + ${nib("text", 2)} % ${MediaSynth.JpegMcuMod} AS mh
       |           FROM documents),
       |fr AS (SELECT doc_id, text, clen, mw, mh, unnest(range(0, nf)) AS i FROM m),
       |rw AS (SELECT *, unnest(range(0, $vy * mh)) AS by FROM fr),
       |cl AS (SELECT *, unnest(range(0, $hy * mw)) AS bx FROM rw),
       |ycc AS (SELECT doc_id, i, $yv AS y, $cbv AS cb, $crv AS cr FROM cl),
       |rgb AS (SELECT doc_id, i,
       |          least(255, greatest(0, CAST(floor(y + ${dbl("1.402")} * (cr - 128) + 0.5) AS INTEGER))) AS r,
       |          least(255, greatest(0, CAST(floor(y - ${dbl("0.344136")} * (cb - 128) - ${dbl("0.714136")} * (cr - 128) + 0.5) AS INTEGER))) AS g,
       |          least(255, greatest(0, CAST(floor(y + ${dbl("1.772")} * (cb - 128) + 0.5) AS INTEGER))) AS b
       |        FROM ycc)
       |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |       CAST(64 * sum(r) AS BIGINT) AS r_sum,
       |       CAST(64 * sum(g) AS BIGINT) AS g_sum,
       |       CAST(64 * sum(b) AS BIGINT) AS b_sum
       |FROM rgb GROUP BY doc_id, i
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** x391: 4:2:2 — two Y blocks per MCU share one chroma pair; the
    * horizontal-only box upsample is the branch 4:2:0 never runs. */
  def jpeg422ColorDecode(spark: SparkSession, dir: String): DataFrame =
    MediaSynth.decodeJpeg420ChannelSums(
      MediaSynth.synthJpegYccVideos(Tables.documents(spark, dir), 2, 1, "jpg422"))
      .toDF().orderBy("doc_id", "frame_idx")

  /** x392: 4:4:4 — no subsampling at all; every component block-aligned,
    * the MCU is one block per component and the upsample is the identity
    * (so a subsampling-index bug that 4:2:0/4:2:2 happen to mask shows
    * here, and vice versa). */
  def jpeg444ColorDecode(spark: SparkSession, dir: String): DataFrame =
    MediaSynth.decodeJpeg420ChannelSums(
      MediaSynth.synthJpegYccVideos(Tables.documents(spark, dir), 1, 1, "jpg444"))
      .toDF().orderBy("doc_id", "frame_idx")

  // ---------------------------------------------------------------- x390 --

  private val MjpegK = 3

  /** x390: decode-budget pushdown for the ENTROPY-CODED tier (x386's
    * story, harder format): a bare JPEG concatenation can only locate
    * frame N by Huffman-walking everything before it, so the container
    * carries an AVI-style length index — the sampler decodes every 3rd
    * frame and skips the rest via the prefix, never reading their entropy
    * bytes. Decoded lengths are cross-checked against the index, so a
    * desynchronized walk fails loudly; the sampled luma and counts are
    * oracle-gated from the md5 block formulas. */
  def mjpegSampledDecode(spark: SparkSession, dir: String): DataFrame =
    MediaSynth.decodeMjpegSampled(
      MediaSynth.synthMjpegIndexed(Tables.documents(spark, dir)), MjpegK)
      .toDF().orderBy("doc_id")

  private val mjpegSampledOracle =
    s"""WITH m AS (SELECT doc_id, text, greatest(1, length(text)) AS clen,
       |             1 + ${nib("text", 0)} % ${MediaSynth.JpegNFramesMod} AS nf,
       |             2 + ${nib("text", 1)} % ${MediaSynth.JpegBwMod} AS bw,
       |             2 + ${nib("text", 2)} % ${MediaSynth.JpegBhMod} AS bh
       |           FROM documents),
       |fr AS (SELECT doc_id, text, clen, nf, bw, bh, unnest(range(0, nf)) AS i FROM m),
       |sfr AS (SELECT * FROM fr WHERE i % $MjpegK = 0),
       |rw AS (SELECT *, unnest(range(0, bh)) AS by FROM sfr),
       |cl AS (SELECT *, unnest(range(0, bw)) AS bx FROM rw),
       |bv AS (SELECT doc_id, nf,
       |         ${md5Byte(cellExpr("(i * bh + by) * bw + bx", MediaSynth.JpegYMult), 0)} AS v
       |       FROM cl)
       |SELECT doc_id, CAST(nf AS INTEGER) AS n_frames,
       |       CAST((nf + ${MjpegK - 1}) // $MjpegK AS INTEGER) AS n_decoded,
       |       CAST(64 * sum(v) AS BIGINT) AS luma_sum
       |FROM bv GROUP BY doc_id, nf
       |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x128_keyframes",
      "keyframe extraction: one representative frame per detected scene, features attached (X7)",
      keyframes, Some(keyframesOracle)),
    QueryDef("x75_scene_segments",
      "scene-cut segmentation over per-frame features (L1 threshold, exact cut set) (X7)",
      sceneSegments, Some(sceneOracle)),
    QueryDef("x74_phash_neardup",
      "perceptual-hash (dHash) media near-dup via 3-band Hamming LSH (X7+X2)",
      phashNearDup, Some(phashOracle)),
    QueryDef("x76_vad_segments",
      "VAD-style activity segmentation: integer energy gate + gaps-and-islands segments (X7)",
      vadSegments, Some(vadSegmentsOracle)),
    QueryDef("x72_audio_windows",
      "overlapping audio sample windows with energy/peak stats (X7)",
      audioWindows, Some(audioWindowsOracle)),
    QueryDef("x70_multimodal_meta",
      "binary media column + typed mapPartitions metadata decode (X7)",
      multimodalMeta, Some(multimodalOracle)),
    QueryDef("x71_frame_sample",
      "frame sampling + per-frame feature extraction over media columns (X7)",
      frameSample, Some(frameSampleOracle)),
    QueryDef("x164_av_align",
      "audio-visual alignment: banded interval join of sampled frames to overlapping audio windows, best-energy pick",
      avAlign, Some(avAlignOracle)),
    QueryDef("x232_audio_fingerprint",
      "Shazam-style landmark-pair audio fingerprints over x72 windows: strict local peaks, packed (p1,p2,dt) prints, top shared-print doc pairs",
      audioFingerprint, Some(audioFingerprintOracle)),
    QueryDef("x305_aspect_buckets",
      "aspect-ratio bucketing for image batching: exact cross-multiplied bucket argmin + ppm crop-loss census",
      aspectBuckets, Some(aspectBucketsOracle)),
    QueryDef("x360_video_decode_meta",
      "real BMP/PPM container decode audit: geometry, frame count, byte-exact container sizes, total luma (X7)",
      videoDecodeMeta, Some(videoDecodeMetaOracle)),
    QueryDef("x361_wav_chunk_walk",
      "RIFF/WAVE chunk-walk decode parity over a spliced unknown chunk (odd size + pad) (X7)",
      wavChunkWalk, Some(wavChunkWalkOracle)),
    QueryDef("x364_phash_clusters",
      "connected-component media near-dup clusters over real-decode dHash pairs (X7+X2)",
      phashClusters, Some(phashClustersOracle)),
    QueryDef("x365_channel_hist",
      "per-channel color histograms over all decoded frames: channel-exact RGB audit + corpus color QA (X7)",
      channelHist, Some(channelHistOracle)),
    QueryDef("x366_motion_profile",
      "per-video motion profile from decoded frame deltas: total + peak L1 quadrant change (X7)",
      motionProfile, Some(motionProfileOracle)),
    QueryDef("x368_wav_downsample",
      "audio decimation through the real RIFF parse: decode -> halve rate (pair means) -> re-encode -> audited stats (X7)",
      wavDownsample, Some(wavDownsampleOracle)),
    QueryDef("x369_media_curation_v1",
      "multimodal curation capstone: one decode feeding exposure gate + liveness gate + perceptual dedup, one oracle statement (X7+X1)",
      mediaCurationV1, Some(mediaCurationOracle)),
    QueryDef("x382_gif_scene_parity",
      "scene segmentation through real GIF89a/LZW decode: x75's pipeline over compressed payloads, same pixel oracle (X7)",
      gifSceneParity, Some(sceneOracle)),
    QueryDef("x383_gif_dhash_crossformat",
      "cross-format perceptual-hash parity: GIF/LZW decode yields the same dHash as the BMP/PPM path (X7)",
      gifDhashCrossformat, Some(gifDhashOracle)),
    QueryDef("x384_png_scene_parity",
      "scene segmentation through PNG: zlib inflate, CRC-verified chunks, all five filter reconstructions, same pixel oracle (X7)",
      // pixel content is a function of text only, so every container
      // format reuses x75's oracle — the codec is the variable under test
      pngSceneParity, Some(sceneOracle)),
    QueryDef("x385_mixed_format_census",
      "universal reader census: BMP/PPM/GIF/PNG containers by doc_id % 4, one magic-dispatch decode, one pixel oracle (X7)",
      mixedFormatCensus, Some(mixedFormatOracle)),
    QueryDef("x386_sampled_decode_budget",
      "frame sampling with decode pushdown: header-only length peeks skip 2/3 of the media bytes, budget + sampled luma oracle-gated (X7)",
      sampledDecodeBudget, Some(sampledDecodeOracle)),
    QueryDef("x387_jpeg_block_decode",
      "baseline JPEG grayscale decode, block-exact: real Huffman/zigzag/IDCT pipeline vs md5 pixel oracle (X7)",
      jpegBlockDecode, Some(jpegBlockOracle)),
    QueryDef("x388_jpeg_bmp_parity",
      "cross-format parity: same pixels through the entropy-coded (JPEG) and flat-raster (BMP) pipelines, decoded luma identical (X7)",
      jpegBmpParity, Some(jpegBmpParityOracle)),
    QueryDef("x389_jpeg420_color",
      "4:2:0 color JPEG: interleaved MCUs, per-component predictors, box upsampling, JFIF YCbCr->RGB — channel sums oracle-gated (X7)",
      jpeg420ColorDecode, Some(jpeg420Oracle)),
    QueryDef("x390_mjpeg_sampled_decode",
      "decode-budget pushdown for the entropy-coded tier: AVI-style length index lets the sampler skip 2/3 of JPEG frames unread (X7)",
      mjpegSampledDecode, Some(mjpegSampledOracle)),
    QueryDef("x391_jpeg422_color",
      "4:2:2 JPEG: two Y blocks per MCU, horizontal-only chroma upsample — the sampling branch 4:2:0 never runs (X7)",
      jpeg422ColorDecode, Some(jpegYccOracle(2, 1))),
    QueryDef("x392_jpeg444_color",
      "4:4:4 JPEG: no subsampling, identity upsample — isolates the color matrix from the sampling indexing (X7)",
      jpeg444ColorDecode, Some(jpegYccOracle(1, 1))))
}
