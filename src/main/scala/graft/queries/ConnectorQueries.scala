package graft.queries

import graft.{QueryDef, Tables}
import graft.multimodal.Multimodal
import graft.sources.{PaginatedSource, SyntheticPageClient}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connector + multimodal coverage. The paginated-source query runs the full
  * SRC1→P1→F1–F4 path over a deterministic synthetic client (network-free);
  * because every generated field is a pure function of the item index, the
  * DuckDB oracle regenerates the expected rows directly from `range()` —
  * the Spark side additionally exercises the real JSON envelope layer
  * (the graft-pages reader's parse of each page into item rows). */
object ConnectorQueries {

  private val TotalItems = 1234
  private val QueryPageSize = 100

  def paginatedConnector(spark: SparkSession, dir: String) = {
    val client = new SyntheticPageClient(TotalItems, QueryPageSize)
    PaginatedSource.bulkExtract(spark, client, parallelism = 8, pageSize = QueryPageSize)
      .orderBy("hash")
  }

  private val paginatedOracle =
    """WITH r AS (SELECT unnest(range(0, 1234)) AS i),
      |f AS (SELECT
      |  'L-' || CAST(i % 997 AS VARCHAR) AS lead_id,
      |  'https://x/p/' || CAST(i AS VARCHAR) || '?utm=' || CAST(i AS VARCHAR) AS url,
      |  CASE WHEN i % 53 = 0 THEN '' ELSE 'S-' || CAST(i // 7 AS VARCHAR) END AS session_id,
      |  CAST(i % 5 AS VARCHAR) AS "order",
      |  CASE WHEN i % 37 = 0 THEN 'not-a-date'
      |       ELSE CAST(1 + i % 12 AS VARCHAR) || '/' || CAST(1 + i % 28 AS VARCHAR) || '/2025 ' ||
      |            CAST(1 + i % 12 AS VARCHAR) || ':' || lpad(CAST(i % 60 AS VARCHAR), 2, '0') || ':00 ' ||
      |            CASE WHEN i % 2 = 0 THEN 'AM' ELSE 'PM' END END AS rawdate,
      |  'T-' || CAST(i % 13 AS VARCHAR) AS type_id,
      |  'cat' || CAST(i % 3 AS VARCHAR) AS event_category,
      |  'ev_' || CAST(i % 11 AS VARCHAR) || '?src=mail' AS raw_event_name
      |FROM r)
      |SELECT lead_id, url, session_id, "order",
      |       try_strptime(rawdate, '%m/%d/%Y %I:%M:%S %p') AS date,
      |       type_id, event_category,
      |       substr(split_part(raw_event_name, '?', 1), 1, 256) AS event_name,
      |       substr(md5(concat_ws('|', lead_id, url, session_id, "order",
      |                            type_id, event_category, raw_event_name, rawdate)), 1, 16) AS hash
      |FROM f
      |ORDER BY hash""".stripMargin

  /** X7: media metadata extraction through the typed mapPartitions decode
    * stage. The fake decode derives metadata from md5 hex nibbles, which the
    * oracle reproduces with strpos-based hex parsing. */
  def multimodalMeta(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val media = Multimodal.attachFakeMedia(Tables.documents(spark, dir))
    Multimodal.decodeMeta(media).toDF().orderBy("doc_id")
  }

  private val multimodalOracle = {
    def nib(i: Int) = s"(strpos('0123456789abcdef', substr(md5(text), ${i + 1}, 1)) - 1)"
    s"""SELECT doc_id,
       |       CAST(strlen(text) AS INTEGER) AS media_len,
       |       CAST(64 + (${nib(0)} * 16 + ${nib(1)}) % 448 AS INTEGER) AS width,
       |       CAST(64 + (${nib(2)} * 16 + ${nib(3)}) % 448 AS INTEGER) AS height,
       |       CAST(1 + ${nib(0)} % 30 AS INTEGER) AS n_frames
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

  private val frameSampleOracle = {
    def nibOf(expr: String, i: Int) =
      s"(strpos('0123456789abcdef', substr(md5($expr), ${i + 1}, 1)) - 1)"
    s"""WITH m AS (SELECT doc_id, text,
       |             1 + ${nibOf("text", 0)} % 30 AS n_frames,
       |             length(text) AS clen
       |           FROM documents),
       |s AS (SELECT doc_id, text, clen, n_frames,
       |             greatest(1, clen // n_frames) AS stride
       |      FROM m),
       |f AS (SELECT doc_id, text, clen, stride, unnest(range(0, n_frames)) AS i FROM s),
       |fs AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |         substr(text, CAST(i * stride + 1 AS INTEGER), CAST(stride AS INTEGER)) AS ftext
       |       FROM f WHERE i % 3 = 0 AND i * stride < clen)
       |SELECT doc_id, frame_idx,
       |       CAST(strlen(ftext) AS INTEGER) AS frame_len,
       |       ${nibOf("ftext", 0)} / 15.0 AS f0,
       |       ${nibOf("ftext", 1)} / 15.0 AS f1,
       |       ${nibOf("ftext", 2)} / 15.0 AS f2,
       |       ${nibOf("ftext", 3)} / 15.0 AS f3
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
    MediaOracleSql.dhashCtes + s""",
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
  private[queries] val SceneTau = 1200L

  /** X7 stage 4 input: every decoded frame with its shot-boundary flag —
    * x75's cut pass, shared with x128's keyframe selection. Since r14 the
    * features are quadrant luma sums of REAL BMP/PPM-decoded pixels
    * ([[graft.multimodal.MediaSynth.decodeFrameStats]]); a cut fires when
    * the L1 distance to the previous frame exceeds τ. Narrow shapes end
    * to end: decode is partition-local, the only shuffle keys the per-doc
    * lag window and final aggregate. */
  private def framesWithCuts(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val frames = graft.multimodal.MediaSynth.decodeFrameStats(
      graft.multimodal.MediaSynth.synthVideos(Tables.documents(spark, dir))).toDF()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"frame_idx")
    val dist = abs($"s0" - lag($"s0", 1).over(w)) + abs($"s1" - lag($"s1", 1).over(w)) +
      abs($"s2" - lag($"s2", 1).over(w)) + abs($"s3" - lag($"s3", 1).over(w))
    frames.withColumn("cut", (dist > SceneTau).cast("int"))
  }

  def sceneSegments(spark: SparkSession, dir: String) = {
    import spark.implicits._
    framesWithCuts(spark, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("int").as("n_frames"),
        (lit(1) + coalesce(sum($"cut"), lit(0L))).cast("int").as("n_scenes"),
        md5(array_join(
          transform(sort_array(collect_list(when($"cut" === 1, $"frame_idx"))),
            _.cast("string")), ","))
          .as("cuts_md5"))
      .orderBy("doc_id")
  }

  /** The quadrant-sum chain ending in `c(doc_id, frame_idx, cut)` — one
    * definition for the x75 and x128 oracles (fq also feeds x128's
    * keyframe features). Pixels re-derived from the md5 formulas; the
    * Spark side got them through real encoded bytes. */
  private[queries] val sceneCtes: String =
    MediaOracleSql.frameQuadCtes + s""",
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

  lazy val defs: Seq[QueryDef] = Seq(
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
    QueryDef("src1_paginated_connector",
      "paginated REST connector end-to-end over synthetic envelope pages (SRC1,P1,F1-F4)",
      paginatedConnector, Some(paginatedOracle)),
    QueryDef("x70_multimodal_meta",
      "binary media column + typed mapPartitions metadata decode (X7)",
      multimodalMeta, Some(multimodalOracle)),
    QueryDef("x71_frame_sample",
      "frame sampling + per-frame feature extraction over media columns (X7)",
      frameSample, Some(frameSampleOracle)))
}
