package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Similarity}
import QueryUtil.halfUp4
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity family: dense-vector search (brute force, LSH, IVF, PQ and
  * their recall audits), outlier and hubness diagnostics, and coreset and
  * bitext selection over `embeddings`.
  *
  * Vector-similarity coverage over `embeddings` (north star X3): brute-force
  * cosine top-k, sign-LSH bucketed ANN, embedding near-dup pairs, and array
  * scalar ops. Embeddings are 64-dim unit vectors (norm ≈ 1), but cosine is
  * always computed with the full dot/(|a||b|) formula. */
object SimilarityQueries {

  /** DuckDB rendering of Similarity.cosine for vectors `$a.embedding` vs
    * `$b`: element-wise double cast, sequential sum, full normalization. */
  private[queries] def cosineSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |    * sqrt(list_sum(list_transform(range(1, len($b) + 1), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin

  /** X3 baseline: brute-force cosine top-5 for each query vector
    * (vec_id % 100 = 0). The query set is broadcast; the corpus is scanned
    * once with no shuffle; per-query top-k via ranking window on the (small)
    * pair set. 100 TB: identical plan — broadcast queries, scan corpus,
    * partial top-k per partition via TakeOrdered semantics. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Norms are precomputed per row BEFORE the pair join (identical doubles
    // to computing them per pair — sqrt of the same vec_dot(v,v) sum).
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    emb.join(broadcast(q), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id", $"cosine")
      .orderBy("q_id", "rk")
  }

  private val cosineTopKOracle =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
       |p AS (SELECT q_id, e.vec_id AS vec_id,
       |        round(${cosineSql("qv", "e.embedding")}, 4) AS cosine
       |      FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM p)
       |SELECT q_id, rk, vec_id, cosine FROM r
       |WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  /** X3 scale path: sign-projection LSH — candidates share an 8-bit
    * hyperoctant bucket, top-3 within bucket. Trades recall for a candidate
    * set ~1/256 of the corpus per query. */
  def signLshTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.signBucket($"embedding", 8).as("bkt"),
        Similarity.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"bkt", $"nrm".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    emb.join(broadcast(q), Seq("bkt")).filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"cosine")
      .orderBy("q_id", "rk")
  }

  private def bucketSql(v: String, bits: Int = 8): String =
    (1 to bits).map(i => s"CASE WHEN $v[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  private val ProbeBits = 8

  /** X3: MULTI-PROBE sign-LSH — each query searches its own hyperoctant
    * PLUS the 8 Hamming-distance-1 buckets (one sign bit flipped). A true
    * neighbor that disagrees with the query on exactly one of the 8
    * projected signs — the dominant miss mode of single-bucket LSH — is
    * recovered, at ~9/256 of the corpus per query instead of 1/256 (probe
    * buckets are distinct, so no candidate dedup is needed). Same join
    * shape as x31: probes broadcast, banded equi-join, per-query top-k.
    * Measured recall vs x30 exact is in PLANS.md. */
  def multiProbeLshTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        Similarity.signBucket($"embedding", ProbeBits).as("bkt"),
        Similarity.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"bkt", $"nrm".as("qn"))
    val probes = probeSet(q)
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    emb.join(broadcast(probes), $"bkt" === $"pbkt").filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"cosine")
      .orderBy("q_id", "rk")
  }

  /** The base bucket + its 8 Hamming-1 flips per query — x36's probe set,
    * extracted so x119 mines hard negatives from the SAME audited pool.
    * Probe buckets are pairwise distinct, so a corpus vector (living in
    * exactly one bucket) can match a query at most once — no dedup. */
  private def probeSet(q: DataFrame): DataFrame = {
    val flips = (1 to ProbeBits).map { i =>
      concat(
        substring(col("bkt"), 1, i - 1),
        when(substring(col("bkt"), i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bkt"), i + 1, ProbeBits - i))
    }
    q.select(col("q_id"), col("qv"), col("qn"),
      explode(array((col("bkt") +: flips): _*)).as("pbkt"))
  }

  private val multiProbeOracle = {
    val flipSelects = (1 to ProbeBits).map(i =>
      s"""SELECT q_id, qv, qn, substr(bkt, 1, ${i - 1}) || (CASE WHEN substr(bkt, $i, 1) = '1' THEN '0' ELSE '1' END) || substr(bkt, ${i + 1}, ${ProbeBits - i}) AS pbkt FROM q""")
      .mkString("\n       UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketSql("embedding", ProbeBits)} AS bkt,
       |             sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |           FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, bkt FROM e WHERE vec_id % 25 = 0),
       |probes AS (
       |       SELECT q_id, qv, qn, bkt AS pbkt FROM q
       |       UNION ALL $flipSelects),
       |p AS (SELECT probes.q_id, e.vec_id,
       |        round(${dotSql("probes.qv", "e.embedding")} / (probes.qn * e.nrm), 4) AS cosine
       |      FROM e JOIN probes ON e.bkt = probes.pbkt AND e.vec_id <> probes.q_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM p)
       |SELECT q_id, rk, vec_id, cosine FROM r
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  private val signLshOracle =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bkt FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, bkt FROM e WHERE vec_id % 25 = 0),
       |p AS (SELECT q.q_id, e.vec_id AS vec_id,
       |        round(${cosineSql("q.qv", "e.embedding")}, 4) AS cosine
       |      FROM e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM p)
       |SELECT q_id, rk, vec_id, cosine FROM r
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin

  /** x32 banding: 8 bands × 4 sign bits over dims 1..32. A pair collides
    * when any band's 4 signs all agree. At a realistic near-dup threshold
    * (cos 0.9) recall is ≥ 99.8% with 1/16 per-band candidate fraction; at
    * this fixture's deliberately weak 0.45 threshold (near-uniform vectors,
    * sign-agreement prob per dim only ~0.65) measured recall is 11/14
    * (sf0.01) / 110/144 (sf0.1) with ~2× pair pruning — the price of ANY
    * blocking when the similarity gap is weak. */
  private val NearDupBands = 8
  private val NearDupRowsPerBand = 4

  /** X2/X3: embedding near-dup pairs — cosine >= 0.45 among banded sign-LSH
    * candidates. The pair join is a shuffle equi-join on (band, 4-sign-bit
    * key) with the shared skew cap, NOT an O(n²) BroadcastNestedLoopJoin —
    * the join shape that survives 100 TB. The oracle reproduces the
    * identical banding, so both engines see the same candidate set. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(spark, dir).orderBy("a", "b")

  /** x32's verified pair set without the driver-facing ORDER BY — the
    * reusable core (x119 anti-joins it as the false-positive guard). */
  private def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"),
        Similarity.signBucket($"embedding", NearDupBands * NearDupRowsPerBand).as("sb"))
    val banded = emb.select($"vec_id",
      posexplode(array((0 until NearDupBands).map(t =>
        substring($"sb", t * NearDupRowsPerBand + 1, NearDupRowsPerBand)): _*))
        .as(Seq("band", "bh")))
    val cand = graft.operators.Dedup.bandSelfJoin(banded, "vec_id",
      graft.operators.Dedup.DefaultMaxBucket)
    // fence: keep the 64-dim vec_dot from being re-inlined into the
    // pushed-down threshold filter (would double the per-pair cost).
    cand
      .join(emb.select($"vec_id".as("a"), $"embedding".as("va"), $"nrm".as("na")), "a")
      .join(emb.select($"vec_id".as("b"), $"embedding".as("vb"), $"nrm".as("nb")), "b")
      .select($"a", $"b", QueryUtil.fence(
        round(Similarity.dot($"va", $"vb") / ($"na" * $"nb"), 4)).as("cosine"))
      .filter($"cosine" >= 0.45)
  }

  private val nearDupOracle = {
    val bands = (0 until NearDupBands).map(t =>
      s"SELECT vec_id, $t AS band, substr(sb, ${t * NearDupRowsPerBand + 1}, $NearDupRowsPerBand) AS bh FROM e")
      .mkString("\n       UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding,
       |             ${bucketSql("embedding", NearDupBands * NearDupRowsPerBand)} AS sb
       |           FROM embeddings),
       |bands AS (
       |       $bands),
       |bands_pruned AS (SELECT vec_id, band, bh
       |                 FROM (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bn FROM bands)
       |                 WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |         FROM bands_pruned x JOIN bands_pruned y
       |           ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id),
       |p AS (SELECT a, b,
       |        round(${cosineSql("ea.embedding", "eb.embedding")}, 4) AS cosine
       |      FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b)
       |SELECT a, b, cosine FROM p
       |WHERE cosine >= 0.45
       |ORDER BY a, b""".stripMargin
  }

  /** x119: hard-negative mining for contrastive training — for each anchor
    * (vec_id % 25 = 0), the 2 highest-cosine corpus vectors from the x36
    * multi-probe LSH pool that are NOT verified near-duplicates. The
    * near-dup exclusion anti-joins x32's banded verified pair set (both
    * orientations) — the standard "mine hard, then filter false negatives"
    * recipe: a near-dup of the anchor is almost surely a POSITIVE, and
    * training on it as a negative poisons the objective. Honest semantics
    * note: the exclusion is x32's pipeline verbatim, so a high-cosine pair
    * x32's banding MISSED stays in the pool — exactly the leakage a real
    * pipeline built on that dedup pass would have ([[x26]]-style recall
    * audits quantify it). Composition: x36 candidate generation + x32
    * exclusion + per-anchor top-k. Scale: probe pool is ~9/256 of the
    * corpus per anchor (anchors broadcast), the exclusion set is the
    * banded near-dup join (subquadratic), anti-join keys on
    * (anchor, candidate) — all keyed shuffles, no all-pairs stage. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        Similarity.signBucket($"embedding", ProbeBits).as("bkt"),
        Similarity.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"bkt", $"nrm".as("qn"))
    val pool = emb.join(broadcast(probeSet(q)), $"bkt" === $"pbkt")
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
    val nd = embeddingNearDupPairs(spark, dir).select($"a", $"b")
    val ndBoth = nd.select($"a".as("q_id"), $"b".as("vec_id"))
      .unionByName(nd.select($"b".as("q_id"), $"a".as("vec_id")))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    pool.join(ndBoth, Seq("q_id", "vec_id"), "left_anti")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 2)
      .select($"q_id", $"rk", $"vec_id", $"cosine")
      .orderBy("q_id", "rk")
  }

  private val hardNegativesOracle = {
    val flipSelects = (1 to ProbeBits).map(i =>
      s"""SELECT q_id, qv, qn, substr(bkt, 1, ${i - 1}) || (CASE WHEN substr(bkt, $i, 1) = '1' THEN '0' ELSE '1' END) || substr(bkt, ${i + 1}, ${ProbeBits - i}) AS pbkt FROM q""")
      .mkString("\n       UNION ALL ")
    val ndBands = (0 until NearDupBands).map(t =>
      s"SELECT vec_id, $t AS band, substr(sb, ${t * NearDupRowsPerBand + 1}, $NearDupRowsPerBand) AS bh FROM e")
      .mkString("\n       UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding,
       |             ${bucketSql("embedding", ProbeBits)} AS bkt,
       |             ${bucketSql("embedding", NearDupBands * NearDupRowsPerBand)} AS sb,
       |             sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |           FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, bkt FROM e WHERE vec_id % 25 = 0),
       |probes AS (
       |       SELECT q_id, qv, qn, bkt AS pbkt FROM q
       |       UNION ALL $flipSelects),
       |pool AS (SELECT probes.q_id, e.vec_id,
       |           round(${dotSql("probes.qv", "e.embedding")} / (probes.qn * e.nrm), 4) AS cosine
       |         FROM e JOIN probes ON e.bkt = probes.pbkt AND e.vec_id <> probes.q_id),
       |bands AS (
       |       $ndBands),
       |bands_pruned AS (SELECT vec_id, band, bh
       |                 FROM (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bn FROM bands)
       |                 WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
       |ndcand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |           FROM bands_pruned x JOIN bands_pruned y
       |             ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id),
       |nd AS (SELECT a, b FROM (
       |         SELECT a, b, round(${cosineSql("ea.embedding", "eb.embedding")}, 4) AS cosine
       |         FROM ndcand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b)
       |       WHERE cosine >= 0.45),
       |ndb AS (SELECT a AS q_id, b AS vec_id FROM nd UNION ALL SELECT b AS q_id, a AS vec_id FROM nd),
       |filt AS (SELECT p.q_id, p.vec_id, p.cosine FROM pool p
       |         WHERE NOT EXISTS (SELECT 1 FROM ndb n
       |                           WHERE n.q_id = p.q_id AND n.vec_id = p.vec_id)),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM filt)
       |SELECT q_id, rk, vec_id, cosine FROM r
       |WHERE rk <= 2
       |ORDER BY q_id, rk""".stripMargin
  }

  /** JL projection shape: [[JlIn]]-d embeddings → [[JlOut]]-d sketches via
    * a fixed ±1 sign matrix (Achlioptas 2003's database-friendly variant);
    * signs derived from md5 at BUILD time, so both engines receive the
    * identical literal ± chain. */
  private val JlOut = 16
  private val JlIn = 64

  private lazy val jlSigns: IndexedSeq[IndexedSeq[Boolean]] =
    (0 until JlOut).map { j =>
      (1 to JlIn).map { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(s"jl|$j|$d".getBytes("UTF-8"))
        ((h(0) >> 4) & 0xF) >= 8
      }
    }

  /** One projected coordinate as a left-associated `0.0 + x1 - x2 ...`
    * chain — identical parse, association, and IEEE sums in both engines;
    * `el` renders the engine-specific 1-based element access. */
  private def jlSumSql(j: Int, el: Int => String): String =
    (1 to JlIn).map { d =>
      val t = el(d)
      if (jlSigns(j)(d - 1)) s"+ $t" else s"- $t"
    }.mkString("(0.0 ", " ", ")")

  private def jlProjSql(el: Int => String, mk: Seq[String] => String): String =
    mk((0 until JlOut).map(j => s"CAST(${jlSumSql(j, el)} AS FLOAT)"))

  /** x125: random-projection (JL) sketching with an HONEST distortion
    * audit — the dimensionality-reduction step an embedding pipeline runs
    * before indexing when 4× less vector bandwidth is worth a bounded
    * cosine error: every vector is projected 64→16 dims through the fixed
    * sign matrix (a per-row map, zero shuffle, 1k flops/row), then a
    * deterministic anchor-pair sample (vec_id ≡ 0 mod 100 × vec_id ≡ 0
    * mod 97, a<b) compares exact 64-d cosine against the sketch's 16-d
    * cosine: pair count, mean/max absolute error, and both mean cosines
    * (per-pair values quantized to exact fixed point before the
    * order-free sums). The measured mean error IS the operator's quality
    * contract — the same audit-the-approximation discipline as x26/x107.
    * Scale: projection is map-only; the audit joins two broadcast-sized
    * anchor sets (~n/100 × ~n/97 pairs), never corpus×corpus. */
  def jlProjection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sparkEl = (d: Int) => s"CAST(element_at(embedding, $d) AS DOUBLE)"
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding",
      expr(jlProjSql(sparkEl, ts => s"array(${ts.mkString(", ")})")).as("proj"))
      .select($"vec_id", $"embedding", $"proj",
        Similarity.norm($"embedding").as("nrm"), Similarity.norm($"proj").as("pnrm"))
    val a = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("a"), $"embedding".as("va"), $"proj".as("pa"),
        $"nrm".as("na"), $"pnrm".as("pna"))
    val b = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("b"), $"embedding".as("vb"), $"proj".as("pb"),
        $"nrm".as("nb"), $"pnrm".as("pnb"))
    val pairs = b.join(broadcast(a), $"a" < $"b")
      .select(
        round(Similarity.dot($"va", $"vb") / ($"na" * $"nb"), 4).as("c64"),
        round(Similarity.dot($"pa", $"pb") / ($"pna" * $"pnb"), 4).as("c16"))
      .select(
        floor(abs($"c64" - $"c16") * 10000 + 0.5).cast("long").as("err_fp"),
        floor($"c64" * 10000 + 0.5).cast("long").as("c64_fp"),
        floor($"c16" * 10000 + 0.5).cast("long").as("c16_fp"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum($"err_fp").as("se"), max($"err_fp").as("me"),
        sum($"c64_fp").as("s64"), sum($"c16_fp").as("s16"))
      .select($"n_pairs",
        QueryUtil.halfUp($"se".cast("double") / ($"n_pairs" * 10000).cast("double"), 6)
          .as("mean_abs_err"),
        ($"me".cast("double") / 10000.0).as("max_abs_err"),
        QueryUtil.halfUp($"s64".cast("double") / ($"n_pairs" * 10000).cast("double"), 6)
          .as("mean_cos_exact"),
        QueryUtil.halfUp($"s16".cast("double") / ($"n_pairs" * 10000).cast("double"), 6)
          .as("mean_cos_proj"))
  }

  private lazy val jlProjectionOracle = {
    val duckEl = (d: Int) => s"CAST(embedding[$d] AS DOUBLE)"
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         ${jlProjSql(duckEl, ts => s"list_value(${ts.mkString(", ")})")} AS proj
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS c64,
       |         round(${cosineSql("a.proj", "b.proj")}, 4) AS c16
       |  FROM e a JOIN e b ON a.vec_id % 100 = 0 AND b.vec_id % 97 = 0 AND a.vec_id < b.vec_id),
       |f AS (
       |  SELECT CAST(floor(abs(c64 - c16) * 10000 + 0.5) AS BIGINT) AS err_fp,
       |         CAST(floor(c64 * 10000 + 0.5) AS BIGINT) AS c64_fp,
       |         CAST(floor(c16 * 10000 + 0.5) AS BIGINT) AS c16_fp
       |  FROM p)
       |SELECT count(*) AS n_pairs,
       |       floor((CAST(sum(err_fp) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS mean_abs_err,
       |       CAST(max(err_fp) AS DOUBLE) / 10000.0 AS max_abs_err,
       |       floor((CAST(sum(c64_fp) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS mean_cos_exact,
       |       floor((CAST(sum(c16_fp) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS mean_cos_proj
       |FROM f""".stripMargin
  }

  /** Rocchio feedback weight (q' = q + α·centroid(top-k)). */
  private val RocchioAlpha = 0.5
  private val RocchioFb = 3

  /** x129: dense pseudo-relevance feedback — the Rocchio update in
    * embedding space (the dense twin of x84's lexical PRF): round 1 runs
    * the exact dense top-[[RocchioFb]] per query, the query vector moves
    * toward the centroid of its feedback docs (q' = q + α·c̄, with the
    * centroid built from the x35 fixed-point recipe — per-dim 1e-6
    * half-up integer sums divided by k with integer `div`, so BOTH
    * engines derive the identical q'), and round 2 re-searches the
    * corpus with q' (cast to float, the audited x30 scan shape). Emits
    * the final top-3 with a flag for documents that were already in the
    * feedback set — the rank movement IS the operator's effect. Scale:
    * two broadcast-query corpus scans plus a 64-row-per-query centroid
    * aggregate; nothing quadratic. */
  def rocchioDense(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    val r1 = emb.join(broadcast(q), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= RocchioFb)
      .select($"q_id", $"vec_id")
    // per-dim fixed-point centroid of the feedback docs (the x35 recipe:
    // half-up 1e-6 integer sums — order-free — divided as DOUBLE, never
    // integer division, whose trunc-vs-floor semantics differ between the
    // engines on negative sums)
    val cent = r1.join(emb.select($"vec_id", $"embedding"), "vec_id")
      .select($"q_id", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"q_id", $"pos")
      .agg(sum(floor($"v".cast("double") * 1e6 + 0.5).cast("long")).as("sfp"))
    // q' assembled in dim order, cast to float for the audited scan shape
    val q2 = cent.join(q, "q_id")
      .select($"q_id", $"pos",
        (element_at($"qv", $"pos" + 1).cast("double")
          + lit(RocchioAlpha) * ($"sfp".cast("double") / lit(RocchioFb * 1e6)))
          .cast("float").as("qd"))
      .groupBy($"q_id")
      .agg(expr("transform(sort_array(collect_list(struct(pos, qd))), s -> s.qd)").as("q2v"))
      .select($"q_id", $"q2v", Similarity.norm($"q2v").as("q2n"))
    val w2 = Window.partitionBy($"q_id").orderBy($"cosine2".desc, $"vec_id")
    emb.join(broadcast(q2), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"q2v", $"embedding") / ($"q2n" * $"nrm"), 4).as("cosine2"))
      .withColumn("rk", row_number().over(w2))
      .filter($"rk" <= 3)
      .join(r1.withColumn("fb", lit(1)), Seq("q_id", "vec_id"), "left")
      .select($"q_id", $"rk", $"vec_id", $"cosine2",
        coalesce($"fb", lit(0)).as("was_feedback"))
      .orderBy("q_id", "rk")
  }

  private val rocchioDenseOracle =
    s"""WITH e AS (SELECT vec_id, embedding,
       |             sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |           FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id % 100 = 0),
       |p1 AS (SELECT q.q_id, e.vec_id,
       |         round(${dotSql("q.qv", "e.embedding")} / (q.qn * e.nrm), 4) AS cosine
       |       FROM e JOIN q ON e.vec_id <> q.q_id),
       |r1 AS (SELECT q_id, vec_id FROM (
       |         SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |         FROM p1) WHERE rk <= $RocchioFb),
       |cent AS (SELECT r1.q_id, dd.d,
       |           CAST(sum(CAST(floor(CAST(e.embedding[CAST(dd.d AS INTEGER)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sfp
       |         FROM r1 JOIN e ON e.vec_id = r1.vec_id,
       |              (SELECT unnest(range(1, 65)) AS d) dd
       |         GROUP BY r1.q_id, dd.d),
       |q2 AS (SELECT cent.q_id,
       |         list(CAST(CAST(q.qv[CAST(cent.d AS INTEGER)] AS DOUBLE)
       |                   + $RocchioAlpha * (CAST(cent.sfp AS DOUBLE) / ${RocchioFb * 1e6}) AS FLOAT)
       |              ORDER BY cent.d) AS q2v
       |       FROM cent JOIN q ON q.q_id = cent.q_id
       |       GROUP BY cent.q_id),
       |q2n AS (SELECT q_id, q2v, sqrt(${dotSql("q2v", "q2v")}) AS q2n FROM q2),
       |p2 AS (SELECT q2n.q_id, e.vec_id,
       |         round(${dotSql("q2n.q2v", "e.embedding")} / (q2n.q2n * e.nrm), 4) AS cosine2
       |       FROM e JOIN q2n ON e.vec_id <> q2n.q_id),
       |r2 AS (SELECT q_id, vec_id, cosine2,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cosine2 DESC, vec_id) AS rk
       |       FROM p2)
       |SELECT r2.q_id, r2.rk, r2.vec_id, r2.cosine2,
       |       CASE WHEN r1.vec_id IS NULL THEN 0 ELSE 1 END AS was_feedback
       |FROM r2 LEFT JOIN r1 ON r1.q_id = r2.q_id AND r1.vec_id = r2.vec_id
       |WHERE r2.rk <= 3
       |ORDER BY r2.q_id, r2.rk""".stripMargin

  /** X3 scale path #2 — IVF: a coarse quantizer (fixed centroid subset,
    * vec_id % 97) assigns every vector to its nearest centroid; each query
    * probes its nprobe=2 nearest clusters and searches only there. The
    * assignment/probe ranks compare cosines UNROUNDED — both engines hold
    * identical IEEE doubles, and r6 removed the round() that was itself
    * the only divergence channel. 100 TB: centroids broadcast, assignment is one scan,
    * search joins only within probed clusters (candidate set ~nprobe/k of
    * the corpus). */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv"), $"nrm".as("cn"))
    ivfSearch(spark, emb, cents)
  }

  /** nprobe=2 IVF search against an arbitrary (cent_id, cv, cn) quantizer —
    * shared by x34 (fixed seed centroids) and x35 (Lloyd-trained centroids).
    * Centroids are broadcast twice (corpus assignment + query probing);
    * the search join meets only vectors in a query's 2 probed clusters. */
  private def ivfSearch(spark: SparkSession, emb: DataFrame, cents: DataFrame): DataFrame = {
    import spark.implicits._
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
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(wTop)).filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"cosine")
      .orderBy("q_id", "rk")
  }

  private[queries] def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Shared CTE prefix: corpus with norms + the fixed seed quantizer.
    * `private[queries]` so x15's SemDeDup oracle reuses the exact same
    * fragments as x34/x35 — one definition, no drift. */
  private[queries] val ivfSeedSql =
    s"""e AS (SELECT vec_id, embedding,
       |             sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |           FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id % 97 = 0)""".stripMargin

  /** Nearest-centroid assignment of the whole corpus against centroid CTE
    * `$c` — `ac` + `assigned`. Shared by the x34/x35 search oracles and the
    * x15 SemDeDup oracle. */
  private[queries] def assignSql(c: String): String =
    s"""ac AS (SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
       |         ${dotSql("e.embedding", "c.cv")} / (e.nrm * c.cn) AS ccos
       |       FROM e CROSS JOIN $c c),
       |assigned AS (SELECT vec_id, embedding, nrm, cent_id
       |             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac)
       |             WHERE rn = 1)""".stripMargin

  /** DuckDB rendering of `ivfSearch` against centroid CTE `$c`. */
  private def ivfSearchSql(c: String): String =
    s"""${assignSql(c)},
       |qc AS (SELECT e.vec_id AS q_id, e.embedding AS qv, e.nrm AS qn, c.cent_id,
       |         ${dotSql("e.embedding", "c.cv")} / (e.nrm * c.cn) AS ccos
       |       FROM e CROSS JOIN $c c WHERE e.vec_id % 100 = 0),
       |probes AS (SELECT q_id, qv, qn, cent_id
       |           FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cent_id) AS rn FROM qc)
       |           WHERE rn <= 2),
       |p AS (SELECT probes.q_id, assigned.vec_id,
       |        round(${dotSql("probes.qv", "assigned.embedding")} / (probes.qn * assigned.nrm), 4) AS cosine
       |      FROM probes JOIN assigned USING (cent_id)
       |      WHERE assigned.vec_id <> probes.q_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM p)
       |SELECT q_id, rk, vec_id, cosine FROM r
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin

  private val ivfOracle =
    s"""WITH $ivfSeedSql,
       |${ivfSearchSql("c")}""".stripMargin

  /** x35 trains for this many Lloyd iterations from the x34 seed. */
  private val TrainIters = 2

  /** One Lloyd iteration in SQL — the exact fixed-point arithmetic of
    * [[Similarity.refineCentroids]]: assign each vector to its nearest
    * centroid (cosine compared unrounded, tiebreak cent_id), mean each cluster via
    * half-up 1e-6 fixed-point BIGINT sums (order-independent, so Spark's
    * partitioned sum == DuckDB's sequential sum exactly), keep the previous
    * centroid for empty/zero-norm clusters. `prev` → centroid CTE `$next`. */
  private[queries] def trainIterSql(prev: String, next: String): String = {
    val fp = Similarity.CentroidFixedPoint // 1e6, shared constant — no drift
    s"""a_$next AS (SELECT e.vec_id, e.embedding, c.cent_id,
       |         ${dotSql("e.embedding", "c.cv")} / (e.nrm * c.cn) AS ccos
       |       FROM e CROSS JOIN $prev c),
       |asg_$next AS (SELECT vec_id, embedding, cent_id
       |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM a_$next)
       |       WHERE rn = 1),
       |d_$next AS (SELECT cent_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM asg_$next),
       |m_$next AS (SELECT cent_id, i AS dim,
       |         CAST(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * $fp + 0.5) AS BIGINT)) AS DOUBLE)
       |              / (CAST(count(*) AS DOUBLE) * $fp) AS FLOAT) AS m
       |       FROM d_$next GROUP BY cent_id, i),
       |mv_$next AS (SELECT cent_id, list(m ORDER BY dim) AS mv FROM m_$next GROUP BY cent_id),
       |mn_$next AS (SELECT cent_id, mv, sqrt(${dotSql("mv", "mv")}) AS mn FROM mv_$next),
       |$next AS (SELECT p.cent_id,
       |         CASE WHEN q.mn > 0 THEN q.mv ELSE p.cv END AS cv,
       |         CASE WHEN q.mn > 0 THEN q.mn ELSE p.cn END AS cn
       |       FROM $prev p LEFT JOIN mn_$next q USING (cent_id))""".stripMargin
  }

  private val ivfTrainedOracle = {
    val iters = (0 until TrainIters)
      .map(k => trainIterSql(s"c$k", s"c${k + 1}")).mkString(",\n")
    s"""WITH $ivfSeedSql,
       |c0 AS (SELECT * FROM c),
       |$iters,
       |${ivfSearchSql(s"c$TrainIters")}""".stripMargin
  }

  /** X3: IVF with a TRAINED coarse quantizer — [[Similarity.refineCentroids]]
    * (2 Lloyd iterations from the x34 seed, hash-stable fixed-point means)
    * feeding the same nprobe=2 search. The oracle re-derives the trained
    * centroids in SQL from the shared constants, so the training itself is
    * correctness-gated, not just the search. 100 TB: training is
    * iters × (one broadcast-join scan + two keyed shuffles); centroids stay
    * driver-free and broadcast-sized throughout. */
  def ivfTrainedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val seed = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv"), $"nrm".as("cn"))
    val trained = Similarity.refineCentroids(emb, seed, iters = TrainIters)
    ivfSearch(spark, emb, trained)
  }

  /** Array scalar ops on the embedding column (dim, element access, L2 norm). */
  def arrayOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir).select(
      $"vec_id",
      size($"embedding").as("dim"),
      round(element_at($"embedding", 1).cast("double"), 6).as("e1"),
      round(element_at($"embedding", 64).cast("double"), 6).as("e64"),
      round(Similarity.norm($"embedding"), 4).as("l2norm"),
      $"label")
      .orderBy("vec_id")
  }

  private val arrayOpsOracle =
    """SELECT vec_id,
      |       CAST(len(embedding) AS INTEGER) AS dim,
      |       round(CAST(embedding[1] AS DOUBLE), 6) AS e1,
      |       round(CAST(embedding[64] AS DOUBLE), 6) AS e64,
      |       round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |                                          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4) AS l2norm,
      |       label
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** Embedding dimensionality of the fixture (all SFs). */
  private val Dim = 64

  /** x37: int8 scalar-quantized top-k with exact rerank — the SQ
    * compression path of a vector store: per-dimension (min, max) over the
    * corpus (order-free aggregates → deterministic "trained" scale model),
    * every vector quantized to int8 codes, the FULL scan runs on codes
    * (4× less memory bandwidth than float32 at 100 TB — the scan is
    * bandwidth-bound, so that is ~4× scan throughput), then only the top-8
    * approximate candidates per query are re-scored at full precision and
    * the top-3 emitted. Codes are carried as integer-valued floats (|q| ≤
    * 127, exact in fp32) so the approximate dot reuses the codegen'd
    * `vec_dot`; the int dot is exact in double, so CAST to BIGINT is
    * lossless and bit-identical in both engines. */
  /** Corpus coded to int8: per-dim (min, max) scale model (order-free
    * aggregates) broadcast onto every row, codes carried as
    * integer-valued floats so [[Similarity.dot]] scans them codegen'd.
    * Shared by [[int8TopK]] and the rail-bounds spec. */
  private[graft] def int8Coded(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    // Per-dim scale model: 64 rows -> one row of two ordered arrays.
    val dims = emb
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"pos")
      .agg(min($"x".cast("double")).as("mn"), max($"x".cast("double")).as("mx"))
    val params = dims.agg(
      transform(sort_array(collect_list(struct($"pos", $"mn"))), s => s.getField("mn")).as("mns"),
      transform(sort_array(collect_list(struct($"pos", $"mx"))), s => s.getField("mx")).as("mxs"))
    val quant = transform(sequence(lit(1), lit(Dim)), i =>
      when(element_at($"mxs", i) === element_at($"mns", i), lit(0L))
        .otherwise(
          floor((element_at($"embedding", i).cast("double") - element_at($"mns", i))
            / (element_at($"mxs", i) - element_at($"mns", i)) * 254 + lit(0.5))
            - 127))
    emb.crossJoin(broadcast(params))
      .select($"vec_id", $"embedding", $"nrm", quant.cast("array<float>").as("q"))
  }

  def int8TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val coded = int8Coded(emb)
    val qs = coded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"), $"q".as("qq"))
    val wApprox = Window.partitionBy($"q_id").orderBy($"iscore".desc, $"vec_id")
    val wExact = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    coded.join(broadcast(qs), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"qv", $"qn",
        Similarity.dot($"q", $"qq").cast("long").as("iscore"))
      .withColumn("ark", row_number().over(wApprox))
      .filter($"ark" <= 8)
      .join(emb.select($"vec_id", $"embedding".as("cv"), $"nrm".as("cn")), "vec_id")
      .select($"q_id", $"vec_id", $"iscore",
        round(Similarity.dot($"qv", $"cv") / ($"qn" * $"cn"), 4).as("cosine"))
      .withColumn("rk", row_number().over(wExact))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"cosine", $"iscore")
      .orderBy("q_id", "rk")
  }

  private val int8TopKOracle =
    s"""WITH e AS (SELECT vec_id, embedding,
       |             sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |           FROM embeddings),
       |dims AS (SELECT i,
       |           min(CAST(embedding[i] AS DOUBLE)) AS mn,
       |           max(CAST(embedding[i] AS DOUBLE)) AS mx
       |         FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i) d
       |         GROUP BY i),
       |p AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims),
       |coded AS (SELECT vec_id, embedding, nrm,
       |            list_transform(range(1, ${Dim + 1}), i ->
       |              CASE WHEN mxs[i] = mns[i] THEN 0
       |                   ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i])
       |                          / (mxs[i] - mns[i]) * 254 + 0.5) AS BIGINT) - 127 END) AS q
       |          FROM e, p),
       |qs AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, q AS qq
       |       FROM coded WHERE vec_id % 100 = 0),
       |pairs AS (SELECT qs.q_id, c.vec_id,
       |            CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |              CAST(c.q[i] AS DOUBLE) * CAST(qs.qq[i] AS DOUBLE))) AS BIGINT) AS iscore
       |          FROM coded c JOIN qs ON c.vec_id <> qs.q_id),
       |cand AS (SELECT q_id, vec_id, iscore,
       |           row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS ark
       |         FROM pairs),
       |exact AS (SELECT cand.q_id, cand.vec_id, cand.iscore,
       |            round(${dotSql("qs.qv", "e.embedding")} / (qs.qn * e.nrm), 4) AS cosine
       |          FROM cand
       |          JOIN e ON e.vec_id = cand.vec_id
       |          JOIN qs ON qs.q_id = cand.q_id
       |          WHERE cand.ark <= 8),
       |r AS (SELECT q_id, vec_id, iscore, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM exact)
       |SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, cosine, iscore FROM r
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin

  /** PQ geometry: 8 subspaces × 8 dims, 16 centroids per subspace; the
    * codebook seeds are fixed corpus rows (present at every SF, disjoint
    * from nothing in particular — a seed may also be a query). */
  private val PqM = 8
  private val PqSubD = 8
  private val PqSeeds = Seq(1L, 29L, 61L, 103L, 149L, 173L, 211L, 239L,
    271L, 307L, 331L, 367L, 401L, 433L, 461L, 491L)
  private val PqRerank = 64

  /** x38: product-quantization ANN with asymmetric-distance scoring — the
    * highest-compression tier of the vector-store family (x30 brute, x31/
    * x36 LSH, x34/x35 IVF, x37 SQ): each vector is stored as M=8 one-byte
    * codes (32× smaller than fp32; K=16 centroids per subspace), a query
    * precomputes its M×K inner-product lookup table against the codebook,
    * and the scan scores a vector by summing M table entries — then the
    * top-64 approximate candidates are re-scored exactly and the top-3
    * emitted (coarse codebooks need a deeper rerank than x37's int8:
    * 64/500 ≈ 13% at sf0.01; measured recall in PLANS.md).
    *
    * Cross-engine determinism: sub-distances use the three-dot expansion
    * |s|² − 2·s·c + |c|² over the SAME float slices in both engines
    * (identical IEEE doubles); the per-subspace lookup entries are
    * quantized HALF-UP to 1e-6 fixed point BEFORE the per-pair sum, so the
    * ADC score is an integer sum — accumulation-order-free (the x35
    * trained-centroid trick applied to ADC).
    *
    * Scale notes: the codebook (M·K rows) and query tables (|Q|·M·K rows)
    * are broadcast; encoding is one argmin per (vector, subspace) pruned
    * by WindowGroupLimit before its exchange. The relational ADC join
    * shuffles (query, vector) partials; a deployment would fold the M
    * lookups per row inside the scan (mapPartitions over the broadcast
    * table) — the stored-bytes win (32×) is what matters at 100 TB. */
  /** Shared PQ plumbing: corpus with norms, per-subspace sub-vectors, and
    * the fixed seed codebook. */
  private def pqParts(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val subArr = array((0 until PqM).map(s =>
      struct(lit(s).as("s"), slice($"embedding", s * PqSubD + 1, PqSubD).as("v"))): _*)
    val seedC = PqSeeds.zipWithIndex.tail.foldLeft(when($"vec_id" === PqSeeds.head, 0)) {
      case (acc, (id, c)) => acc.when($"vec_id" === id, c)
    }
    val cb0 = emb.filter($"vec_id".isin(PqSeeds: _*))
      .select(seedC.as("c"), explode(subArr).as("sub"))
      .select($"c", $"sub.s".as("s"), $"sub.v".as("cv"))
    val sub = emb.select($"vec_id", explode(subArr).as("sub"))
      .select($"vec_id", $"sub.s".as("s"), $"sub.v".as("sv"))
    (emb, subArr, sub, cb0)
  }

  /** Shared PQ search: encode the corpus against `cb`, ADC-score the
    * broadcast query tables (fixed-point entries, integer pair sums),
    * exact-rerank the top-[[PqRerank]], emit top-3. */
  private def pqSearch(spark: SparkSession, emb: DataFrame,
                       subArr: org.apache.spark.sql.Column,
                       sub: DataFrame,
                       cb: DataFrame): DataFrame = {
    import spark.implicits._
    val wCode = Window.partitionBy($"vec_id", $"s").orderBy($"d2", $"c")
    val codes = sub
      .join(broadcast(cb), "s")
      .select($"vec_id", $"s", $"c",
        (Similarity.dot($"sv", $"sv") - lit(2.0) * Similarity.dot($"sv", $"cv")
          + Similarity.dot($"cv", $"cv")).as("d2"))
      .withColumn("rn", row_number().over(wCode))
      .filter($"rn" === 1)
      .select($"vec_id", $"s", $"c")
    val qdt = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), explode(subArr).as("sub"))
      .join(broadcast(cb), col("sub.s") === cb("s"))
      .select($"q_id", $"s", $"c",
        floor(Similarity.dot(col("sub.v"), $"cv") * lit(1e6) + lit(0.5))
          .cast("long").as("ipq_fp"))
    val wApprox = Window.partitionBy($"q_id").orderBy($"aip_fp".desc, $"vec_id")
    val wExact = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    codes.join(broadcast(qdt), Seq("s", "c"))
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"ipq_fp").as("aip_fp"))
      .withColumn("ark", row_number().over(wApprox))
      .filter($"ark" <= PqRerank)
      .join(emb.select($"vec_id", $"embedding".as("cv"), $"nrm".as("cn")), "vec_id")
      .join(broadcast(emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))), "q_id")
      .select($"q_id", $"vec_id", $"aip_fp",
        round(Similarity.dot($"qv", $"cv") / ($"qn" * $"cn"), 4).as("cosine"))
      .withColumn("rk", row_number().over(wExact))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"cosine", $"aip_fp")
      .orderBy("q_id", "rk")
  }

  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (emb, subArr, sub, cb0) = pqParts(spark, dir)
    pqSearch(spark, emb, subArr, sub, cb0)
  }

  /** x39: PQ with a TRAINED codebook — one squared-L2 Lloyd iteration per
    * subspace over the seed codebook ([[Similarity.refinePqCodebook]]:
    * unrounded-d2 argmin assignment (identical doubles, engine-stable), half-up 1e-6 fixed-point
    * integer means), then the same ADC search as x38. The training itself
    * is oracle-paired: the DuckDB oracle unrolls the assignment and
    * recompute CTEs and reproduces the trained codebook bit-for-bit, so
    * the hash gate certifies distributed training arithmetic == the
    * sequential reference — the x35 guarantee extended to the PQ
    * objective. */
  def pqTrainedTopK(spark: SparkSession, dir: String): DataFrame = {
    val (emb, subArr, sub, cb0) = pqParts(spark, dir)
    pqSearch(spark, emb, subArr, sub, Similarity.refinePqCodebook(sub, cb0, PqTrainIters))
  }

  private val PqTrainIters = 1

  private def pqSeedCase = PqSeeds.zipWithIndex
    .map { case (id, c) => s"WHEN vec_id = $id THEN $c" }
    .mkString("CASE ", " ", " END")
  private def pqSliceD(v: String) = s"list_slice($v, s * $PqSubD + 1, s * $PqSubD + $PqSubD)"
  private def pqDotS(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${PqSubD + 1}), j -> CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE)))"

  /** Shared oracle prefix: corpus, subspaces, seed codebook, sub-vectors. */
  private def pqPrefixSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |             sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |           FROM embeddings),
       |ss AS (SELECT unnest(range(0, $PqM)) AS s),
       |cb0 AS (SELECT $pqSeedCase AS c, s, ${pqSliceD("embedding")} AS cv
       |       FROM embeddings CROSS JOIN ss
       |       WHERE vec_id IN (${PqSeeds.mkString(", ")})),
       |sub AS (SELECT vec_id, s, ${pqSliceD("embedding")} AS sv
       |        FROM embeddings CROSS JOIN ss)""".stripMargin

  /** The PQ rerank tail shared by x38/x39 and x109: over an `approx(q_id,
    * vec_id, aip_fp)` CTE, the top-[[PqRerank]] ADC candidates are rescored
    * by exact cosine and the top 3 emitted. */
  private val pqRerankSql =
    s"""cand AS (SELECT q_id, vec_id, aip_fp,
       |           row_number() OVER (PARTITION BY q_id ORDER BY aip_fp DESC, vec_id) AS ark
       |         FROM approx),
       |exact AS (SELECT cand.q_id, cand.vec_id, cand.aip_fp,
       |            round(${dotSql("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 4) AS cosine
       |          FROM cand
       |          JOIN e ce ON ce.vec_id = cand.vec_id
       |          JOIN e qe ON qe.vec_id = cand.q_id
       |          WHERE cand.ark <= $PqRerank),
       |r AS (SELECT q_id, vec_id, aip_fp, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM exact)
       |SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, cosine, aip_fp FROM r
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin

  private def pqSearchTailSql(cb: String) =
    s"""dist AS (SELECT sub.vec_id, sub.s, $cb.c,
       |           ${pqDotS("sv", "sv")} - 2.0 * ${pqDotS("sv", "cv")} + ${pqDotS("cv", "cv")} AS d2
       |         FROM sub JOIN $cb ON sub.s = $cb.s),
       |codes AS (SELECT vec_id, s, c
       |          FROM (SELECT vec_id, s, c,
       |                  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |                FROM dist)
       |          WHERE rn = 1),
       |qdt AS (SELECT q.vec_id AS q_id, $cb.s, $cb.c,
       |          CAST(floor(${pqDotS(s"list_slice(q.embedding, $cb.s * $PqSubD + 1, $cb.s * $PqSubD + $PqSubD)", s"$cb.cv")} * 1000000.0 + 0.5) AS BIGINT) AS ipq_fp
       |        FROM embeddings q CROSS JOIN $cb
       |        WHERE q.vec_id % 100 = 0),
       |approx AS (SELECT qdt.q_id, codes.vec_id,
       |             CAST(sum(qdt.ipq_fp) AS BIGINT) AS aip_fp
       |           FROM codes JOIN qdt ON codes.s = qdt.s AND codes.c = qdt.c
       |           WHERE codes.vec_id <> qdt.q_id
       |           GROUP BY qdt.q_id, codes.vec_id),
       |$pqRerankSql""".stripMargin

  private val pqTopKOracle = pqPrefixSql + ",\n" + pqSearchTailSql("cb0")

  /** One unrolled Lloyd iteration `$prev` -> `$next`: UNROUNDED-d2 argmin
    * assignment, fixed-point per-dim means, empty cells fall back to the
    * PREVIOUS codebook — generated once per [[PqTrainIters]] so the oracle
    * unroll can never drift from the Spark-side loop count. */
  private def pqTrainIterSql(prev: String, next: String): String =
    s"""td_$next AS (SELECT sub.vec_id, sub.s, $prev.c,
       |         ${pqDotS("sv", "sv")} - 2.0 * ${pqDotS("sv", "cv")} + ${pqDotS("cv", "cv")} AS d2
       |       FROM sub JOIN $prev ON sub.s = $prev.s),
       |ta_$next AS (SELECT vec_id, s, c
       |       FROM (SELECT vec_id, s, c,
       |               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |             FROM td_$next)
       |       WHERE rn = 1),
       |tm_$next AS (SELECT ta_$next.s, ta_$next.c, j,
       |         CAST(CAST(sum(CAST(floor(CAST(sv[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |              / (CAST(count(*) AS DOUBLE) * 1000000.0) AS FLOAT) AS m
       |       FROM ta_$next
       |       JOIN sub ON ta_$next.vec_id = sub.vec_id AND ta_$next.s = sub.s
       |       CROSS JOIN (SELECT unnest(range(1, ${PqSubD + 1})) AS j) jj
       |       GROUP BY ta_$next.s, ta_$next.c, j),
       |tmv_$next AS (SELECT s, c, list(m ORDER BY j) AS mv FROM tm_$next GROUP BY s, c),
       |$next AS (SELECT $prev.s, $prev.c, coalesce(tmv_$next.mv, $prev.cv) AS cv
       |        FROM $prev LEFT JOIN tmv_$next ON $prev.s = tmv_$next.s AND $prev.c = tmv_$next.c)""".stripMargin

  private val pqTrainedOracle = {
    val iters = (0 until PqTrainIters)
      .map(k => pqTrainIterSql(s"cb$k", s"cb${k + 1}")).mkString(",\n")
    pqPrefixSql + ",\n" + iters + ",\n" + pqSearchTailSql(s"cb$PqTrainIters")
  }

  /** IVF-PQ probes this many coarse clusters per query (matches x34). */
  private val IvfPqNprobe = 2

  /** x109: IVF-PQ — the two scale paths composed, the FAISS-style IVFPQ
    * index shape that actually ships at 100 TB: the coarse quantizer
    * (x34's fixed centroid subset) prunes the corpus to nprobe=2 clusters
    * per query, and WITHIN the surviving clusters vectors are scored by
    * x38's compressed ADC codes (M=8 byte codes, fixed-point integer
    * table sums), then the top-[[PqRerank]] approximate candidates are
    * exactly re-scored and the top-3 emitted. Versus x38 alone the ADC
    * join touches ~nprobe/k of the corpus; versus x34 alone the scored
    * bytes shrink 32× — multiplicative wins, which is why the composition
    * is the production layout. Cross-engine determinism is inherited
    * per-part: coarse assignment/probing compare UNROUNDED cosines
    * (identical IEEE doubles), ADC scores are order-free integer sums of
    * half-up 1e-6 fixed-point table entries.
    * Scale: centroids + codebook + query tables broadcast; the only
    * shuffles are the per-(vector,subspace) encode argmin and the
    * candidate ADC aggregation, both pruned before exchange. */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (emb, subArr, sub, cb0) = pqParts(spark, dir)
    val cents = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("ccv"), $"nrm".as("ccn"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    val assigned = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"cent_id",
        (Similarity.dot($"embedding", $"ccv") / ($"nrm" * $"ccn")).as("ccos"))
      .withColumn("arn", row_number().over(wAssign)).filter($"arn" === 1)
      .select($"vec_id", $"cent_id")
    val wProbe = Window.partitionBy($"q_id").orderBy($"ccos".desc, $"cent_id")
    val probes = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
      .crossJoin(broadcast(cents))
      .select($"q_id", $"cent_id",
        (Similarity.dot($"qv", $"ccv") / ($"qn" * $"ccn")).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= IvfPqNprobe)
      .select($"q_id", $"cent_id")
    val wCode = Window.partitionBy($"vec_id", $"s").orderBy($"d2", $"c")
    val codes = sub
      .join(broadcast(cb0), "s")
      .select($"vec_id", $"s", $"c",
        (Similarity.dot($"sv", $"sv") - lit(2.0) * Similarity.dot($"sv", $"cv")
          + Similarity.dot($"cv", $"cv")).as("d2"))
      .withColumn("rn", row_number().over(wCode))
      .filter($"rn" === 1)
      .select($"vec_id", $"s", $"c")
    val qdt = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), explode(subArr).as("sub"))
      .join(broadcast(cb0), col("sub.s") === cb0("s"))
      .select($"q_id", $"s", $"c",
        floor(Similarity.dot(col("sub.v"), $"cv") * lit(1e6) + lit(0.5))
          .cast("long").as("ipq_fp"))
    val candPairs = probes.join(assigned, "cent_id")
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id")
    val wApprox = Window.partitionBy($"q_id").orderBy($"aip_fp".desc, $"vec_id")
    val wExact = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    candPairs.join(codes, "vec_id")
      .join(broadcast(qdt), Seq("q_id", "s", "c"))
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"ipq_fp").as("aip_fp"))
      .withColumn("ark", row_number().over(wApprox))
      .filter($"ark" <= PqRerank)
      .join(emb.select($"vec_id", $"embedding".as("dv"), $"nrm".as("dn")), "vec_id")
      .join(broadcast(emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))), "q_id")
      .select($"q_id", $"vec_id", $"aip_fp",
        round(Similarity.dot($"qv", $"dv") / ($"qn" * $"dn"), 4).as("cosine"))
      .withColumn("rk", row_number().over(wExact))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"cosine", $"aip_fp")
      .orderBy("q_id", "rk")
  }

  private val ivfPqOracle =
    s"""$pqPrefixSql,
       |c AS (SELECT vec_id AS cent_id, embedding AS ccv, nrm AS ccn
       |      FROM e WHERE vec_id % 97 = 0),
       |ac AS (SELECT e.vec_id, c.cent_id,
       |         ${dotSql("e.embedding", "c.ccv")} / (e.nrm * c.ccn) AS ccos
       |       FROM e CROSS JOIN c),
       |assigned AS (SELECT vec_id, cent_id
       |             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM ac)
       |             WHERE rn = 1),
       |qc AS (SELECT e.vec_id AS q_id, c.cent_id,
       |         ${dotSql("e.embedding", "c.ccv")} / (e.nrm * c.ccn) AS ccos
       |       FROM e CROSS JOIN c WHERE e.vec_id % 100 = 0),
       |probes AS (SELECT q_id, cent_id
       |           FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cent_id) AS rn FROM qc)
       |           WHERE rn <= $IvfPqNprobe),
       |dist AS (SELECT sub.vec_id, sub.s, cb0.c,
       |           ${pqDotS("sv", "sv")} - 2.0 * ${pqDotS("sv", "cv")} + ${pqDotS("cv", "cv")} AS d2
       |         FROM sub JOIN cb0 ON sub.s = cb0.s),
       |codes AS (SELECT vec_id, s, c
       |          FROM (SELECT vec_id, s, c,
       |                  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |                FROM dist)
       |          WHERE rn = 1),
       |qdt AS (SELECT q.vec_id AS q_id, cb0.s, cb0.c,
       |          CAST(floor(${pqDotS(s"list_slice(q.embedding, cb0.s * $PqSubD + 1, cb0.s * $PqSubD + $PqSubD)", "cb0.cv")} * 1000000.0 + 0.5) AS BIGINT) AS ipq_fp
       |        FROM embeddings q CROSS JOIN cb0
       |        WHERE q.vec_id % 100 = 0),
       |candpairs AS (SELECT probes.q_id, assigned.vec_id
       |              FROM probes JOIN assigned USING (cent_id)
       |              WHERE assigned.vec_id <> probes.q_id),
       |approx AS (SELECT cp.q_id, cp.vec_id,
       |             CAST(sum(qdt.ipq_fp) AS BIGINT) AS aip_fp
       |           FROM candpairs cp
       |           JOIN codes ON codes.vec_id = cp.vec_id
       |           JOIN qdt ON qdt.q_id = cp.q_id AND qdt.s = codes.s AND qdt.c = codes.c
       |           GROUP BY cp.q_id, cp.vec_id),
       |$pqRerankSql""".stripMargin

  /** x79: nearest-centroid classification — the supervised counterpart of
    * the x34/x35 quantizer family: per-LABEL mean centroids trained on a
    * deterministic holdout split (vec_id % 5 ≠ 0) with the x35 fixed-point
    * recipe (half-up 1e-6 BIGINT sums → order-free, hash-stable training),
    * then every held-out vector is assigned to its max-cosine label
    * centroid and the confusion matrix (with per-true-label shares) comes
    * out — the standard embedding-probe evaluation a corpus pipeline runs
    * to sanity-check embedding quality. Scale: training is one posexplode
    * + keyed aggregation; assignment is a |labels|-row broadcast
    * crossJoin; nothing driver-side. */
  def centroidClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Similarity.CentroidFixedPoint
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"),
        $"label")
    val train = emb.filter($"vec_id" % 5 =!= 0)
    val eval = emb.filter($"vec_id" % 5 === 0)
    val cents = train
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"dim")
      .agg(sum(floor($"x".cast("double") * fp + lit(0.5))).as("sx"),
        count(lit(1)).as("nx"))
      .select($"label", $"dim",
        ($"sx".cast("double") / ($"nx".cast("double") * fp)).cast("float").as("m"))
      .groupBy($"label")
      .agg(transform(sort_array(collect_list(struct($"dim", $"m"))),
        e => e.getField("m")).as("cv"))
      .select($"label".as("clabel"), $"cv", Similarity.norm($"cv").as("cn"))
    val wA = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"clabel")
    val assigned = eval.crossJoin(broadcast(cents))
      .select($"vec_id", $"label", $"clabel",
        (Similarity.dot($"embedding", $"cv") / ($"nrm" * $"cn")).as("ccos"))
      .withColumn("rn", row_number().over(wA)).filter($"rn" === 1)
    assigned.groupBy($"label", $"clabel".as("assigned"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_label", sum($"n").over(Window.partitionBy($"label")))
      .select($"label", $"assigned", $"n",
        QueryUtil.halfUp4($"n".cast("double") / $"n_label".cast("double")).as("share"))
      .orderBy("label", "assigned")
  }

  private val centroidClassifyOracle = {
    val fp = Similarity.CentroidFixedPoint
    s"""WITH e2 AS (SELECT vec_id, embedding, label,
       |              sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |            FROM embeddings),
       |tr AS (SELECT * FROM e2 WHERE vec_id % 5 <> 0),
       |ev AS (SELECT * FROM e2 WHERE vec_id % 5 = 0),
       |d AS (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM tr),
       |m AS (SELECT label, i AS dim,
       |        CAST(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * $fp + 0.5) AS BIGINT)) AS DOUBLE)
       |             / (CAST(count(*) AS DOUBLE) * $fp) AS FLOAT) AS m
       |      FROM d GROUP BY label, i),
       |mv AS (SELECT label AS clabel, list(m ORDER BY dim) AS cv FROM m GROUP BY label),
       |c AS (SELECT clabel, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM mv),
       |a AS (SELECT ev.vec_id, ev.label, c.clabel,
       |        ${dotSql("ev.embedding", "c.cv")} / (ev.nrm * c.cn) AS ccos
       |      FROM ev CROSS JOIN c),
       |asg AS (SELECT vec_id, label, clabel
       |        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) AS rn FROM a)
       |        WHERE rn = 1),
       |cm AS (SELECT label, clabel AS assigned, count(*) AS n FROM asg GROUP BY label, clabel)
       |SELECT label, assigned, n,
       |       floor((CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY label) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS share
       |FROM cm
       |ORDER BY label, assigned""".stripMargin
  }

  /** x73: embedding drift monitor — the dense counterpart of x23's
    * text-distribution drift: split the corpus into two deterministic
    * halves (vec_id parity — stand-in for the before/after snapshots a
    * production monitor compares), train per-(label, half) fixed-point
    * centroids (the x79/x35 recipe), and report each label's cross-half
    * centroid cosine plus its population shift. A drifting embedding
    * space (re-trained encoder, corrupted batch) shows up as cosines
    * dropping from ~1. Scale: one posexplode aggregate per half; the
    * cosine runs on |labels| centroid pairs. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Similarity.CentroidFixedPoint
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", $"label", ($"vec_id" % 2).as("half"))
    val cents = emb
      .select($"label", $"half", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"half", $"dim")
      .agg(sum(floor($"x".cast("double") * fp + lit(0.5))).as("sx"),
        count(lit(1)).as("nx"))
      .select($"label", $"half", $"dim", $"nx",
        ($"sx".cast("double") / ($"nx".cast("double") * fp)).cast("float").as("m"))
      .groupBy($"label", $"half")
      .agg(transform(sort_array(collect_list(struct($"dim", $"m"))),
        e => e.getField("m")).as("cv"),
        min($"nx").as("n")) // nx identical across dims; min mirrors the oracle
    val c0 = cents.filter($"half" === 0)
      .select($"label", $"cv".as("cv0"), $"n".as("n0"))
    val c1 = cents.filter($"half" === 1)
      .select($"label", $"cv".as("cv1"), $"n".as("n1"))
    c0.join(c1, "label")
      .select($"label", $"n0", $"n1",
        QueryUtil.halfUp4(Similarity.dot($"cv0", $"cv1")
          / (Similarity.norm($"cv0") * Similarity.norm($"cv1"))).as("drift_cos"))
      .orderBy("label")
  }

  private val embeddingDriftOracle = {
    val fp = Similarity.CentroidFixedPoint
    s"""WITH d AS (SELECT label, vec_id % 2 AS half, embedding,
       |             unnest(range(1, len(embedding) + 1)) AS i
       |           FROM embeddings),
       |m AS (SELECT label, half, i AS dim,
       |        CAST(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * $fp + 0.5) AS BIGINT)) AS DOUBLE)
       |             / (CAST(count(*) AS DOUBLE) * $fp) AS FLOAT) AS m,
       |        count(*) AS nx
       |      FROM d GROUP BY label, half, i),
       |mv AS (SELECT label, half, list(m ORDER BY dim) AS cv, min(nx) AS n
       |       FROM m GROUP BY label, half)
       |SELECT c0.label, c0.n AS n0, c1.n AS n1,
       |       floor((${dotSql("c0.cv", "c1.cv")}
       |              / (sqrt(${dotSql("c0.cv", "c0.cv")}) * sqrt(${dotSql("c1.cv", "c1.cv")}))) * 10000 + 0.5) / 10000.0 AS drift_cos
       |FROM mv c0 JOIN mv c1 ON c0.label = c1.label AND c0.half = 0 AND c1.half = 1
       |ORDER BY c0.label""".stripMargin
  }

  /** x102: per-dimension embedding statistics — the dead/degenerate-
    * dimension QA a vector store runs before trusting distances: per dim,
    * exact-moment mean and variance (values half-up-quantized to 1e-6
    * BIGINTs first — the q59 recipe, so Σq and Σq² are order-free integer
    * sums and mean/var derive by identical IEEE ops in both engines), the
    * exact min/max, and a zero-spread degeneracy flag (integer predicate
    * on the quantized domain). Scale: one posexplode + 64-group aggregate;
    * everything downstream is constant-sized. */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = Tables.embeddings(spark, dir)
      .select(posexplode($"embedding").as(Seq("dim", "x")))
      .select($"dim", floor($"x".cast("double") * 1e6 + 0.5).cast("long").as("q"))
    q.groupBy($"dim")
      .agg(count(lit(1)).as("n"), sum($"q").as("s"),
        sum($"q".cast("decimal(38,0)") * $"q".cast("decimal(38,0)")).as("ssq"),
        min($"q").as("mnq"), max($"q").as("mxq"))
      .select($"dim", $"n",
        QueryUtil.halfUp($"s".cast("double") / ($"n".cast("double") * 1e6), 6)
          .as("mean"),
        QueryUtil.halfUp(
          greatest($"ssq".cast("double") / $"n".cast("double")
            - ($"s".cast("double") / $"n".cast("double"))
            * ($"s".cast("double") / $"n".cast("double")), lit(0.0)) / 1e12, 6)
          .as("variance"),
        ($"mnq".cast("double") / 1e6).as("min_v"),
        ($"mxq".cast("double") / 1e6).as("max_v"),
        ($"mnq" === $"mxq").as("degenerate"))
      .orderBy("dim")
  }

  private val dimStatsOracle =
    """WITH q AS (SELECT i AS dim,
      |             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
      |           FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i
      |                 FROM embeddings)),
      |a AS (SELECT dim, count(*) AS n, sum(q) AS s,
      |        sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS ssq,
      |        min(q) AS mnq, max(q) AS mxq
      |      FROM q GROUP BY dim)
      |SELECT CAST(dim - 1 AS INTEGER) AS dim, n,
      |       floor((CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)) * 1000000 + 0.5) / 1000000.0 AS mean,
      |       floor((greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
      |                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) / 1000000000000.0) * 1000000 + 0.5) / 1000000.0 AS variance,
      |       CAST(mnq AS DOUBLE) / 1000000.0 AS min_v,
      |       CAST(mxq AS DOUBLE) / 1000000.0 AS max_v,
      |       mnq = mxq AS degenerate
      |FROM a
      |ORDER BY dim""".stripMargin

  /** x105: reciprocal (mutual) nearest neighbors — pairs where EACH vector
    * ranks the other in its top-5 over a shared cohort (every 10th vector
    * — denser than x30's every-100th query set, because BOTH directions
    * need a ranking and mutual pairs must actually exist): the
    * high-precision pairing primitive under clustering and near-dup
    * verification, since one-directional neighbors are asymmetric-hub
    * noise. Same ranking recipe as x30 (rounded cosine, vec_id
    * tie-break), restricted to the cohort on both sides. Scale: a
    * K·|cohort|-row frame joined to itself on the ordered pair. */
  def mutualKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Cohort = every 10th vector, ranked WITHIN the cohort (both directions
    // must have a ranking for mutuality to be well-defined).
    val co = Tables.embeddings(spark, dir).filter($"vec_id" % 10 === 0)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    val top = co.select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
      .join(co, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
    top.as("f").join(top.as("r"),
      $"f.q_id" === $"r.vec_id" && $"f.vec_id" === $"r.q_id" &&
        $"f.q_id" < $"f.vec_id")
      .select($"f.q_id".as("a"), $"f.vec_id".as("b"),
        $"f.rk".as("rk_ab"), $"r.rk".as("rk_ba"), $"f.cosine")
      .orderBy("a", "b")
  }

  private val mutualKnnOracle =
    s"""WITH co AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |p AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |        round(${cosineSql("q.embedding", "e.embedding")}, 4) AS cosine
       |      FROM co e JOIN co q ON e.vec_id <> q.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM p),
       |top AS (SELECT q_id, vec_id, rk, cosine FROM r WHERE rk <= 5)
       |SELECT f.q_id AS a, f.vec_id AS b,
       |       f.rk AS rk_ab, rr.rk AS rk_ba, f.cosine
       |FROM top f JOIN top rr
       |  ON f.q_id = rr.vec_id AND f.vec_id = rr.q_id AND f.q_id < f.vec_id
       |ORDER BY a, b""".stripMargin

  /** x107: IVF recall audit — recall@3 of the coarse-quantized search
    * (x34) against the exact brute-force ranking (x30), per query and
    * overall: the quality number a vector store publishes next to its
    * latency. Both sides are the already-verified queries; the audit is
    * an outer join of two K-row-per-query lists (x26's pattern on the
    * dense family). Exact integer hit counts; one division. */
  def ivfRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = cosineTopK(spark, dir).filter($"rk" <= 3)
      .select($"q_id", $"vec_id", lit(1L).as("in_exact"))
    val approx = ivfTopK(spark, dir)
      .select($"q_id", $"vec_id", lit(1L).as("in_ivf"))
    exact.join(approx, Seq("q_id", "vec_id"), "full")
      .groupBy($"q_id")
      .agg(sum(coalesce($"in_exact", lit(0L))).as("n_exact"),
        sum(coalesce($"in_ivf", lit(0L))).as("n_ivf"),
        sum(when($"in_exact".isNotNull && $"in_ivf".isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select($"q_id", $"n_exact", $"n_ivf", $"n_hit",
        QueryUtil.halfUp4($"n_hit".cast("double") / $"n_exact".cast("double"))
          .as("recall_at_3"))
      .orderBy("q_id")
  }

  private val ivfRecallAuditOracle =
    s"""WITH $ivfSeedSql,
       |${assignSql("c")},
       |qc AS (SELECT e.vec_id AS q_id, e.embedding AS qv, e.nrm AS qn, c.cent_id,
       |         ${dotSql("e.embedding", "c.cv")} / (e.nrm * c.cn) AS ccos
       |       FROM e CROSS JOIN c c WHERE e.vec_id % 100 = 0),
       |probes AS (SELECT q_id, qv, qn, cent_id
       |           FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cent_id) AS rn FROM qc)
       |           WHERE rn <= 2),
       |ip AS (SELECT probes.q_id, assigned.vec_id,
       |        round(${dotSql("probes.qv", "assigned.embedding")} / (probes.qn * assigned.nrm), 4) AS cosine
       |      FROM probes JOIN assigned USING (cent_id)
       |      WHERE assigned.vec_id <> probes.q_id),
       |ivf AS (SELECT q_id, vec_id FROM (
       |          SELECT q_id, vec_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |          FROM ip) WHERE rk <= 3),
       |bp AS (SELECT q.q_id, e2.vec_id,
       |        round(${dotSql("q.qv", "e2.embedding")} / (q.qn * e2.nrm), 4) AS cosine
       |      FROM e e2 JOIN (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e
       |                      WHERE vec_id % 100 = 0) q ON e2.vec_id <> q.q_id),
       |ex AS (SELECT q_id, vec_id FROM (
       |          SELECT q_id, vec_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |          FROM bp) WHERE rk <= 3)
       |SELECT coalesce(ex.q_id, ivf.q_id) AS q_id,
       |       CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |       CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ivf,
       |       CAST(sum(CASE WHEN ex.vec_id IS NOT NULL AND ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |       floor((CAST(sum(CASE WHEN ex.vec_id IS NOT NULL AND ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |              / CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS recall_at_3
       |FROM ex FULL OUTER JOIN ivf ON ex.q_id = ivf.q_id AND ex.vec_id = ivf.vec_id
       |GROUP BY coalesce(ex.q_id, ivf.q_id)
       |ORDER BY q_id""".stripMargin

  /** x108: embedding coverage QA — the referential check between the text
    * corpus and its vector index (ids are row-aligned across the two
    * tables, the x81 layout): per source, how many docs have an embedding,
    * how many vectors are orphaned (no doc), and the coverage rate. The
    * gate a RAG/setup pipeline runs before trusting retrieval. Exact
    * integer counts, one division; orphans reported as their own row.
    * Scale: one outer join on the id + a |sources|-group aggregate. */
  def embeddingCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"source")
    val e = Tables.embeddings(spark, dir).select($"vec_id", lit(1L).as("has_vec"))
    d.join(e, $"doc_id" === $"vec_id", "full")
      .select(coalesce($"source", lit("_orphan_vectors")).as("source"),
        ($"doc_id".isNotNull).cast("long").as("is_doc"),
        coalesce($"has_vec", lit(0L)).as("has_vec"))
      .groupBy($"source")
      .agg(sum($"is_doc").as("n_docs"),
        sum($"is_doc" * $"has_vec").as("n_covered"),
        sum((lit(1L) - $"is_doc") * $"has_vec").as("n_orphan_vecs"))
      .select($"source", $"n_docs", $"n_covered", $"n_orphan_vecs",
        when($"n_docs" > 0,
          QueryUtil.halfUp4($"n_covered".cast("double") / $"n_docs".cast("double")))
          .otherwise(lit(0.0)).as("coverage"))
      .orderBy("source")
  }

  private val embeddingCoverageOracle =
    """WITH j AS (SELECT coalesce(d.source, '_orphan_vectors') AS source,
      |             CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_doc,
      |             CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS has_vec
      |           FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
      |SELECT source, CAST(sum(is_doc) AS BIGINT) AS n_docs,
      |       CAST(sum(is_doc * has_vec) AS BIGINT) AS n_covered,
      |       CAST(sum((1 - is_doc) * has_vec) AS BIGINT) AS n_orphan_vecs,
      |       CASE WHEN sum(is_doc) > 0
      |            THEN floor((CAST(sum(is_doc * has_vec) AS DOUBLE) / CAST(sum(is_doc) AS DOUBLE)) * 10000 + 0.5) / 10000.0
      |            ELSE 0.0 END AS coverage
      |FROM j
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Power-iteration round count (fixed — the oracle unrolls them). */
  private val PcaRounds = 3

  /** Embedding quantization for the covariance pass: 1e-4 fixed point
    * (|x| ≤ ~0.6 here, so q ≤ ~6e3 and pair products ≤ ~4e7). */
  private val PcaFp = 1e4

  /** x116: top principal component by power iteration — the PCA/whitening
    * prep an embedding pipeline runs before ANN indexing or drift
    * analysis. The covariance matrix never touches floats: embeddings
    * quantize to 1e-4 fixed point, the pair products come from a DOUBLE
    * posexplode of each row's own quantized array (array-local — no
    * self-join, the x20 zero-shuffle pair recipe), and the mean is
    * cleared exactly via n²·Cov_jk = n·Σq_jq_k − S_j·S_k in
    * decimal/HUGEINT. Three power-iteration rounds then run on the
    * 4096-row matrix frame: integer mat-vec (order-free decimal sums),
    * pivot = max-|component| (min-dim tie-break), components re-quantized
    * half-up to 1e-6 after the one double division per round — the x35
    * trained-aggregate recipe, so the "trained" eigenvector is
    * hash-stable and oracle-paired. Output: each dimension's loading in
    * pivot-normalized [-1, 1]. Scale: one 4096-way widened scan pass
    * (partial aggs map-side), then constant 64/4096-row frames; rounds
    * are driver-composed joins, no collect. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val qv = Tables.embeddings(spark, dir).select($"vec_id",
      transform($"embedding",
        x => floor(x.cast("double") * PcaFp + 0.5).cast("long")).as("qa"))
    // Gram matrix via ONE outer-product aggregate (graft.functions.
    // OuterProductSum): dim²/2 fused multiply-adds per row in a map-side
    // long buffer instead of a dim²-row posexplode² through a 4096-group
    // hash aggregate — exact integer sums either way (order-free), and the
    // long→decimal cast below re-enters the original decimal pipeline with
    // identical values (overflow bound documented on the aggregate).
    val p = qv.agg(call_function("outer_product_sum", $"qa").as("op"))
      .select(posexplode($"op").as(Seq("idx", "pjk_l")))
      .select(expr("idx DIV 64").cast("int").as("j"), pmod($"idx", lit(64)).cast("int").as("k"),
        $"pjk_l".cast(dec).as("pjk"))
    val s = qv.select(posexplode($"qa").as(Seq("j", "qj")))
      .groupBy($"j").agg(sum($"qj").as("sj"), count(lit(1)).as("nj"))
    val n = qv.agg(count(lit(1)).as("n"))
    val m = p
      .join(broadcast(s.select($"j", $"sj")), "j")
      .join(broadcast(s.select($"j".as("k"), $"sj".as("sk"))), "k")
      .crossJoin(broadcast(n))
      .select($"j", $"k",
        ($"n".cast(dec) * $"pjk" - $"sj".cast(dec) * $"sk".cast(dec)).as("mv"))
      // the three power rounds each re-reference m; pin it once (4096 rows)
      .localCheckpoint(true)
    val v0 = spark.range(64).select($"id".cast("int").as("k"),
      lit(1000000L).as("v"))
    // pivot attached via a single-partition window over the 64-row frame
    // (same value as "ORDER BY abs(t) DESC, j LIMIT 1" cross-joined back):
    // the whole 3-round recursion is one lazy plan — no per-round
    // broadcast-build or limit jobs.
    val wPiv = Window.orderBy(abs($"t").desc, $"j".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vFinal = (1 to PcaRounds).foldLeft(v0) { (v, _) =>
      m.join(v, "k").groupBy($"j").agg(sum($"mv" * $"v").as("t"))
        .withColumn("pv", first($"t").over(wPiv))
        .select($"j".as("k"),
          floor($"t".cast("double") / $"pv".cast("double") * 1e6 + 0.5)
            .cast("long").as("v"))
    }
    vFinal.select($"k".as("dim"), ($"v".cast("double") / 1e6).as("loading"))
      .orderBy("dim")
  }

  private val pcaPowerOracle = {
    val rounds = (1 to PcaRounds).map { r =>
      s"""t$r AS (SELECT m.j, sum(m.mv * v${r - 1}.v) AS t
         |       FROM m JOIN v${r - 1} ON m.k = v${r - 1}.k GROUP BY m.j),
         |piv$r AS (SELECT t AS pv FROM t$r ORDER BY abs(t) DESC, j ASC LIMIT 1),
         |v$r AS (SELECT j AS k,
         |          CAST(floor(CAST(t AS DOUBLE) / CAST(pv AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
         |        FROM t$r, piv$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS MATERIALIZED (
       |  SELECT list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS qa
       |  FROM embeddings),
       |p AS (
       |  SELECT j, k, sum(CAST(qa[j] AS HUGEINT) * qa[k]) AS pjk
       |  FROM d, (SELECT unnest(range(1, 65)) AS j), (SELECT unnest(range(1, 65)) AS k)
       |  GROUP BY j, k),
       |s AS (SELECT j, sum(qa[j]) AS sj FROM d, (SELECT unnest(range(1, 65)) AS j) GROUP BY j),
       |n AS (SELECT count(*) AS n FROM d),
       |m AS MATERIALIZED (
       |  SELECT p.j - 1 AS j, p.k - 1 AS k,
       |         CAST(n.n AS HUGEINT) * p.pjk - sa.sj * sb.sj AS mv
       |  FROM p JOIN s sa ON p.j = sa.j JOIN s sb ON p.k = sb.j, n),
       |v0 AS (SELECT CAST(range AS INTEGER) AS k, CAST(1000000 AS HUGEINT) AS v FROM range(64)),
       |$rounds
       |SELECT CAST(k AS INTEGER) AS dim, CAST(v AS DOUBLE) / 1000000.0 AS loading
       |FROM v$PcaRounds
       |ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------- x147

  /** Matryoshka prefix length — half the fixture's 64 dims. */
  private val MrlDims = 32

  /** x147: Matryoshka truncation audit — the retrieval-quality question
    * behind every two-stage ANN deployment (and MRL-trained embedding
    * stacks): how much of the exact top-5 survives if candidate scoring
    * uses only the first 32 of 64 dims? Both rankings are computed with
    * the x30 brute-force shape (broadcast query set, one corpus scan,
    * ranked window) and joined per query; `n_common` / `overlap` is the
    * audit number a platform tracks before committing to truncated
    * first-stage scoring. Deterministic: cosines rounded to 4dp before
    * ranking with vec_id tie-break, same as every ANN query here.
    *
    * Scale: two broadcast-scan passes (the truncated one reading half the
    * vector bytes — exactly the I/O saving being priced), one tiny join
    * on the 5×k pair set. At 100 TB the truncated pass would be the IVF/
    * PQ-pruned candidate stage; the audit shape is unchanged. */
  def matryoshkaAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def topk(dims: Option[Int]): DataFrame = {
      val base = Tables.embeddings(spark, dir).select($"vec_id",
        dims.fold(col("embedding"))(n => slice(col("embedding"), 1, n)).as("embedding"))
      val e = base.select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
      val q = e.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
      e.join(broadcast(q), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 5)
        .select($"q_id", $"vec_id")
    }
    val full = topk(None)
    val trunc = topk(Some(MrlDims)).withColumn("m", lit(1))
    full.join(trunc, Seq("q_id", "vec_id"), "left")
      .groupBy($"q_id")
      .agg(sum(coalesce($"m", lit(0))).as("n_common"))
      .select($"q_id", $"n_common",
        halfUp4($"n_common".cast("double") / 5.0).as("overlap"))
      .orderBy("q_id")
  }

  private lazy val matryoshkaAuditOracle = {
    s"""WITH t AS (SELECT vec_id, list_slice(embedding, 1, $MrlDims) AS emb32,
       |                  embedding AS emb FROM embeddings),
       |t2 AS (SELECT vec_id AS q_id, emb AS qv, emb32 AS qv32 FROM t WHERE vec_id % 100 = 0),
       |full_r AS (SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, e.vec_id,
       |         row_number() OVER (PARTITION BY q.q_id
       |           ORDER BY round(${cosineSql("q.qv", "e.emb")}, 4) DESC, e.vec_id) AS rk
       |  FROM t e JOIN t2 q ON e.vec_id <> q.q_id) WHERE rk <= 5),
       |tr_r AS (SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, e.vec_id,
       |         row_number() OVER (PARTITION BY q.q_id
       |           ORDER BY round(${cosineSql("q.qv32", "e.emb32")}, 4) DESC, e.vec_id) AS rk
       |  FROM t e JOIN t2 q ON e.vec_id <> q.q_id) WHERE rk <= 5)
       |SELECT f.q_id,
       |       CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |       floor(CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0
       |             * 10000 + 0.5) / 10000.0 AS overlap
       |FROM full_r f LEFT JOIN tr_r tr ON f.q_id = tr.q_id AND f.vec_id = tr.vec_id
       |GROUP BY f.q_id
       |ORDER BY f.q_id""".stripMargin
  }

  /* K-center greedy coreset selection — the
   * diversity-sampling method (farthest-point traversal) a data-curation
   * pipeline uses to pick a small representative subset of a corpus. */

  /** Candidate pool bound (vec_id % 10 = 0) and rounds (seed + 4). */
  private val PoolMod = 10

  /** x177: k-center greedy coreset — farthest-point traversal (the 2-OPT
    * approximation to k-center): seed with the smallest id, then four
    * times add the pool point FARTHEST from the selected set (cosine
    * distance, argmax ties toward the smaller id). The greedy recursion
    * is unrolled round by round (the x82 MMR discipline), each round one
    * broadcast of the single new center + a `least` fold of the running
    * min-distance — selection keys stay UNROUNDED doubles computed in
    * identical op order in both engines (the r6 ranking-key rule);
    * distances quantize half-up only for display. Emits the 5 centers in
    * selection order with their selection distances, plus each round's
    * coverage radius (the selection distance IS the k-center objective).
    *
    * Scale: one pairwise-sim stage over the pool (pool is a hash-bounded
    * sample, not the corpus), then O(k) broadcast rounds — the standard
    * coreset recipe; at 100 TB the pool comes from a q36-style hash
    * sample and the same unrolled plan applies. */
  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pool = Tables.embeddings(spark, dir)
      .filter($"vec_id" % PoolMod === 0)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
      .localCheckpoint(true) // both sim sides + every round's pool scan
    val sim = pool.select($"vec_id".as("a"), $"embedding".as("av"), $"nrm".as("an"))
      .join(pool.select($"vec_id".as("b"), $"embedding".as("bv"), $"nrm".as("bn")))
      .filter($"a" =!= $"b")
      .select($"a", $"b",
        (lit(1.0) - Similarity.dot($"av", $"bv") / ($"an" * $"bn")).as("d"))
      .localCheckpoint(true) // re-joined every round
    val ids = pool.select($"vec_id")
    def argmaxD(df: DataFrame): DataFrame = {
      val w = Window.orderBy($"dmin".desc, $"vec_id")
      df.withColumn("arn", row_number().over(w)).filter($"arn" === 1).drop("arn")
    }
    // seed: smallest id, selection distance undefined (0)
    val s1 = ids.orderBy($"vec_id").limit(1)
      .select($"vec_id", lit(0.0).as("dmin"))
    def dTo(center: DataFrame): DataFrame =
      ids.crossJoin(broadcast(center.select($"vec_id".as("c"))))
        .filter($"vec_id" =!= $"c")
        .join(sim, $"vec_id" === $"a" && $"c" === $"b")
        .select($"vec_id", $"d")
    // round 2: distance to the seed
    val d1 = dTo(s1).select($"vec_id", $"d".as("dmin"))
    val s2 = argmaxD(d1)
    // rounds 3..5: fold the new center's distance into the running min
    def round(prev: DataFrame, sel: DataFrame): (DataFrame, DataFrame) = {
      val dNew = dTo(sel).select($"vec_id", $"d".as("dnew"))
      val dm = prev.join(dNew, "vec_id") // the new center drops out (no self row)
        .select($"vec_id", least($"dmin", $"dnew").as("dmin"))
      (dm, argmaxD(dm))
    }
    val (d2, s3) = round(d1, s2)
    val (d3, s4) = round(d2, s3)
    val (_, s5) = round(d3, s4)
    s1.select(lit(1).as("rk"), $"vec_id", $"dmin")
      .unionByName(s2.select(lit(2).as("rk"), $"vec_id", $"dmin"))
      .unionByName(s3.select(lit(3).as("rk"), $"vec_id", $"dmin"))
      .unionByName(s4.select(lit(4).as("rk"), $"vec_id", $"dmin"))
      .unionByName(s5.select(lit(5).as("rk"), $"vec_id", $"dmin"))
      .select($"rk", $"vec_id", QueryUtil.halfUp4($"dmin").as("sel_dist"))
      .orderBy("rk")
  }

  private val kcenterCoresetOracle = {
    val cos = cosineSql("p.embedding", "c.embedding")
    s"""WITH pool AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % $PoolMod = 0),
       |s1 AS (SELECT min(vec_id) AS c1 FROM pool),
       |d1 AS MATERIALIZED (
       |  SELECT p.vec_id, 1.0 - $cos AS dmin
       |  FROM pool p JOIN pool c ON c.vec_id = (SELECT c1 FROM s1)
       |  WHERE p.vec_id <> (SELECT c1 FROM s1)),
       |s2 AS (SELECT vec_id AS c2, dmin FROM d1
       |       ORDER BY dmin DESC, vec_id LIMIT 1),
       |d2 AS MATERIALIZED (
       |  SELECT p.vec_id, least(d1.dmin, 1.0 - $cos) AS dmin
       |  FROM pool p
       |  JOIN d1 ON d1.vec_id = p.vec_id
       |  JOIN pool c ON c.vec_id = (SELECT c2 FROM s2)
       |  WHERE p.vec_id <> (SELECT c2 FROM s2)),
       |s3 AS (SELECT vec_id AS c3, dmin FROM d2
       |       ORDER BY dmin DESC, vec_id LIMIT 1),
       |d3 AS MATERIALIZED (
       |  SELECT p.vec_id, least(d2.dmin, 1.0 - $cos) AS dmin
       |  FROM pool p
       |  JOIN d2 ON d2.vec_id = p.vec_id
       |  JOIN pool c ON c.vec_id = (SELECT c3 FROM s3)
       |  WHERE p.vec_id <> (SELECT c3 FROM s3)),
       |s4 AS (SELECT vec_id AS c4, dmin FROM d3
       |       ORDER BY dmin DESC, vec_id LIMIT 1),
       |d4 AS MATERIALIZED (
       |  SELECT p.vec_id, least(d3.dmin, 1.0 - $cos) AS dmin
       |  FROM pool p
       |  JOIN d3 ON d3.vec_id = p.vec_id
       |  JOIN pool c ON c.vec_id = (SELECT c4 FROM s4)
       |  WHERE p.vec_id <> (SELECT c4 FROM s4)),
       |s5 AS (SELECT vec_id AS c5, dmin FROM d4
       |       ORDER BY dmin DESC, vec_id LIMIT 1)
       |SELECT rk, vec_id, floor(dmin * 10000 + 0.5) / 10000.0 AS sel_dist
       |FROM (
       |  SELECT 1 AS rk, (SELECT c1 FROM s1) AS vec_id, 0.0 AS dmin
       |  UNION ALL SELECT 2, c2, dmin FROM s2
       |  UNION ALL SELECT 3, c3, dmin FROM s3
       |  UNION ALL SELECT 4, c4, dmin FROM s4
       |  UNION ALL SELECT 5, c5, dmin FROM s5)
       |ORDER BY rk""".stripMargin
  }

  /* Density-based outlier scoring over the
   * embedding corpus — Local Outlier Factor (x213), the neighbor-
   * relative density ratio that flags points whose local density is far
   * below their neighbors' (a global distance threshold can't see
   * cluster-relative outliers). */

  /** Neighborhood size. */
  private val LofK = 5

  /** Published outliers (top LOF scores). */
  private val LofTop = 20

  /** `(vec_id, embedding, n2)` with `n2` the squared norm, spread over the
    * default parallelism and checkpointed: the stream side of the n × n
    * pair stages of x213, x216 and x217. The embedding table is tiny on
    * disk (one scan partition), but the nested-loop join fans each stream
    * row out n ways; without the repartition the whole quadratic stage
    * runs on a few cores (measured at sf1). */
  private def pairStageEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("n2"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)

  /** x213: Local Outlier Factor, exactly: kNN for EVERY corpus vector
    * (squared L2 via the precomputed-norm identity ‖a‖²+‖b‖²−2a·b, the
    * x30 recipe), k-distance per point, reachability
    * rd(p,o) = max(kdist(o), d(p,o)) quantized to 1e-6 fixed point per
    * PAIR (so the k-element sums are order-free integer sums), local
    * reachability density lrd = k·10¹² div Σrd, and
    * LOF(p) = Σ_{o∈kNN(p)} lrd(o) / (k·lrd(p)) — every division an
    * integer div on positives. Publishes the [[LofTop]] highest
    * scores.
    *
    * Scale: the fixture corpus is small enough for the exact n² pass
    * (the documented brute baseline, like x30); at 100 TB the kNN
    * stage swaps for the x34 IVF or x31 sign-LSH candidate generation
    * while the LOF algebra downstream is unchanged — it only ever
    * touches the n·k neighbor table. */
  def lof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = pairStageEmbeddings(spark, dir)
    // d² quantized to 1e-6 fixed point AT THE PAIR so the kNN ranking key
    // is an exact integer — which lets the r11 scale fix below use the
    // x192 bounded top-k aggregate instead of ranking n² rows through a
    // window (the sf1 sweep measured that shuffle as the scale killer:
    // 69 s at 20k vectors). topk_pairs(-d2_fp, b, k) ships ≤k pairs per
    // point per map task; the exchange is O(n·k), never O(n²). The n²·d
    // dot-product COMPUTE stays (exact kNN is quadratic by definition —
    // the subquadratic exponent lives in the x34/x31 candidate paths).
    val pairs = emb.toDF("a", "av", "na2")
      .join(broadcast(emb.toDF("b", "bv", "nb2")), $"a" =!= $"b")
      .select($"a", $"b",
        floor(($"na2" + $"nb2" - Similarity.dot($"av", $"bv") * 2) * 1e6 + 0.5)
          .cast("long").as("d2fp"))
    val knn = pairs.groupBy($"a")
      .agg(expr(s"topk_pairs(-d2fp, b, $LofK)").as("top"))
      .select($"a", posexplode($"top"))
      .select($"a", ($"pos" + 1).as("rk"), $"col.id".as("b"),
        (-$"col.v").as("d2fp"))
      .localCheckpoint(true)
    // kdist keyed by the POINT whose neighborhood it is: rk==K row of a.
    val kdistOf = knn.filter($"rk" === LofK).select($"a".as("o"), $"d2fp".as("kd2"))
    val reach = knn
      .join(kdistOf.toDF("b", "kd2_b"), "b")
      .select($"a", $"b",
        expr("greatest(CAST(floor(sqrt(greatest(kd2_b, d2fp) / 1000000.0)" +
          " * 1000000 + 0.5) AS BIGINT), CAST(1 AS BIGINT))").as("rd_fp"))
    val lrd = reach.groupBy($"a")
      .agg(sum($"rd_fp").as("srd"))
      .select($"a", expr(s"CAST($LofK AS BIGINT) * 1000000000000 div srd")
        .as("lrd_fp"))
      .localCheckpoint(true)
    val lofScores = knn
      .join(lrd.toDF("b", "lrd_o"), "b")
      .groupBy($"a").agg(sum($"lrd_o").as("slrd"))
      .join(lrd.toDF("a", "lrd_p"), "a")
      .select($"a".as("vec_id"),
        expr(s"(slrd * 1000000) div ($LofK * lrd_p)").as("lof_fp"))
    lofScores
      .withColumn("rk", row_number().over(
        Window.orderBy($"lof_fp".desc, $"vec_id")).cast("long"))
      .filter($"rk" <= LofTop)
      .select($"rk", $"vec_id", $"lof_fp")
      .orderBy($"rk")
  }

  private val lofOracle = {
    val dot = "list_sum(list_transform(range(1, len(e1.embedding) + 1)," +
      " i -> CAST(e1.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))"
    s"""WITH norms AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |         list_sum(list_transform(range(1, len(embedding) + 1),
       |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
       |           AS n2
       |  FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT e1.vec_id AS a, e2.vec_id AS b,
       |         CAST(floor((e1.n2 + e2.n2 - $dot * 2) * 1000000 + 0.5)
       |              AS BIGINT) AS d2fp
       |  FROM norms e1 JOIN norms e2 ON e1.vec_id <> e2.vec_id),
       |knn AS MATERIALIZED (
       |  SELECT a, b, d2fp, rk FROM (
       |    SELECT a, b, d2fp,
       |           row_number() OVER (PARTITION BY a ORDER BY d2fp, b) AS rk
       |    FROM pairs) t
       |  WHERE rk <= $LofK),
       |kdist_of AS MATERIALIZED (
       |  SELECT a AS o, d2fp AS kd2 FROM knn WHERE rk = $LofK),
       |reach AS (
       |  SELECT k.a, k.b,
       |         greatest(CAST(floor(sqrt(greatest(kd.kd2, k.d2fp) / 1000000.0)
       |              * 1000000 + 0.5) AS BIGINT), 1) AS rd_fp
       |  FROM knn k JOIN kdist_of kd ON kd.o = k.b),
       |lrd AS MATERIALIZED (
       |  SELECT a, CAST($LofK * 1000000000000 // sum(rd_fp) AS BIGINT) AS lrd_fp
       |  FROM reach GROUP BY a),
       |scores AS (
       |  SELECT k.a AS vec_id,
       |         CAST(sum(lo.lrd_fp) * 1000000 // ($LofK * max(lp.lrd_fp))
       |              AS BIGINT) AS lof_fp
       |  FROM knn k
       |  JOIN lrd lo ON lo.a = k.b
       |  JOIN lrd lp ON lp.a = k.a
       |  GROUP BY k.a)
       |SELECT rk, vec_id, lof_fp FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY lof_fp DESC, vec_id)
       |              AS BIGINT) AS rk, vec_id, lof_fp
       |  FROM scores) t
       |WHERE rk <= $LofTop
       |ORDER BY rk""".stripMargin
  }

  /* Hubness in high-dimensional retrieval —
   * the k-occurrence audit that measures it (x217) and CSLS reranking
   * that corrects for it (x216). */

  /** Neighborhood size for the local-scaling means and the audit. */
  private val CslsK = 10

  /** Published depth per query. */
  private val CslsTop = 5

  /** Shared SQL: per-pair cosine in 1e-6 fixed point. */
  private def cosFpSql(dot: String) =
    s"CAST(floor($dot / (sqrt(n2a) * sqrt(n2b)) * 1000000 + 0.5) AS BIGINT)"

  /** x216: CSLS (cross-domain similarity local scaling) top-k — the
    * hubness correction from the bilingual-embedding literature:
    * score(a,b) = 2·cos(a,b) − r(a) − r(b), where r(x) is the mean
    * cosine of x's [[CslsK]] nearest neighbors. Hubs (points that are
    * everyone's neighbor) carry a high r penalty, so they stop
    * crowding every result list — the failure mode plain x30 cosine
    * has in high dimensions. All cosines quantize to 1e-6 per pair;
    * r is an integer div mean; the CSLS key is an exact integer, so
    * the ranking is engine-stable by construction.
    *
    * Scale: the r table is the x213 kNN pass (brute here, IVF/LSH
    * candidates at scale); the query rerank touches |queries|×n pairs
    * with the query side broadcast. */
  def cslsTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = pairStageEmbeddings(spark, dir)
    // r11 scale fix (sf1 sweep): the integer cos_fp ranking key lets BOTH
    // rank stages run as the x192 bounded top-k AGGREGATE — map tasks
    // ship ≤k pairs per point, so no n²-row window shuffle anywhere; the
    // result order (cos_fp DESC, b ASC) is exactly the old window's.
    val pairs = emb.toDF("a", "av", "n2a")
      .join(broadcast(emb.toDF("b", "bv", "n2b")), $"a" =!= $"b")
      .select($"a", $"b",
        expr(cosFpSql("vec_dot(av, bv)")).as("cos_fp"))
    val knn = pairs.groupBy($"a")
      .agg(expr(s"topk_pairs(cos_fp, b, $CslsK)").as("top"))
      .select($"a", explode($"top").as("p"))
      .select($"a", $"p.id".as("b"), $"p.v".as("cos_fp"))
    val r = knn.groupBy($"a")
      .agg(expr("sum(cos_fp) div count(1)").as("r_fp"))
      .localCheckpoint(true)
    val q = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"), $"n2".as("n2a"))
    val scored = emb.toDF("b", "bv", "n2b")
      .join(broadcast(q), $"b" =!= $"qid")
      .select($"qid", $"b", expr(cosFpSql("vec_dot(qv, bv)")).as("cos_fp"))
      .join(broadcast(r.toDF("qid", "r_q")), "qid")
      .join(r.toDF("b", "r_b"), "b")
      .select($"qid", $"b",
        ($"cos_fp" * 2 - $"r_q" - $"r_b").as("csls_fp"))
    // cos_fp re-derives exactly from the integer identity
    // csls = 2·cos − r_q − r_b (the sum is even by construction).
    scored.groupBy($"qid")
      .agg(expr(s"topk_pairs(csls_fp, b, $CslsTop)").as("top"))
      .select($"qid", posexplode($"top"))
      .select($"qid", ($"pos" + 1).cast("long").as("rk"),
        $"col.id".as("vec_id"), $"col.v".as("csls_fp"))
      .join(broadcast(r.toDF("qid", "r_q")), "qid")
      .join(r.toDF("vec_id", "r_b"), "vec_id")
      .select($"qid", $"rk", $"vec_id", $"csls_fp",
        expr("(csls_fp + r_q + r_b) div 2").as("cos_fp"))
      .orderBy($"qid", $"rk")
  }

  private def oracleCos(a: String, b: String) =
    s"""CAST(floor(list_sum(list_transform(range(1, len($a.embedding) + 1),
       |    i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))
       |  / (sqrt($a.n2) * sqrt($b.n2)) * 1000000 + 0.5) AS BIGINT)""".stripMargin

  private val normsCte =
    """norms AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |         list_sum(list_transform(range(1, len(embedding) + 1),
      |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
      |           AS n2
      |  FROM embeddings)""".stripMargin

  private val cslsOracle =
    s"""WITH $normsCte,
       |pairs AS MATERIALIZED (
       |  SELECT e1.vec_id AS a, e2.vec_id AS b,
       |         ${oracleCos("e1", "e2")} AS cos_fp
       |  FROM norms e1 JOIN norms e2 ON e1.vec_id <> e2.vec_id),
       |knn AS (
       |  SELECT a, b, cos_fp,
       |         row_number() OVER (PARTITION BY a ORDER BY cos_fp DESC, b) AS rk
       |  FROM pairs),
       |r AS MATERIALIZED (
       |  SELECT a, CAST(sum(cos_fp) // count(*) AS BIGINT) AS r_fp
       |  FROM knn WHERE rk <= $CslsK GROUP BY a),
       |scored AS (
       |  SELECT p.a AS qid, p.b,
       |         CAST(p.cos_fp * 2 - rq.r_fp - rb.r_fp AS BIGINT) AS csls_fp,
       |         p.cos_fp
       |  FROM pairs p
       |  JOIN r rq ON rq.a = p.a JOIN r rb ON rb.a = p.b
       |  WHERE p.a % 50 = 0)
       |SELECT qid, rk, vec_id, csls_fp, cos_fp FROM (
       |  SELECT qid, b AS vec_id, csls_fp, cos_fp,
       |         CAST(row_number() OVER (PARTITION BY qid
       |           ORDER BY csls_fp DESC, b) AS BIGINT) AS rk
       |  FROM scored) t
       |WHERE rk <= $CslsTop
       |ORDER BY qid, rk""".stripMargin

  /** x217: hubness audit — the k-occurrence distribution N_k (how many
    * top-[[CslsK]] lists each vector appears in). In high dimensions
    * N_k grows right-skewed: a few hubs dominate while antihubs vanish
    * from every list — the effect x216 corrects. Publishes the top
    * hubs plus the replicated distribution panel: antihub count,
    * max N_k, and the moment skewness of N_k (integer moments, one
    * IEEE sqrt).
    *
    * Scale: one n·k aggregation over the kNN table; the distribution
    * is corpus-rows-sized with a constant-width output. */
  def hubnessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = pairStageEmbeddings(spark, dir)
    // r11 scale fix: bounded top-k aggregate instead of the n²-row window
    // (see cslsTopk above — same shape, same result order).
    val pairs = emb.toDF("a", "av", "n2a")
      .join(broadcast(emb.toDF("b", "bv", "n2b")), $"a" =!= $"b")
      .select($"a", $"b",
        expr(cosFpSql("vec_dot(av, bv)")).as("cos_fp"))
    val knn = pairs.groupBy($"a")
      .agg(expr(s"topk_pairs(cos_fp, b, $CslsK)").as("top"))
      .select($"a", explode($"top").as("p"))
      .select($"a", $"p.id".as("b"))
    val nk = emb.select($"vec_id")
      .join(knn.groupBy($"b").agg(count(lit(1)).as("k_occ")),
        $"vec_id" === $"b", "left")
      .select($"vec_id", coalesce($"k_occ", lit(0L)).as("k_occ"))
      .localCheckpoint(true)
    val mom = nk.agg(count(lit(1)).as("n"), sum($"k_occ").as("s1"),
      sum($"k_occ" * $"k_occ").as("s2"),
      sum($"k_occ" * $"k_occ" * $"k_occ").as("s3"),
      sum(when($"k_occ" === 0L, 1L).otherwise(0L)).as("n_antihubs"),
      max($"k_occ").as("max_k_occ"))
    val panel = mom.select($"n_antihubs", $"max_k_occ",
      // Skewness = (m3) / m2^1.5 with central moments from raw sums,
      // one spelled-out double formula (mean = s1/n etc.).
      expr("CAST(floor((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)" +
        " - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))" +
        " / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
        " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))" +
        " * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
        " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))" +
        " * 10000 + 0.5) AS BIGINT)").as("skew_fp4"))
    nk.withColumn("rk", row_number().over(
      Window.orderBy($"k_occ".desc, $"vec_id")).cast("long"))
      .filter($"rk" <= 10)
      .crossJoin(broadcast(panel))
      .select($"rk", $"vec_id", $"k_occ", $"n_antihubs", $"max_k_occ",
        $"skew_fp4")
      .orderBy($"rk")
  }

  private val hubnessOracle =
    s"""WITH $normsCte,
       |pairs AS MATERIALIZED (
       |  SELECT e1.vec_id AS a, e2.vec_id AS b,
       |         ${oracleCos("e1", "e2")} AS cos_fp
       |  FROM norms e1 JOIN norms e2 ON e1.vec_id <> e2.vec_id),
       |knn AS (
       |  SELECT a, b FROM (
       |    SELECT a, b,
       |           row_number() OVER (PARTITION BY a ORDER BY cos_fp DESC, b) AS rk
       |    FROM pairs) t
       |  WHERE rk <= $CslsK),
       |nk AS MATERIALIZED (
       |  SELECT n0.vec_id, CAST(COALESCE(k.k_occ, 0) AS BIGINT) AS k_occ
       |  FROM norms n0 LEFT JOIN (
       |    SELECT b, CAST(count(*) AS BIGINT) AS k_occ FROM knn GROUP BY b) k
       |  ON k.b = n0.vec_id),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(k_occ) AS BIGINT) AS s1,
       |         CAST(sum(k_occ * k_occ) AS BIGINT) AS s2,
       |         CAST(sum(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
       |         CAST(sum(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_antihubs,
       |         CAST(max(k_occ) AS BIGINT) AS max_k_occ
       |  FROM nk),
       |panel AS (
       |  SELECT n_antihubs, max_k_occ,
       |         CAST(floor((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
       |           - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |           * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
       |           + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
       |           / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
       |           * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
       |           * 10000 + 0.5) AS BIGINT) AS skew_fp4
       |  FROM mom)
       |SELECT rk, vec_id, k_occ, n_antihubs, max_k_occ, skew_fp4 FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY k_occ DESC, vec_id)
       |              AS BIGINT) AS rk, vec_id, k_occ
       |  FROM nk) t, panel
       |WHERE rk <= 10
       |ORDER BY rk""".stripMargin

  /** Neighborhood size / published depth (x213's constants). */
  private val IvfLofK = 5
  private val IvfLofTop = 20

  /** x238: IVF-LOF — the subquadratic outlier path x213's scaladoc
    * promises ("at 100 TB the kNN stage swaps for the x34 IVF candidate
    * generation while the LOF algebra downstream is unchanged"), landed
    * as its own oracle-paired operator after the r11 sf1 sweep measured
    * exact LOF's Θ(n²) compute. The x34 seed rule (`vec_id % 97 == 0`)
    * scales the centroid count WITH the corpus, so each point's
    * candidate set is its 2 probed lists ≈ 2·97 vectors regardless of n
    * — candidate volume O(n·194), LINEAR in corpus size. One
    * crossJoin+window yields BOTH the assignment (rn=1) and the probes
    * (rn≤2); kNN over candidates uses the x192 bounded top-k aggregate
    * on the 1e-6-quantized d²; reachability/lrd/LOF are exactly x213's
    * integer algebra. Points with fewer than k candidates (or neighbors
    * lacking a kdist) drop out via the inner joins — mirrored joins in
    * the oracle, so both engines agree on the defined set.
    *
    * Scale: centroids broadcast; the candidate join is an equi-join on
    * cent_id (never all-pairs); every downstream frame is O(n·k). */
  def ivfLof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        graft.operators.Similarity.norm($"embedding").as("nrm"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val cents = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv"), $"nrm".as("cn"))
    val wA = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    val ranked = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"nrm", $"cent_id",
        (graft.operators.Similarity.dot($"embedding", $"cv") / ($"nrm" * $"cn"))
          .as("ccos"))
      .withColumn("rn", row_number().over(wA))
      .localCheckpoint(true)
    val assigned = ranked.filter($"rn" === 1)
      .select($"vec_id".as("b"), $"embedding".as("bv"), $"nrm".as("bn"),
        $"cent_id")
    val probes = ranked.filter($"rn" <= 2)
      .select($"vec_id".as("a"), $"embedding".as("av"), $"nrm".as("an"),
        $"cent_id")
    val cand = probes.join(assigned, "cent_id")
      .filter($"b" =!= $"a")
      .select($"a", $"b",
        floor(($"an" * $"an" + $"bn" * $"bn"
          - graft.operators.Similarity.dot($"av", $"bv") * 2) * 1e6 + 0.5)
          .cast("long").as("d2fp"))
    val knn = cand.groupBy($"a")
      .agg(expr(s"topk_pairs(-d2fp, b, $IvfLofK)").as("top"))
      .select($"a", posexplode($"top"))
      .select($"a", ($"pos" + 1).as("rk"), $"col.id".as("b"),
        (-$"col.v").as("d2fp"))
      .localCheckpoint(true)
    val kdistOf = knn.filter($"rk" === IvfLofK).select($"a".as("o"), $"d2fp".as("kd2"))
    val reach = knn
      .join(kdistOf.toDF("b", "kd2_b"), "b")
      .select($"a", $"b",
        expr("greatest(CAST(floor(sqrt(greatest(kd2_b, d2fp) / 1000000.0)" +
          " * 1000000 + 0.5) AS BIGINT), CAST(1 AS BIGINT))").as("rd_fp"))
    val lrd = reach.groupBy($"a")
      .agg(count(lit(1)).as("nk"), sum($"rd_fp").as("srd"))
      .select($"a", expr("nk * 1000000000000 div srd").as("lrd_fp"))
      .localCheckpoint(true)
    val lofScores = knn
      .join(lrd.toDF("b", "lrd_o"), "b")
      .groupBy($"a").agg(count(lit(1)).as("nn"), sum($"lrd_o").as("slrd"))
      .join(lrd.toDF("a", "lrd_p"), "a")
      .select($"a".as("vec_id"),
        expr("(slrd * 1000000) div (nn * lrd_p)").as("lof_fp"))
    lofScores
      .withColumn("rk", row_number().over(
        Window.orderBy($"lof_fp".desc, $"vec_id")).cast("long"))
      .filter($"rk" <= IvfLofTop)
      .select($"rk", $"vec_id", $"lof_fp")
      .orderBy($"rk")
  }

  private val ivfLofOracle = {
    val dot = dotSql _
    s"""WITH ${ivfSeedSql},
       |acr AS (
       |  SELECT vec_id, embedding, nrm, cent_id, ccos,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY ccos DESC, cent_id) AS rn
       |  FROM (SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
       |          ${dot("e.embedding", "c.cv")} / (e.nrm * c.cn) AS ccos
       |        FROM e CROSS JOIN c) t),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id AS b, embedding AS bv, nrm AS bn, cent_id
       |  FROM acr WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS a, embedding AS av, nrm AS an, cent_id
       |  FROM acr WHERE rn <= 2),
       |cand AS (
       |  SELECT p.a, s.b,
       |         CAST(floor((p.an * p.an + s.bn * s.bn
       |                - ${dot("p.av", "s.bv")} * 2) * 1000000 + 0.5)
       |              AS BIGINT) AS d2fp
       |  FROM probes p JOIN assigned s USING (cent_id)
       |  WHERE s.b <> p.a),
       |knn AS MATERIALIZED (
       |  SELECT a, b, d2fp, rk FROM (
       |    SELECT a, b, d2fp,
       |           row_number() OVER (PARTITION BY a ORDER BY d2fp, b) AS rk
       |    FROM cand) t
       |  WHERE rk <= $IvfLofK),
       |kdist_of AS MATERIALIZED (
       |  SELECT a AS o, d2fp AS kd2 FROM knn WHERE rk = $IvfLofK),
       |reach AS (
       |  SELECT k.a, k.b,
       |         greatest(CAST(floor(sqrt(greatest(kd.kd2, k.d2fp) / 1000000.0)
       |              * 1000000 + 0.5) AS BIGINT), 1) AS rd_fp
       |  FROM knn k JOIN kdist_of kd ON kd.o = k.b),
       |lrd AS MATERIALIZED (
       |  SELECT a, CAST(count(*) * 1000000000000 // sum(rd_fp) AS BIGINT)
       |           AS lrd_fp
       |  FROM reach GROUP BY a),
       |scores AS (
       |  SELECT k.a AS vec_id,
       |         CAST(sum(lo.lrd_fp) * 1000000 // (count(*) * max(lp.lrd_fp))
       |              AS BIGINT) AS lof_fp
       |  FROM knn k
       |  JOIN lrd lo ON lo.a = k.b
       |  JOIN lrd lp ON lp.a = k.a
       |  GROUP BY k.a)
       |SELECT rk, vec_id, lof_fp FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY lof_fp DESC, vec_id)
       |              AS BIGINT) AS rk, vec_id, lof_fp
       |  FROM scores) t
       |WHERE rk <= $IvfLofTop
       |ORDER BY rk""".stripMargin
  }

  /* Density clustering over the banded embedding
   * graph (LSH-DBSCAN), held-out stupid-backoff trigram scoring, and
   * DSIR-style importance resampling — three published training-data
   * curation recipes not yet in the registry.
   * Elsewhere: x245 (TextQueries); x249 (CurationQueries).
   */

  // ---------------------------------------------------------------- x244

  private val DbBands = 8
  private val DbRowsPerBand = 4
  /** Neighborhood threshold (cosine) and core-point degree minimum. */
  private val DbEps = 0.40
  private val DbMinPts = 2

  /** x244: DBSCAN over the banded sign-LSH neighbor graph — the density
    * clustering a curation pipeline runs to find mode collapse / template
    * farms in an embedding space, at the subquadratic candidate cost the
    * x32 near-dup join already pays. Neighborhood = banded candidates
    * (8×4 sign bits, shared bucket cap) with cosine ≥ [[DbEps]] — i.e.
    * the classic LSH-approximated DBSCAN: a true eps-pair the banding
    * misses is absent in BOTH engines, so the clustering is exact over
    * the declared (banded) neighbor graph. Roles: core = degree ≥
    * [[DbMinPts]]; border = non-core adjacent to ≥1 core; noise = rest.
    * Cluster id = min core vec_id reachable through CORE-CORE edges
    * (density-reachability — border points never bridge clusters, per
    * the original DBSCAN definition); borders take the min cluster over
    * their core neighbors; noise gets −1.
    *
    * Spark: the eps-graph is the x32 band equi-join shape; components
    * over core-core edges run large-star/small-star
    * ([[graft.operators.Components.connectedComponentsStars]], O(log d)
    * rounds); everything else is degree aggregates + one broadcast-size
    * label join. Oracle: identical banding + recursive-CTE transitive
    * closure — independent algorithms, same fixpoint (x14 precedent).
    * 100 TB: candidate generation is banded/capped (never all-pairs),
    * components are the billion-edge algorithm, and the label frames
    * scale with #core points, not the corpus. */
  def lshDbscan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"),
        Similarity.signBucket($"embedding", DbBands * DbRowsPerBand).as("sb"))
    val banded = emb.select($"vec_id",
      posexplode(array((0 until DbBands).map(t =>
        substring($"sb", t * DbRowsPerBand + 1, DbRowsPerBand)): _*))
        .as(Seq("band", "bh")))
    val cand = Dedup.bandSelfJoin(banded, "vec_id", Dedup.DefaultMaxBucket)
    val pairs = cand
      .join(emb.select($"vec_id".as("a"), $"embedding".as("va"), $"nrm".as("na")), "a")
      .join(emb.select($"vec_id".as("b"), $"embedding".as("vb"), $"nrm".as("nb")), "b")
      .select($"a", $"b", QueryUtil.fence(
        round(Similarity.dot($"va", $"vb") / ($"na" * $"nb"), 4)).as("cosine"))
      .filter($"cosine" >= DbEps)
      .select($"a", $"b")
      .localCheckpoint(true)
    val sym = pairs.select($"a".as("v"), $"b".as("w"))
      .unionByName(pairs.select($"b".as("v"), $"a".as("w")))
    val deg = sym.groupBy($"v").agg(count(lit(1)).as("deg"))
    val core = deg.filter($"deg" >= DbMinPts).select($"v").localCheckpoint(true)
    val coreEdges = pairs
      .join(core.select($"v".as("a")), "a")
      .join(core.select($"v".as("b")), "b")
      .select($"a", $"b")
    val labels = graft.operators.Components
      .connectedComponentsStars(spark, core.toDF("vec_id"), coreEdges, "vec_id")
      .select($"vec_id".as("cv"), $"component".as("cluster_id"))
      .localCheckpoint(true)
    // border: non-core nodes adjacent to >= 1 core; min cluster over
    // core neighbors (deterministic).
    val borderLab = sym
      .join(core.select($"v".as("w"), lit(1).as("wc")), "w")
      .join(labels.withColumnRenamed("cv", "w"), "w")
      .join(core.select($"v", lit(1).as("vc")), Seq("v"), "left_anti")
      .groupBy($"v").agg(min($"cluster_id").as("cluster_id"))
    val all = Tables.embeddings(spark, dir).select($"vec_id")
    all
      .join(labels.select($"cv".as("vec_id"), $"cluster_id".as("c_core")),
        Seq("vec_id"), "left")
      .join(borderLab.select($"v".as("vec_id"), $"cluster_id".as("c_bord")),
        Seq("vec_id"), "left")
      .join(deg.select($"v".as("vec_id"), $"deg"), Seq("vec_id"), "left")
      .select($"vec_id",
        when($"c_core".isNotNull, 2).when($"c_bord".isNotNull, 1)
          .otherwise(0).cast("int").as("role"),
        coalesce($"c_core", $"c_bord", lit(-1L)).as("cluster_id"),
        coalesce($"deg", lit(0L)).as("deg"))
      .orderBy("vec_id")
  }

  private val lshDbscanOracle = {
    val bands = (0 until DbBands).map(t =>
      s"SELECT vec_id, $t AS band, substr(sb, ${t * DbRowsPerBand + 1}, $DbRowsPerBand) AS bh FROM e")
      .mkString("\n       UNION ALL ")
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding,
       |         ${bucketSql("embedding", DbBands * DbRowsPerBand)} AS sb
       |  FROM embeddings),
       |bands AS ($bands),
       |bands_pruned AS (SELECT vec_id, band, bh
       |  FROM (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bn FROM bands)
       |  WHERE bn <= ${Dedup.DefaultMaxBucket}),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bands_pruned x JOIN bands_pruned y
       |    ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id),
       |p AS MATERIALIZED (SELECT a, b
       |  FROM (SELECT a, b, round(${cosineSql("ea.embedding", "eb.embedding")}, 4) AS cosine
       |        FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b)
       |  WHERE cosine >= $DbEps),
       |sym AS (SELECT a AS v, b AS w FROM p UNION ALL SELECT b AS v, a AS w FROM p),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY v),
       |core AS (SELECT v FROM deg WHERE deg >= $DbMinPts),
       |ce AS (SELECT p.a, p.b FROM p
       |       JOIN core ca ON ca.v = p.a JOIN core cb ON cb.v = p.b),
       |cedges AS (SELECT a AS src, b AS dst FROM ce UNION ALL SELECT b AS src, a AS dst FROM ce),
       |reach AS (SELECT v AS id, v AS r FROM core
       |          UNION
       |          SELECT cedges.src AS id, reach.r AS r
       |          FROM cedges JOIN reach ON cedges.dst = reach.id),
       |labels AS (SELECT id AS cv, CAST(min(r) AS BIGINT) AS cluster_id
       |           FROM reach GROUP BY id),
       |bord AS (SELECT s.v, CAST(min(l.cluster_id) AS BIGINT) AS cluster_id
       |         FROM sym s JOIN core c ON c.v = s.w
       |         JOIN labels l ON l.cv = s.w
       |         WHERE s.v NOT IN (SELECT v FROM core)
       |         GROUP BY s.v)
       |SELECT em.vec_id,
       |       CAST(CASE WHEN l.cluster_id IS NOT NULL THEN 2
       |                 WHEN b.cluster_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS role,
       |       COALESCE(l.cluster_id, b.cluster_id, -1) AS cluster_id,
       |       COALESCE(d.deg, 0) AS deg
       |FROM embeddings em
       |LEFT JOIN labels l ON l.cv = em.vec_id
       |LEFT JOIN bord b ON b.v = em.vec_id
       |LEFT JOIN deg d ON d.v = em.vec_id
       |ORDER BY em.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- x297

  /** Neighborhood size for the margin denominators. */
  private val MarginK = 10

  /** x297: margin-based bitext mining (the Artetxe–Schwenk RATIO margin,
    * the standard parallel-corpus miner for multilingual training data):
    * split the embedding table into a "source" side (even vec_id) and
    * "target" side (odd), score every cross pair by
    * `margin(a,b) = sim(a,b) / ((r(a) + r(b)) / 2)` with r(x) = mean
    * similarity of x's [[MarginK]] nearest cross-side neighbors, and
    * mine the pairs where a's best target and b's best source agree
    * (mutual top-1). Arithmetic contract: cosines quantize to 1e-6
    * fixed point (the x216 recipe); similarities shift to [0, 2e6] so
    * every margin is positive-definite; the margin ranking key is the
    * integer `(sim_shift · 1e6) div (r_a + r_b)` — floor of an exact
    * rational, so both engines rank identically (x216's CSLS is the
    * DIFFERENCE margin; this is the ratio variant the mining literature
    * actually uses, plus the mutual-agreement gate).
    *
    * Scale: r comes from the kNN pass (brute here; IVF/LSH candidates at
    * scale — x238's swap), the pair stage is src×tgt with the smaller
    * side broadcast, and top-1 runs as the bounded topk_pairs aggregate
    * (map-side k rows, no n² window shuffle). */
  def marginBitext(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        Similarity.dot($"embedding", $"embedding").as("n2"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val src = emb.filter($"vec_id" % 2 === 0).toDF("a", "av", "n2a")
    val tgt = emb.filter($"vec_id" % 2 === 1).toDF("b", "bv", "n2b")
    // sim shifted to [0, 2e6]: cos fixed-point + 1e6. The n_src×n_tgt pair
    // frame must NEVER materialize into the storage pool (a localCheckpoint
    // here pinned ~1e8 rows at sf1 and starved execution memory — caught by
    // the r12 scale sweep, SparkOutOfMemoryError): instead ONE explicit
    // exchange on `a` is the reuse point all four consumers (r_a, r_b,
    // fwd, bwd) read via AQE stage reuse — shuffle data spills to disk
    // natively, and the 64-dim dot products compute once, not four times.
    val pairs = src.join(broadcast(tgt), $"a" =!= $"b")
      .select($"a", $"b",
        (expr("CAST(floor(vec_dot(av, bv) / sqrt(n2a * n2b) * 1000000 + 0.5) AS BIGINT)")
          + 1000000L).as("sim_fp"))
      .repartition($"a")
    val rA = pairs.groupBy($"a")
      .agg(expr(s"topk_pairs(sim_fp, b, $MarginK)").as("top"))
      .select($"a", expr("aggregate(top, 0L, (acc, x) -> acc + x.v) div size(top)").as("r_a"))
      .localCheckpoint(true)
    val rB = pairs.groupBy($"b")
      .agg(expr(s"topk_pairs(sim_fp, a, $MarginK)").as("top"))
      .select($"b", expr("aggregate(top, 0L, (acc, x) -> acc + x.v) div size(top)").as("r_b"))
      .localCheckpoint(true)
    // scored pairs stay a streaming view over the reused exchange; top-1s
    // come out of bounded topk aggregates (map-side k rows, no n² shuffle)
    val scored = pairs
      .join(broadcast(rA), "a").join(broadcast(rB), "b")
      .select($"a", $"b", $"sim_fp",
        expr("(sim_fp * 1000000L) div (r_a + r_b)").as("margin_fp"))
    val fwd = scored.groupBy($"a")
      .agg(expr("topk_pairs(margin_fp, b, 1)").as("t"))
      .select($"a", $"t"(0).getField("id").as("b"),
        $"t"(0).getField("v").as("margin_fp"))
    val bwd = scored.groupBy($"b")
      .agg(expr("topk_pairs(margin_fp, a, 1)").as("t"))
      .select($"b", $"t"(0).getField("id").as("a"))
    // recover cos for the mined pairs from the EMBEDDINGS (|mined| ≈ n_src
    // rows) instead of joining the n² scored frame a third time
    val mined = fwd.join(bwd, Seq("a", "b")) // mutual top-1 agreement
    mined
      .join(emb.select($"vec_id".as("a"), $"embedding".as("av"), $"n2".as("n2a")), "a")
      .join(emb.select($"vec_id".as("b"), $"embedding".as("bv"), $"n2".as("n2b")), "b")
      .select($"a", $"b", $"margin_fp",
        expr("CAST(floor(vec_dot(av, bv) / sqrt(n2a * n2b) * 1000000 + 0.5) AS BIGINT)")
          .as("cos_fp"))
      .orderBy($"a")
  }

  private val marginBitextOracle = {
    val cos =
      """CAST(floor(list_sum(list_transform(range(1, len(s.embedding) + 1),
        |    i -> CAST(s.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
        |  / (sqrt(s.n2) * sqrt(t.n2)) * 1000000 + 0.5) AS BIGINT)""".stripMargin
    s"""WITH norms AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |         list_sum(list_transform(range(1, len(embedding) + 1),
       |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
       |           AS n2
       |  FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT s.vec_id AS a, t.vec_id AS b, $cos + 1000000 AS sim_fp
       |  FROM norms s JOIN norms t
       |    ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1),
       |ra AS (SELECT a, CAST(sum(sim_fp) // count(*) AS BIGINT) AS r_a FROM (
       |         SELECT a, sim_fp,
       |                row_number() OVER (PARTITION BY a ORDER BY sim_fp DESC, b) AS rk
       |         FROM pairs) WHERE rk <= $MarginK GROUP BY a),
       |rb AS (SELECT b, CAST(sum(sim_fp) // count(*) AS BIGINT) AS r_b FROM (
       |         SELECT b, sim_fp,
       |                row_number() OVER (PARTITION BY b ORDER BY sim_fp DESC, a) AS rk
       |         FROM pairs) WHERE rk <= $MarginK GROUP BY b),
       |scored AS MATERIALIZED (
       |  SELECT p.a, p.b, sim_fp,
       |         CAST((sim_fp * 1000000) // (r_a + r_b) AS BIGINT) AS margin_fp
       |  FROM pairs p JOIN ra ON ra.a = p.a JOIN rb ON rb.b = p.b),
       |fwd AS (SELECT a, b, margin_fp FROM (
       |          SELECT a, b, margin_fp,
       |                 row_number() OVER (PARTITION BY a ORDER BY margin_fp DESC, b) AS rk
       |          FROM scored) WHERE rk = 1),
       |bwd AS (SELECT a, b FROM (
       |          SELECT a, b, margin_fp,
       |                 row_number() OVER (PARTITION BY b ORDER BY margin_fp DESC, a) AS rk
       |          FROM scored) WHERE rk = 1)
       |SELECT f.a, f.b, f.margin_fp, sc.sim_fp - 1000000 AS cos_fp
       |FROM fwd f JOIN bwd w ON w.a = f.a AND w.b = f.b
       |JOIN scored sc ON sc.a = f.a AND sc.b = f.b
       |ORDER BY f.a""".stripMargin
  }

  // ---------------------------------------------------------------- x316

  /** Exact-truth depth and the post-filter over-fetch depth. */
  private val FannK = 5
  private val FannKPrime = 15

  /** x316: filtered ANN — pre-filter vs post-filter recall. The modern
    * vector-store question: when a query carries a predicate (here:
    * same label), you can filter THEN search (exact per-predicate
    * top-[[FannK]] — the truth), or search a global top-[[FannKPrime]]
    * THEN filter (cheap against a prebuilt unfiltered index, but
    * lossy when the predicate is selective). Both rankings use the
    * same (cosine desc, vec_id) order, so the post-filter hit set is
    * exactly {label-match ∧ rk_pre ≤ K ∧ rk_all ≤ K′} — one broadcast
    * pair scan, two ranking windows, no second pass. Emits per query
    * the truth size, the hits a post-filter search would return, and
    * the recall it loses.
    *
    * Scale: queries broadcast, corpus scanned once; at corpus scale the
    * two global rankings become x213's bounded topk_pairs aggregate
    * (O(n·k) exchange) instead of the ranking window. Label selectivity
    * is 1/10 here, so K′ = 3K recovers most but not all truth —
    * the audit is the point. */
  def filteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding",
        graft.operators.Similarity.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"embedding".as("qv"), $"nrm".as("qn"))
    val pairs = emb.join(broadcast(q), $"vec_id" =!= $"q_id")
      .select($"q_id", $"q_label", $"vec_id",
        ($"label" === $"q_label").as("m"),
        round(graft.operators.Similarity.dot($"qv", $"embedding")
          / ($"qn" * $"nrm"), 4).as("cosine"))
    val wAll = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    val wPre = Window.partitionBy($"q_id", $"m").orderBy($"cosine".desc, $"vec_id")
    pairs
      .withColumn("rk_all", row_number().over(wAll))
      .withColumn("rk_m", row_number().over(wPre))
      .groupBy($"q_id", $"q_label")
      .agg(
        sum(when($"m" && $"rk_m" <= FannK, 1L).otherwise(0L)).as("n_true"),
        sum(when($"m" && $"rk_m" <= FannK && $"rk_all" <= FannKPrime, 1L)
          .otherwise(0L)).as("hits"))
      .select($"q_id", $"q_label", $"n_true", $"hits",
        QueryUtil.halfUp4($"hits".cast("double") / $"n_true".cast("double"))
          .as("recall"))
      .orderBy($"q_id")
  }

  private val filteredAnnOracle =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, label AS q_label, embedding AS qv
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |pairs AS (
       |  SELECT q_id, q_label, e.vec_id AS vec_id,
       |         (e.label = q_label) AS m,
       |         round(${cosineSql("qv", "e.embedding")}, 4) AS cosine
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cosine DESC, vec_id) AS rk_all,
       |         row_number() OVER (PARTITION BY q_id, m
       |                            ORDER BY cosine DESC, vec_id) AS rk_m
       |  FROM pairs)
       |SELECT q_id, q_label,
       |       CAST(sum(CASE WHEN m AND rk_m <= $FannK THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |       CAST(sum(CASE WHEN m AND rk_m <= $FannK AND rk_all <= $FannKPrime
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |       floor(CAST(sum(CASE WHEN m AND rk_m <= $FannK AND rk_all <= $FannKPrime
       |                          THEN 1 ELSE 0 END) AS DOUBLE)
       |             / CAST(sum(CASE WHEN m AND rk_m <= $FannK THEN 1 ELSE 0 END) AS DOUBLE)
       |             * 10000 + 0.5) / 10000.0 AS recall
       |FROM ranked
       |GROUP BY q_id, q_label
       |ORDER BY q_id""".stripMargin

  /* Residual (two-level) product quantization — the
   * recall fix for the trained-PQ soft spot.
   * A second codebook trained on the LEVEL-1 QUANTIZATION RESIDUALS halves
   * the reconstruction error the ADC score carries, the standard RQ/IVFPQ-
   * with-refinement layout: code budget doubles (M=8 → 16 bytes/vector,
   * still 16× smaller than fp32) while the candidate/rerank budget stays
   * x38/x39's. Measured recall@3 vs exact brute force (emitted in-query as
   * `hit3`): sf0.001 15/15, sf0.01 15/15, **sf0.1 55/60 = 0.917** — vs
   * x39's 0.600 at the same rerank depth.
   *
   * Determinism: both levels train through the SAME audited
   * [[Similarity.refinePqCodebook]] (unrounded-d2 argmin, half-up 1e-6
   * fixed-point integer means), residuals are exact FLOAT subtraction
   * (identical IEEE values in both engines), and the two-table ADC score
   * is an order-free integer sum — the DuckDB oracle re-derives BOTH
   * trainings bit-for-bit. */

  /** Lloyd iterations per level (DuckDB sweep, sf0.1 recall@3:
    * 1/1 → 0.783, 2/1 → 0.833, 3/2 → 0.917). */
  private val L1Iters = 3
  private val L2Iters = 2

  /** Level-2 seed rows (residual vectors of these corpus ids) — primes
    * disjoint from x38's level-1 seeds, present at every SF. */
  private val ResSeeds = Seq(7L, 37L, 67L, 97L, 127L, 157L, 191L, 227L,
    257L, 283L, 313L, 347L, 379L, 409L, 439L, 467L)

  private val M = PqM
  private val SubD = PqSubD
  private val Rerank = PqRerank

  /** x363: residual-PQ top-3 with exact rerank and an in-query recall
    * audit column. Scale: codebooks (2 × M·K rows) and query tables
    * broadcast; the residual frame is one narrow exchange reused by the
    * level-2 training loop (checkpointed — the loop re-references it);
    * stored codes are 16 bytes/vector, the ADC scan is two integer table
    * lookups per subspace.
    *
    * Rerank depth is CORPUS-PROPORTIONAL — max(Rerank, corpus/32) via a
    * broadcast scalar, oracle re-derived: a rerank-depth
    * sweep (PLANS.md round 15, "Recall@3 at scale") measured the fixed-64
    * depth decaying 0.917 → 0.628 → 0.532 recall@3 at 1x/10x/30x corpus
    * while rerank ≈ 3% of corpus
    * (640 of 20k, 1800 of 60k) restores ≥ 0.95 at every scale, at no
    * extra wall cost (the ADC scan dominates). r16 correction: the r15
    * PLANS table overstated the corpora 3x (6k/60k/180k; the embeddings
    * tables actually hold 2k/20k/60k vectors), so the measured mitigation
    * is ~3%, not 1% — a 1% default re-measured at only 0.848/0.903.
    * n/32 (3.125%) re-measures at 0.965/0.979 (r16).
    * The shipped default IS the measured production guidance; at
    * sf ≤ 0.1 the floor (64) binds, so committed results are
    * unchanged. */
  def pqResidualTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (emb, subArr, sub0, cb0) = pqParts(spark, dir)
    // the level-2 training loop and both encode passes re-reference these;
    // localCheckpoint cuts the lineage (cb1 alone carries 3 Lloyd rounds)
    val sub = sub0.localCheckpoint(true)
    val cb1 = Similarity.refinePqCodebook(sub, cb0, L1Iters).localCheckpoint(true)
    // argmin as a hash aggregate: argmin_vec (ObjectHashAggregate, map-side
    // partials, no sort) picks exactly the "ORDER BY d2, c LIMIT 1 per
    // (vec_id, s)" row — same swap as Similarity.refinePqCodebook.
    def encode(vecs: DataFrame, cb: DataFrame): DataFrame =
      vecs.join(broadcast(cb), "s")
        .groupBy($"vec_id", $"s")
        .agg(call_function("argmin_vec",
          Similarity.dot($"sv", $"sv") - lit(2.0) * Similarity.dot($"sv", $"cv")
            + Similarity.dot($"cv", $"cv"),
          $"c", $"cv").as("a"))
        .select($"vec_id", $"s", $"a.id".as("c"), $"a.vec".as("cv"))
    val codes1 = encode(sub, cb1).select($"vec_id", $"s", $"c", $"cv")
    val rsub = sub.join(codes1.select($"vec_id", $"s", $"cv"), Seq("vec_id", "s"))
      .select($"vec_id", $"s", zip_with($"sv", $"cv", (a, b) => a - b).as("sv"))
      .localCheckpoint(true)
    val rseedC = ResSeeds.zipWithIndex.tail
      .foldLeft(when($"vec_id" === ResSeeds.head, 0)) {
        case (acc, (id, c)) => acc.when($"vec_id" === id, c)
      }
    val rcb0 = rsub.filter($"vec_id".isin(ResSeeds: _*))
      .select(rseedC.as("c"), $"s", $"sv".as("cv"))
    val rcb1 = Similarity.refinePqCodebook(rsub, rcb0, L2Iters).localCheckpoint(true)
    val codes2 = encode(rsub, rcb1).select($"vec_id", $"s", $"c".as("c2"))
    val qs = emb.filter($"vec_id" % 100 === 0)
    def qTable(cb: DataFrame, ipCol: String): DataFrame =
      qs.select($"vec_id".as("q_id"), explode(subArr).as("sub"))
        .join(broadcast(cb), col("sub.s") === cb("s"))
        .select($"q_id", $"s", $"c",
          floor(Similarity.dot(col("sub.v"), $"cv") * lit(1e6) + lit(0.5))
            .cast("long").as(ipCol))
    val qdt1 = qTable(cb1, "ip1_fp")
    val qdt2 = qTable(rcb1, "ip2_fp").withColumnRenamed("c", "c2")
    val wApprox = Window.partitionBy($"q_id").orderBy($"aip_fp".desc, $"vec_id")
    val wExact = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    // exact brute-force top-3 for the in-query recall audit (hit3)
    val wBt = Window.partitionBy($"q_id").orderBy($"bcos".desc, $"vec_id")
    // corpus-proportional rerank depth: one broadcast scalar row
    val rr = emb.agg(greatest(lit(Rerank.toLong),
      floor(count(lit(1)) / lit(32)).cast("long")).as("rr"))
    val bt3 = emb.select($"vec_id", $"embedding".as("cv"), $"nrm".as("cn"))
      .join(broadcast(qs.select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"nrm".as("qn"))), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (Similarity.dot($"qv", $"cv") / ($"qn" * $"cn")).as("bcos"))
      .withColumn("brk", row_number().over(wBt)).filter($"brk" <= 3)
      .select($"q_id", $"vec_id", lit(1).as("hit3"))
    codes1.select($"vec_id", $"s", $"c")
      .join(codes2, Seq("vec_id", "s"))
      .join(broadcast(qdt1), Seq("s", "c"))
      .join(broadcast(qdt2), Seq("s", "c2", "q_id"))
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"ip1_fp" + $"ip2_fp").as("aip_fp"))
      .withColumn("ark", row_number().over(wApprox))
      .crossJoin(broadcast(rr)).filter($"ark" <= $"rr").drop("rr")
      .join(emb.select($"vec_id", $"embedding".as("cv"), $"nrm".as("cn")), "vec_id")
      .join(broadcast(qs.select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"nrm".as("qn"))), "q_id")
      .select($"q_id", $"vec_id", $"aip_fp",
        round(Similarity.dot($"qv", $"cv") / ($"qn" * $"cn"), 4).as("cosine"))
      .withColumn("rk", row_number().over(wExact))
      .filter($"rk" <= 3)
      .join(bt3, Seq("q_id", "vec_id"), "left")
      .select($"q_id", $"rk", $"vec_id", $"cosine", $"aip_fp",
        coalesce($"hit3", lit(0)).as("hit3"))
      .orderBy("q_id", "rk")
  }

  // ------------------------------------------------------------- oracle --

  private def dotN(a: String, b: String, n: Int) =
    s"list_sum(list_transform(range(1, ${n + 1}), j -> CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE)))"
  private def dotS(a: String, b: String) = dotN(a, b, SubD)
  private def dotF(a: String, b: String) = dotN(a, b, 64)
  private def sliceX363(v: String, tbl: String) =
    s"list_slice($v, $tbl.s * $SubD + 1, $tbl.s * $SubD + $SubD)"

  /** One unrolled Lloyd iteration over sub-vector table `sub`:
    * `prev` -> `next` (the x39 template, parameterized by source table). */
  private def trainIter(sub: String, prev: String, next: String): String =
    s"""td_$next AS (SELECT $sub.vec_id, $sub.s, $prev.c,
       |         ${dotS("sv", "sv")} - 2.0 * ${dotS("sv", "cv")} + ${dotS("cv", "cv")} AS d2
       |       FROM $sub JOIN $prev ON $sub.s = $prev.s),
       |ta_$next AS (SELECT vec_id, s, c
       |       FROM (SELECT vec_id, s, c,
       |               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |             FROM td_$next)
       |       WHERE rn = 1),
       |tm_$next AS (SELECT ta_$next.s, ta_$next.c, j,
       |         CAST(CAST(sum(CAST(floor(CAST(sv[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |              / (CAST(count(*) AS DOUBLE) * 1000000.0) AS FLOAT) AS m
       |       FROM ta_$next
       |       JOIN $sub ON ta_$next.vec_id = $sub.vec_id AND ta_$next.s = $sub.s
       |       CROSS JOIN (SELECT unnest(range(1, ${SubD + 1})) AS j) jj
       |       GROUP BY ta_$next.s, ta_$next.c, j),
       |tmv_$next AS (SELECT s, c, list(m ORDER BY j) AS mv FROM tm_$next GROUP BY s, c),
       |$next AS (SELECT $prev.s, $prev.c, coalesce(tmv_$next.mv, $prev.cv) AS cv
       |        FROM $prev LEFT JOIN tmv_$next ON $prev.s = tmv_$next.s AND $prev.c = tmv_$next.c)""".stripMargin

  private def seedCase(seeds: Seq[Long]) = seeds.zipWithIndex
    .map { case (id, c) => s"WHEN vec_id = $id THEN $c" }
    .mkString("CASE ", " ", " END")

  private val pqResidualOracle = {
    val l1Seeds = Seq(1L, 29L, 61L, 103L, 149L, 173L, 211L, 239L,
      271L, 307L, 331L, 367L, 401L, 433L, 461L, 491L)
    val cb = s"cb$L1Iters"
    val rcb = s"rcb$L2Iters"
    val t1 = (0 until L1Iters).map(k => trainIter("sub", s"cb$k", s"cb${k + 1}")).mkString(",\n")
    val t2 = (0 until L2Iters).map(k => trainIter("rsub", s"rcb$k", s"rcb${k + 1}")).mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding,
       |             sqrt(${dotF("embedding", "embedding")}) AS nrm FROM embeddings),
       |ss AS (SELECT unnest(range(0, $M)) AS s),
       |cb0 AS (SELECT ${seedCase(l1Seeds)} AS c, s,
       |          list_slice(embedding, s * $SubD + 1, s * $SubD + $SubD) AS cv
       |        FROM embeddings CROSS JOIN ss WHERE vec_id IN (${l1Seeds.mkString(", ")})),
       |sub AS MATERIALIZED (SELECT vec_id, s,
       |          list_slice(embedding, s * $SubD + 1, s * $SubD + $SubD) AS sv
       |        FROM embeddings CROSS JOIN ss),
       |$t1,
       |d1 AS (SELECT sub.vec_id, sub.s, $cb.c, $cb.cv,
       |         ${dotS("sv", "sv")} - 2.0 * ${dotS("sv", "cv")} + ${dotS("cv", "cv")} AS d2
       |       FROM sub JOIN $cb ON sub.s = $cb.s),
       |codes1 AS MATERIALIZED (SELECT vec_id, s, c, cv
       |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM d1)
       |       WHERE rn = 1),
       |rsub AS MATERIALIZED (SELECT sub.vec_id, sub.s,
       |         list_transform(range(1, ${SubD + 1}),
       |           j -> CAST(sv[j] AS FLOAT) - CAST(codes1.cv[j] AS FLOAT)) AS sv
       |       FROM sub JOIN codes1 ON sub.vec_id = codes1.vec_id AND sub.s = codes1.s),
       |rcb0 AS (SELECT ${seedCase(ResSeeds)} AS c, s, sv AS cv
       |         FROM rsub WHERE vec_id IN (${ResSeeds.mkString(", ")})),
       |$t2,
       |d2l AS (SELECT rsub.vec_id, rsub.s, $rcb.c,
       |          ${dotS("sv", "sv")} - 2.0 * ${dotS("sv", "cv")} + ${dotS("cv", "cv")} AS d2
       |        FROM rsub JOIN $rcb ON rsub.s = $rcb.s),
       |codes2 AS (SELECT vec_id, s, c AS c2
       |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM d2l)
       |       WHERE rn = 1),
       |qdt1 AS (SELECT q.vec_id AS q_id, $cb.s, $cb.c,
       |          CAST(floor(${dotS(sliceX363("q.embedding", cb), s"$cb.cv")} * 1000000.0 + 0.5) AS BIGINT) AS ip1_fp
       |        FROM embeddings q CROSS JOIN $cb WHERE q.vec_id % 100 = 0),
       |qdt2 AS (SELECT q.vec_id AS q_id, $rcb.s, $rcb.c AS c2,
       |          CAST(floor(${dotS(sliceX363("q.embedding", rcb), s"$rcb.cv")} * 1000000.0 + 0.5) AS BIGINT) AS ip2_fp
       |        FROM embeddings q CROSS JOIN $rcb WHERE q.vec_id % 100 = 0),
       |approx AS (SELECT q1.q_id, c1.vec_id,
       |             CAST(sum(q1.ip1_fp + q2.ip2_fp) AS BIGINT) AS aip_fp
       |           FROM codes1 c1
       |           JOIN codes2 c2 ON c1.vec_id = c2.vec_id AND c1.s = c2.s
       |           JOIN qdt1 q1 ON c1.s = q1.s AND c1.c = q1.c
       |           JOIN qdt2 q2 ON c2.s = q2.s AND c2.c2 = q2.c2 AND q1.q_id = q2.q_id
       |           WHERE c1.vec_id <> q1.q_id
       |           GROUP BY q1.q_id, c1.vec_id),
       |cand AS (SELECT q_id, vec_id, aip_fp,
       |           row_number() OVER (PARTITION BY q_id ORDER BY aip_fp DESC, vec_id) AS ark
       |         FROM approx),
       |exact AS (SELECT cand.q_id, cand.vec_id, cand.aip_fp,
       |            round(${dotF("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm), 4) AS cosine
       |          FROM cand
       |          JOIN e ce ON ce.vec_id = cand.vec_id
       |          JOIN e qe ON qe.vec_id = cand.q_id
       |          WHERE cand.ark <= (SELECT greatest($Rerank, count(*) // 32) FROM embeddings)),
       |r AS (SELECT q_id, vec_id, aip_fp, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |      FROM exact),
       |bt AS (SELECT qe.vec_id AS q_id, ce.vec_id,
       |         row_number() OVER (PARTITION BY qe.vec_id
       |           ORDER BY ${dotF("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) DESC, ce.vec_id) AS brk
       |       FROM e qe JOIN e ce ON qe.vec_id % 100 = 0 AND ce.vec_id <> qe.vec_id)
       |SELECT r.q_id, CAST(r.rk AS INTEGER) AS rk, r.vec_id, r.cosine, r.aip_fp,
       |       CASE WHEN bt.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit3
       |FROM r LEFT JOIN bt ON bt.q_id = r.q_id AND bt.vec_id = r.vec_id AND bt.brk <= 3
       |WHERE r.rk <= 3
       |ORDER BY r.q_id, r.rk""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x116_pca_power",
      "top principal component of the embedding table: exact-integer covariance + fixed-point power iteration",
      pcaPower, Some(pcaPowerOracle)),
    QueryDef("x108_embedding_coverage",
      "doc-vs-vector referential coverage report per source (RAG index QA)",
      embeddingCoverage, Some(embeddingCoverageOracle)),
    QueryDef("x107_ivf_recall_audit",
      "recall@3 of IVF nprobe=2 vs the exact brute-force ranking, per query (X3 quality gate)",
      ivfRecallAudit, Some(ivfRecallAuditOracle)),
    QueryDef("x105_mutual_knn",
      "reciprocal nearest-neighbor pairs over the dense top-5 (mutual-kNN primitive)",
      mutualKnn, Some(mutualKnnOracle)),
    QueryDef("x102_dim_stats",
      "per-dimension embedding QA: exact-moment mean/variance, range, degeneracy flags",
      dimStats, Some(dimStatsOracle)),
    QueryDef("x73_embedding_drift",
      "per-label cross-half centroid cosine: embedding-space drift monitor (fixed-point centroids)",
      embeddingDrift, Some(embeddingDriftOracle)),
    QueryDef("x79_centroid_classify",
      "nearest-centroid label classifier: fixed-point supervised centroids + confusion matrix",
      centroidClassify, Some(centroidClassifyOracle)),
    QueryDef("x30_cosine_topk", "brute-force cosine top-5 per query vector (X3)", cosineTopK, Some(cosineTopKOracle)),
    QueryDef("x31_sign_lsh_topk", "sign-LSH bucketed approximate top-3 (X3)", signLshTopK, Some(signLshOracle)),
    QueryDef("x32_embedding_neardup", "embedding cosine near-dup pairs (X2)", embeddingNearDup, Some(nearDupOracle)),
    QueryDef("x33_array_ops", "array scalar ops over embedding column", arrayOps, Some(arrayOpsOracle)),
    // x34/x35/x38/x39/x109 are benchSkip'd:
    // their stages are strict subsets of x363_pq_residual_topk (Lloyd-
    // trained coarse quantizer = the IVF path, trained PQ codebook + ADC
    // scan + bounded exact rerank = the PQ path, composed = IVF-PQ), which
    // stays timed. All five remain Verify/selfcheck-gated every round.
    QueryDef("x34_ivf_topk", "IVF coarse-quantized ANN, nprobe=2 (X3 scale path)", ivfTopK, Some(ivfOracle), benchSkip = true),
    QueryDef("x35_ivf_trained_topk", "IVF ANN with Lloyd-trained quantizer, fixed-point hash-stable training (X3)", ivfTrainedTopK, Some(ivfTrainedOracle), benchSkip = true),
    QueryDef("x36_multiprobe_lsh", "multi-probe sign-LSH top-3: base + 8 Hamming-1 buckets (X3)", multiProbeLshTopK, Some(multiProbeOracle)),
    QueryDef("x37_int8_topk", "int8 scalar-quantized scan + exact rerank top-3 (X3)", int8TopK, Some(int8TopKOracle)),
    QueryDef("x38_pq_topk", "product-quantization ADC top-3 with exact rerank (X3)", pqTopK, Some(pqTopKOracle), benchSkip = true),
    QueryDef("x39_pq_trained_topk", "PQ ANN with L2-Lloyd-trained codebook, fixed-point hash-stable training (X3)", pqTrainedTopK, Some(pqTrainedOracle), benchSkip = true),
    QueryDef("x109_ivfpq_topk", "IVF-PQ composed index: coarse cluster pruning + compressed ADC scoring + exact rerank (X3)", ivfPqTopK, Some(ivfPqOracle), benchSkip = true),
    QueryDef("x119_hard_negatives",
      "contrastive hard-negative mining: multi-probe LSH pool anti-joined against verified near-dups, top-2 per anchor",
      hardNegatives, Some(hardNegativesOracle)),
    QueryDef("x125_jl_projection",
      "random-projection (JL) 64-to-16-dim sketching with anchor-pair cosine distortion audit (X3 bandwidth path)",
      jlProjection, Some(jlProjectionOracle)),
    QueryDef("x129_rocchio_dense",
      "dense pseudo-relevance feedback: Rocchio query update (fixed-point centroid) + second-round re-search (X3)",
      rocchioDense, Some(rocchioDenseOracle)),
    QueryDef("x147_matryoshka_audit",
      "Matryoshka truncation audit: exact top-5 overlap when scoring with the first 32 of 64 dims (two-stage retrieval pricing)",
      matryoshkaAudit, Some(matryoshkaAuditOracle)),
    QueryDef("x177_kcenter_coreset",
      "k-center greedy coreset: farthest-point traversal, 4 unrolled rounds, unrounded selection keys, coverage radii",
      kcenterCoreset, Some(kcenterCoresetOracle)),
    QueryDef("x213_lof",
      "Local Outlier Factor over embeddings: exact kNN, pair-quantized reachability, integer lrd and LOF ratios, top-20 outliers",
      lof, Some(lofOracle)),
    QueryDef("x216_csls_topk",
      "CSLS hubness-corrected retrieval: 2cos - r(a) - r(b) with integer local-scaling means, top-5 per query",
      cslsTopk, Some(cslsOracle)),
    QueryDef("x217_hubness_audit",
      "k-occurrence hubness audit: top hubs, antihub count, and moment skewness of N_k over the kNN lists",
      hubnessAudit, Some(hubnessOracle)),
    QueryDef("x238_ivf_lof",
      "IVF-LOF: subquadratic outlier scoring — x34 seed quantizer candidates (O(n·194), linear in corpus) through x213's integer LOF algebra",
      ivfLof, Some(ivfLofOracle)),
    QueryDef("x244_lsh_dbscan",
      "DBSCAN roles + clusters over the banded embedding eps-graph", lshDbscan,
      Some(lshDbscanOracle)),
    QueryDef("x297_margin_bitext",
      "margin-based bitext mining: ratio margin + mutual top-1 agreement over split embeddings",
      marginBitext, Some(marginBitextOracle)),
    QueryDef("x316_filtered_ann",
      "filtered-ANN recall audit: exact pre-filter top-k truth vs post-filtered global top-K' from one pair scan and two windows",
      filteredAnn, Some(filteredAnnOracle)),
    QueryDef("x363_pq_residual_topk",
      "two-level residual PQ: both codebooks Lloyd-trained + oracle-rederived, ADC over 2 integer tables, corpus-proportional rerank max(64, n/32), in-query recall audit (recall@3 0.917 at sf0.1, >=0.95 held at 10x/30x corpus) (X3)",
      pqResidualTopK, Some(pqResidualOracle)))
}
