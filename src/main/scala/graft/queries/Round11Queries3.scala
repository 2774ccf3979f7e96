package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 third tier: density clustering over the banded embedding
  * graph (LSH-DBSCAN), held-out stupid-backoff trigram scoring, and
  * DSIR-style importance resampling — three published training-data
  * curation recipes not yet in the registry. */
object Round11Queries3 {

  import QueryUtil.halfUp4

  // ---------------------------------------------------------------- x244

  private val DbBands = 8
  private val DbRowsPerBand = 4
  /** Neighborhood threshold (cosine) and core-point degree minimum. */
  private val DbEps = 0.40
  private val DbMinPts = 2

  private def bucketSql(v: String, bits: Int): String =
    (1 to bits).map(i => s"CASE WHEN $v[$i] >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")

  private def cosineSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |    * sqrt(list_sum(list_transform(range(1, len($b) + 1), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin

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

  // ---------------------------------------------------------------- x245

  /** x245: stupid-backoff trigram scoring on a HELD-OUT split (Brants et
    * al. 2007, the web-scale LM score behind production perplexity
    * filters). Counts train on even doc_ids; odd doc_ids are scored, so
    * the backoff chain genuinely fires (scoring the training corpus on
    * itself never backs off — every trigram is in the model):
    * S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂) if seen, else 0.4·c(w₂w₃)/c(w₂) if
    * seen, else 0.4·0.4·(c(w₃)+1)/(N+V) (add-one on the final level so
    * OOV tokens stay finite). Per-token −ln S is quantized HALF-UP to
    * 1e-6 fixed point BEFORE the per-doc sum (order-free integer sums,
    * the x56/x88 recipe; the ln-boundary-margin caveat recorded in
    * PLANS.md round 8 applies). Published per doc: scored-position count,
    * how often each backoff level fired (the model-coverage diagnostic),
    * and the average score. 100 TB: all three count tables are
    * vocab-bounded and broadcast; the token stream shuffles once on
    * doc_id for the two lag windows, then never again. */
  def stupidBackoff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "w3")))
      .withColumn("w2", lag($"w3", 1).over(w))
      .withColumn("w1", lag($"w3", 2).over(w))
    val train = tok.filter($"doc_id" % 2 === 0)
    val score = tok.filter($"doc_id" % 2 === 1 && $"w1".isNotNull)
    val c3 = train.filter($"w1".isNotNull)
      .groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c3"))
    val c12 = train.filter($"w2".isNotNull)
      .groupBy($"w2".as("w1"), $"w3".as("w2")).agg(count(lit(1)).as("c12"))
    val cb2 = train.filter($"w2".isNotNull)
      .groupBy($"w2", $"w3").agg(count(lit(1)).as("cb2"))
    val c1 = train.groupBy($"w3").agg(count(lit(1)).as("c1"))
    val nv = c1.agg(sum($"c1").as("n_train"),
      count(lit(1)).as("v_train"))
    val s = expr(
      """CASE WHEN c3 IS NOT NULL THEN CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE)
        |     WHEN cb2 IS NOT NULL THEN 0.4 * (CAST(cb2 AS DOUBLE) / CAST(c1w2 AS DOUBLE))
        |     ELSE 0.4 * 0.4 * (CAST(COALESCE(c1w3, 0) + 1 AS DOUBLE) / CAST(n_train + v_train AS DOUBLE)) END"""
        .stripMargin)
    score
      .join(broadcast(c3), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(c12), Seq("w1", "w2"), "left")
      .join(broadcast(cb2), Seq("w2", "w3"), "left")
      .join(broadcast(c1.select($"w3".as("w2"), $"c1".as("c1w2"))), Seq("w2"), "left")
      .join(broadcast(c1.select($"w3", $"c1".as("c1w3"))), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select($"doc_id",
        when($"c3".isNotNull, 0).when($"cb2".isNotNull, 1).otherwise(2)
          .cast("int").as("lvl"),
        floor(-log(s) * lit(1e6) + lit(0.5)).cast("long").as("sfp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_scored"),
        sum(($"lvl" === 0).cast("long")).as("n_tri"),
        sum(($"lvl" === 1).cast("long")).as("n_bi"),
        sum(($"lvl" === 2).cast("long")).as("n_uni"),
        sum($"sfp").as("sum_fp"))
      .select($"doc_id", $"n_scored", $"n_tri", $"n_bi", $"n_uni",
        halfUp4($"sum_fp".cast("double") / 1e6 / $"n_scored").as("avg_sb"))
      .orderBy("doc_id")
  }

  private val stupidBackoffOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
       |e AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS w3,
       |        CASE WHEN i > 1 THEN toks[CAST(i AS INTEGER) - 1] END AS w2,
       |        CASE WHEN i > 2 THEN toks[CAST(i AS INTEGER) - 2] END AS w1
       |      FROM e0),
       |tr AS (SELECT * FROM e WHERE doc_id % 2 = 0),
       |sc0 AS (SELECT * FROM e WHERE doc_id % 2 = 1 AND w1 IS NOT NULL),
       |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
       |       FROM tr WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
       |c12 AS (SELECT w2 AS w1, w3 AS w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM tr WHERE w2 IS NOT NULL GROUP BY 1, 2),
       |cb2 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cb2
       |        FROM tr WHERE w2 IS NOT NULL GROUP BY 1, 2),
       |c1 AS (SELECT w3, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
       |nv AS (SELECT CAST(sum(c1) AS BIGINT) AS n_train,
       |              CAST(count(*) AS BIGINT) AS v_train FROM c1),
       |sb AS (SELECT sc0.doc_id,
       |         CASE WHEN c3.c3 IS NOT NULL THEN 0
       |              WHEN cb2.cb2 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
       |         CAST(floor(-ln(
       |           CASE WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / CAST(c12.c12 AS DOUBLE)
       |                WHEN cb2.cb2 IS NOT NULL THEN 0.4 * (CAST(cb2.cb2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
       |                ELSE 0.4 * 0.4 * (CAST(COALESCE(u3.c1, 0) + 1 AS DOUBLE) / CAST(nv.n_train + nv.v_train AS DOUBLE)) END)
       |           * 1000000.0 + 0.5) AS BIGINT) AS sfp
       |       FROM sc0
       |       LEFT JOIN c3 ON c3.w1 = sc0.w1 AND c3.w2 = sc0.w2 AND c3.w3 = sc0.w3
       |       LEFT JOIN c12 ON c12.w1 = sc0.w1 AND c12.w2 = sc0.w2
       |       LEFT JOIN cb2 ON cb2.w2 = sc0.w2 AND cb2.w3 = sc0.w3
       |       LEFT JOIN c1 u2 ON u2.w3 = sc0.w2
       |       LEFT JOIN c1 u3 ON u3.w3 = sc0.w3
       |       CROSS JOIN nv)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       |       CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
       |       CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
       |       CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
       |       floor((CAST(sum(sfp) AS DOUBLE) / 1000000.0 / count(*)) * 10000 + 0.5) / 10000.0 AS avg_sb
       |FROM sb GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- x249

  private val DsirBuckets = 64

  /** x249: DSIR — data selection via importance resampling (Xie et al.
    * 2023): score every raw document by how target-like its HASHED
    * n-gram feature distribution is, then keep the top quarter. Target =
    * the `en` slice (stand-in for "looks like the high-quality domain");
    * raw = the whole corpus. Features are token bigrams hashed to
    * [[DsirBuckets]] buckets (md5 16-bit prefix, the deterministic x53
    * recipe); per-bucket importance log-ratio
    * ln((ct+1)/(T+B) ÷ (cr+1)/(R+B)) is computed ONCE per bucket on the
    * 64-row model frame and quantized to 1e-6 fixed point — the per-doc
    * weight is then a pure INTEGER sum over the doc's bigram occurrences
    * (order-free, engine-stable; one ln per bucket, never per token).
    * Selection: top ceil(n/4) by (weight, doc_id). 100 TB: model = two
    * 64-row aggregates broadcast back onto one token pass; the selection
    * window runs on the per-doc aggregate, and at real scale the cutoff
    * comes from an approx quantile instead (q62 precedent). */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val big = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", posexplode(split($"text", " ")).as(Seq("i", "w2")))
      .withColumn("w1", lag($"w2", 1).over(w))
      .filter($"w1".isNotNull)
      .withColumn("hx", substring(md5(concat_ws("|", lit("dsir"), $"w1", $"w2")), 1, 4))
      .withColumn("bkt", conv($"hx", 16, 10).cast("long") % DsirBuckets)
    val raw = big.groupBy($"bkt").agg(count(lit(1)).as("cr"))
    val tgt = big.filter($"lang" === "en").groupBy($"bkt").agg(count(lit(1)).as("ct"))
    val tots = raw.agg(sum($"cr").as("rt"))
      .crossJoin(tgt.agg(sum($"ct").as("tt")))
    val model = raw
      .join(tgt, Seq("bkt"), "left")
      .crossJoin(broadcast(tots))
      .select($"bkt", floor(
        log((coalesce($"ct", lit(0L)) + 1).cast("double") * ($"rt" + DsirBuckets).cast("double")
          / (($"cr" + 1).cast("double") * ($"tt" + DsirBuckets).cast("double")))
          * lit(1e6) + lit(0.5)).cast("long").as("sfp"))
    val docw = big
      .join(broadcast(model), "bkt")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feat"), sum($"sfp").as("w_fp"))
    val n = docw.agg(count(lit(1)).as("n"))
    val rk = Window.orderBy($"w_fp".desc, $"doc_id")
    docw.crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(rk))
      .select($"doc_id", $"n_feat", $"w_fp",
        ($"rn" <= ceil($"n" / lit(4.0))).cast("int").as("sel"))
      .orderBy("doc_id")
  }

  private val dsirOracle = {
    val hv = (1 to 4).map(i =>
      s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |e0 AS (SELECT doc_id, lang, toks, unnest(range(2, len(toks) + 1)) AS i FROM t),
       |big0 AS (SELECT doc_id, lang,
       |           md5(concat_ws('|', 'dsir', toks[CAST(i AS INTEGER) - 1], toks[CAST(i AS INTEGER)])) AS hx
       |         FROM e0),
       |big AS (SELECT doc_id, lang, $hv % $DsirBuckets AS bkt FROM big0),
       |raw AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cr FROM big GROUP BY bkt),
       |tgt AS (SELECT bkt, CAST(count(*) AS BIGINT) AS ct FROM big WHERE lang = 'en' GROUP BY bkt),
       |tots AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS rt,
       |                (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS tt),
       |model AS (SELECT raw.bkt,
       |            CAST(floor(ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE) * CAST(tots.rt + $DsirBuckets AS DOUBLE)
       |                   / (CAST(raw.cr + 1 AS DOUBLE) * CAST(tots.tt + $DsirBuckets AS DOUBLE)))
       |                 * 1000000.0 + 0.5) AS BIGINT) AS sfp
       |          FROM raw LEFT JOIN tgt ON tgt.bkt = raw.bkt CROSS JOIN tots),
       |docw AS (SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       |                CAST(sum(model.sfp) AS BIGINT) AS w_fp
       |         FROM big JOIN model ON model.bkt = big.bkt
       |         GROUP BY big.doc_id),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docw),
       |r AS (SELECT doc_id, n_feat, w_fp,
       |        row_number() OVER (ORDER BY w_fp DESC, doc_id) AS rn
       |      FROM docw)
       |SELECT doc_id, n_feat, w_fp,
       |       CAST(CASE WHEN rn <= ceil(n.n / 4.0) THEN 1 ELSE 0 END AS INTEGER) AS sel
       |FROM r CROSS JOIN n
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- defs

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x244_lsh_dbscan",
      "DBSCAN roles + clusters over the banded embedding eps-graph", lshDbscan,
      Some(lshDbscanOracle)),
    QueryDef("x245_stupid_backoff",
      "held-out stupid-backoff trigram scoring with backoff-level counts",
      stupidBackoff, Some(stupidBackoffOracle)),
    QueryDef("x249_dsir_select",
      "DSIR hashed-bigram importance weights + top-quarter selection",
      dsirSelect, Some(dsirOracle)))
}
