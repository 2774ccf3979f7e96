package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Etl, Similarity, TextAnalysis}
import QueryUtil.{halfUp4, md5IntSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup family: exact, MinHash-LSH, SimHash, n-gram, span and record-
  * linkage deduplication, with the cluster bookkeeping and audits around
  * them.
  *
  * Deduplication coverage over `documents` (north star X1/X2): exact
  * content-hash dedup, MinHash+LSH near-dup detection (3-token shingles, 12
  * hashes, 4 bands × 3 rows, Jaccard-verified), SimHash bucketing, and
  * char-n-gram Jaccard similarity. */
object DedupQueries {

  /** 3-token sequence shingles (order-sensitive — permuted docs don't
    * collide), sorted-distinct, whole-text fallback for docs shorter than k
    * tokens. Native one-pass expression (graft.functions.TokenShingles). */
  private def tokenShingles(text: org.apache.spark.sql.Column) =
    call_function("token_shingles", text, lit(3))

  private val shinglesSql =
    """list_distinct(CASE WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
      |    ELSE [text] END)""".stripMargin

  /** X1: exact dedup by full-content hash; deterministic survivor (min
    * doc_id), like the reference's first-insert-wins unique key (D1). */
  def exactDedup(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val hashed = Tables.documents(spark, dir)
      .select($"doc_id", md5($"text").as("content_hash"))
    Etl.dedupByHash(hashed, "content_hash", Seq("doc_id")).orderBy("doc_id")
  }

  private val exactOracle =
    """SELECT doc_id, content_hash
      |FROM (SELECT doc_id, md5(text) AS content_hash,
      |             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |      FROM documents)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** X2: MinHash+LSH near-dup pairs, Jaccard >= 0.5 verified on the true
    * shingle sets. Pipeline: shingle → 12 minhashes → 4 band buckets →
    * bucket self-join (candidates) → exact verify. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", tokenShingles($"text").as("shingles"))
    val cand = Dedup.lshCandidates(base, "doc_id", "shingles", numHashes = 12, rowsPerBand = 3)
    val pairs = cand
      .join(base.select($"doc_id".as("a"), $"shingles".as("sa")), "a")
      .join(base.select($"doc_id".as("b"), $"shingles".as("sb")), "b")
    // fence: keep the merge-walk jaccard from being re-inlined into the
    // pushed-down filter (would double the per-pair cost).
    pairs
      .select($"a", $"b", QueryUtil.fence(halfUp4(Dedup.jaccardSorted($"sa", $"sb"))).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy("a", "b")
  }

  /** Shared oracle prefix (shingles → signature → bands → skew-pruned):
    * everything up to BUT NOT including candidate pairing, so both the
    * self-join (x11/x14) and the cross-set join (x17) build on the same
    * banding. `tInnerExtra`/`tOuterExtra` thread extra columns through the
    * `t` CTE (e.g. the source-number split for x17). */
  private def minhashBandCtes(withKeyword: String,
                              tInnerExtra: String = "",
                              tOuterExtra: String = ""): String = {
    val mh = (0 until 12).map(j =>
      s"list_aggregate(list_transform(shingles, s -> md5('$j:' || s)), 'min') AS mh$j").mkString(",\n       ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', mh${3 * b}, mh${3 * b + 1}, mh${3 * b + 2})) AS bh FROM sig")
      .mkString("\n       UNION ALL ")
    s"""$withKeyword t AS (SELECT doc_id$tOuterExtra, $shinglesSql AS shingles
       |           FROM (SELECT doc_id$tInnerExtra, text, string_split(text, ' ') AS toks FROM documents)),
       |sig AS (SELECT doc_id, shingles,
       |       $mh
       |       FROM t),
       |bands AS (
       |       $bands),
       |bands_pruned AS (SELECT doc_id, band, bh
       |                 FROM (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bn FROM bands)
       |                 WHERE bn <= ${Dedup.DefaultMaxBucket}),
       |""".stripMargin
  }

  /** Shared oracle CTE chain (shingles → signature → bands → skew-pruned →
    * candidates → verified jaccard), reused by the pair query and the
    * clustering oracle. */
  private[queries] def minhashCtes(withKeyword: String): String =
    minhashBandCtes(withKeyword) +
      """cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |         FROM bands_pruned x JOIN bands_pruned y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |pairs AS (SELECT a, b, ta.shingles AS sa, tb.shingles AS sb
       |          FROM cand JOIN t ta ON ta.doc_id = a JOIN t tb ON tb.doc_id = b),
       |j AS (SELECT a, b,
       |        floor((CAST(len(list_filter(sa, s -> list_contains(sb, s))) AS DOUBLE)
       |              / (len(sa) + len(sb) - len(list_filter(sa, s -> list_contains(sb, s))))) * 10000 + 0.5) / 10000.0 AS jaccard
       |      FROM pairs)
       |""".stripMargin

  private val minhashOracle =
    minhashCtes("WITH") +
      """SELECT a, b, jaccard FROM j
        |WHERE jaccard >= 0.5
        |ORDER BY a, b""".stripMargin

  /** X2 near-dup → dedup groups: connected components over the verified
    * near-dup pairs; every doc gets the min doc_id of its component as
    * cluster id, the representative flagged canonical. Spark: large-star/
    * small-star alternation (Components.connectedComponentsStars — the
    * billion-edge-scale algorithm, promoted to the production path in
    * round 8; the min-label + pointer-jumping loop remains available);
    * oracle: recursive-CTE transitive closure — independent algorithms,
    * same fixpoint. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashLsh(spark, dir).select($"a", $"b")
    val nodes = Tables.documents(spark, dir).select($"doc_id")
    graft.operators.Components.connectedComponentsStars(spark, nodes, pairs, "doc_id")
      .select($"doc_id", $"component".as("cluster_id"),
        ($"doc_id" === $"component").cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  /** x101: duplication-inflation report — the per-source governance view of
    * x14's clusters: how many documents each source contributed, how many
    * DISTINCT content clusters they collapse to, the inflation factor
    * docs/clusters (1.0 = no duplication; the multiplier a dedup pass
    * recovers), and the largest cluster any of the source's docs belongs
    * to (template-farm detector). Exact integer counts; one division.
    * Scale: the cluster labeling is x14's audited components pipeline;
    * the rollup is one join + a |sources|-group aggregate. */
  def dupStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cl = dedupClusters(spark, dir).select($"doc_id", $"cluster_id")
    val csize = cl.groupBy($"cluster_id").agg(count(lit(1)).as("csize"))
    cl.join(Tables.documents(spark, dir).select($"doc_id", $"source"), "doc_id")
      .join(csize, "cluster_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"),
        max($"csize").as("max_cluster"))
      .select($"source", $"n_docs", $"n_clusters",
        halfUp4($"n_docs".cast("double") / $"n_clusters".cast("double"))
          .as("inflation"),
        $"max_cluster")
      .orderBy("source")
  }

  private lazy val dupStatsOracle =
    clustersOracleCtes +
      """, cs AS (SELECT cluster_id, count(*) AS csize FROM labeled GROUP BY cluster_id)
        |SELECT d.source, count(*) AS n_docs,
        |       count(DISTINCT l.cluster_id) AS n_clusters,
        |       floor((CAST(count(*) AS DOUBLE) / CAST(count(DISTINCT l.cluster_id) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS inflation,
        |       CAST(max(cs.csize) AS BIGINT) AS max_cluster
        |FROM labeled l
        |JOIN documents d ON d.doc_id = l.doc_id
        |JOIN cs ON cs.cluster_id = l.cluster_id
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin

  /** Cluster-labeling CTE chain ending in `labeled(doc_id, cluster_id,
    * is_canonical)` — shared by the x14 oracle and x27's weighting. */
  private[queries] def clustersOracleCtes: String =
    minhashCtes("WITH RECURSIVE") +
      """, pairs2 AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM pairs2 UNION ALL SELECT b AS src, a AS dst FROM pairs2),
        |reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
        |          UNION
        |          SELECT e.src AS id, reach.r AS r FROM edges e JOIN reach ON e.dst = reach.id),
        |labeled AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
        |              CAST(min(r) = id AS INTEGER) AS is_canonical
        |            FROM reach GROUP BY id)""".stripMargin

  private val clustersOracle =
    clustersOracleCtes +
      """
        |SELECT doc_id, cluster_id, is_canonical
        |FROM labeled
        |ORDER BY doc_id""".stripMargin

  /** X2 variant: 32-bit SimHash over distinct tokens; docs in the same
    * SimHash bucket are near-dup candidates, verified by token-set Jaccard. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", TextAnalysis.tokenSet($"text").as("toks"))
      .select($"doc_id", $"toks", Dedup.simhashBits($"toks", 32).as("simhash"))
    // skew guard, mirrored in the oracle: a degenerate bucket of m equal
    // signatures contributes m² pairs — same shared cap as the LSH bands
    val capped = Dedup.capBuckets(base, Seq("simhash"), Dedup.DefaultMaxBucket)
    val withN = capped.withColumn("nt", size($"toks"))
    val l = withN.select($"doc_id".as("a"), $"toks".as("ta"), $"simhash", $"nt".as("na"))
    val r = withN.select($"doc_id".as("b"), $"toks".as("tb"), $"simhash", $"nt".as("nb"))
    // Exact prefilter (implied by RAW jaccard >= 0.5): 2*min(|A|,|B|) >= max.
    // The final filter is on the raw jaccard so prefilter and threshold
    // can't diverge at a rounding boundary.
    l.join(r,
        l("simhash") === r("simhash") && $"a" < $"b" &&
          $"na" * 2 >= $"nb" && $"nb" * 2 >= $"na")
      .select($"a", $"b", l("simhash").as("simhash"),
        QueryUtil.fence(Dedup.jaccardSorted($"ta", $"tb")).as("jraw"))
      .filter($"jraw" >= 0.5)
      .select($"a", $"b", $"simhash", halfUp4($"jraw").as("jaccard"))
      .orderBy("a", "b")
  }

  private val simhashOracle = {
    val bitExprs = (0 until 32).map { p =>
      val nib = p / 4 + 1
      val shift = 3 - p % 4
      s"""CASE WHEN list_sum(list_transform(toks, t ->
         |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), $nib, 1)) - 1) >> $shift) & 1 = 1
         |       THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END""".stripMargin
    }.mkString(" ||\n       ")
    s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |s0 AS (SELECT doc_id, toks,
       |       $bitExprs AS simhash
       |      FROM t),
       |s AS (SELECT doc_id, toks, simhash
       |      FROM (SELECT *, count(*) OVER (PARTITION BY simhash) AS bn FROM s0)
       |      WHERE bn <= ${Dedup.DefaultMaxBucket}),
       |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.simhash AS simhash, x.toks AS ta, y.toks AS tb
       |      FROM s x JOIN s y ON x.simhash = y.simhash AND x.doc_id < y.doc_id),
       |j AS (SELECT a, b, simhash,
       |        CAST(len(list_filter(ta, s -> list_contains(tb, s))) AS DOUBLE)
       |              / (len(ta) + len(tb) - len(list_filter(ta, s -> list_contains(tb, s)))) AS jraw
       |      FROM p)
       |SELECT a, b, simhash, floor(jraw * 10000 + 0.5) / 10000.0 AS jaccard FROM j
       |WHERE jraw >= 0.5
       |ORDER BY a, b""".stripMargin
  }

  /** X2 variant: character-trigram Jaccard near-dups, LSH-blocked. Grams
    * are long-packed trigrams (charNgramLongs); candidates come from the
    * multiplicative-minhash band join (8 hashes × 2 rows/band → band
    * collision prob J² per band, ~0.98 recall at J=0.8), verified with the
    * O(n+m) long merge walk. Subquadratic at any scale — the earlier
    * source-blocked form was O(block²) (622k same-source pairs at sf0.1).
    * The oracle reproduces packing, hash family, banding, skew cap, and
    * verification with plain integer SQL, so both engines see the identical
    * candidate set. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .select($"doc_id", TextAnalysis.charNgramLongs($"text", 3).as("g3"))
      .withColumn("n3", size($"g3"))
    val cand = Dedup.lshCandidatesLong(g, "doc_id", "g3", numHashes = 8, rowsPerBand = 2)
    // Exact size prefilter (implied by raw J >= 0.8: min/max >= 0.8, integer
    // form 5*min >= 4*max) evaluated BEFORE the merge walk; the final filter
    // is on the RAW jaccard so prefilter and threshold share one grid.
    cand
      .join(g.select($"doc_id".as("a"), $"g3".as("ga"), $"n3".as("na")), "a")
      .join(g.select($"doc_id".as("b"), $"g3".as("gb"), $"n3".as("nb")), "b")
      .filter($"na" * 5 >= $"nb" * 4 && $"nb" * 5 >= $"na" * 4)
      .select($"a", $"b", QueryUtil.fence(Dedup.jaccardSortedLong($"ga", $"gb")).as("jraw"))
      .filter($"jraw" >= 0.8)
      .select($"a", $"b", halfUp4($"jraw").as("jaccard"))
      .orderBy("a", "b")
  }

  /** Oracle mirror of ngramJaccard: same 16-bit-per-char packing (unicode
    * code point == UTF-16 unit for BMP), same LongMinHash constants (shared
    * via graft.functions.LongMinHash — implementation and oracle can't
    * drift), same banding, skew cap, prefilter, and raw-threshold verify. */
  private val ngramOracle = {
    import graft.functions.LongMinHash
    val P = LongMinHash.P
    val k = 8; val rpb = 2
    def ch(off: Int) =
      s"(CASE WHEN i + $off <= length(text) THEN unicode(substr(text, CAST(i + $off AS INTEGER), 1)) ELSE 0 END)"
    val pack = s"${ch(0)} * 4294967296 + ${ch(1)} * 65536 + ${ch(2)}"
    val mh = (0 until k).map(j =>
      s"coalesce(list_min(list_transform(g3, v -> (${LongMinHash.a(j)} * (v % $P) + ${LongMinHash.b(j)}) % $P)), $P) AS mh$j")
      .mkString(",\n       ")
    val bands = (0 until k / rpb).map(b =>
      s"SELECT doc_id, $b AS band, mh${rpb * b} * ${LongMinHash.BandMult} + mh${rpb * b + 1} AS bh FROM sig")
      .mkString("\n       UNION ALL ")
    s"""WITH g AS (SELECT doc_id,
       |             list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
       |                                          i -> $pack)) AS g3
       |           FROM documents),
       |sig AS (SELECT doc_id,
       |       $mh
       |       FROM g),
       |bands AS (
       |       $bands),
       |bands_pruned AS (SELECT doc_id, band, bh
       |                 FROM (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bn FROM bands)
       |                 WHERE bn <= ${Dedup.DefaultMaxBucket}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |         FROM bands_pruned x JOIN bands_pruned y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |pairs AS (SELECT a, b, ga.g3 AS ga, gb.g3 AS gb
       |          FROM cand JOIN g ga ON ga.doc_id = a JOIN g gb ON gb.doc_id = b
       |          WHERE len(ga.g3) * 5 >= len(gb.g3) * 4 AND len(gb.g3) * 5 >= len(ga.g3) * 4),
       |j AS (SELECT a, b,
       |        CAST(len(list_filter(ga, s -> list_contains(gb, s))) AS DOUBLE)
       |              / (len(ga) + len(gb) - len(list_filter(ga, s -> list_contains(gb, s)))) AS jraw
       |      FROM pairs)
       |SELECT a, b, floor(jraw * 10000 + 0.5) / 10000.0 AS jaccard FROM j
       |WHERE jraw >= 0.8
       |ORDER BY a, b""".stripMargin
  }

  /** SemDeDup cosine threshold: within a cluster, a vector with a lower-id
    * neighbor at cosine >= this is dropped. Tuned to the synthetic fixture
    * (near-isotropic unit vectors — real text embeddings concentrate much
    * higher, where the standard ~0.95+ thresholds apply); drops 8/14/78
    * docs at sf0.001/0.01/0.1, so the gate is exercised at every SF. */
  private val SemTau = 0.42

  /** x15 trains the clustering for this many Lloyd iterations. */
  private val SemTrainIters = 1

  /** X2 (semantic): SemDeDup-style embedding dedup — k-means-cluster the
    * corpus embeddings (Lloyd-TRAINED centroids, the x35 fixed-point
    * hash-stable trainer), then compare pairs only WITHIN a cluster and
    * drop every vector that has a lower-id cluster-mate at cosine >=
    * [[SemTau]] (min-id survivor, the house dedup rule). This is the
    * semantic member of the near-dup family: x11/x13 catch lexical
    * overlap, x12 catches token-frequency overlap, x32 catches raw
    * embedding collisions — SemDeDup catches paraphrases that share no
    * surface form, at quadratic cost bounded by the CLUSTER, not the
    * corpus. 100 TB: choose k ∝ n so cluster size stays constant; the
    * pairwise stage is one shuffle keyed on cent_id with per-cluster
    * work O(size²) — no all-pairs join anywhere; cosines compared
    * UNROUNDED (identical IEEE doubles both engines, x32 precedent).
    * Ref semantics: SemDeDup (Abbas et al. 2023), re-expressed as
    * declarative Spark. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val seed = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv"), $"nrm".as("cn"))
    val cents = Similarity.refineCentroids(emb, seed, iters = SemTrainIters)
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    val assigned = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"nrm", $"cent_id",
        (Similarity.dot($"embedding", $"cv") / ($"nrm" * $"cn")).as("ccos"))
      .withColumn("arn", row_number().over(wAssign)).filter($"arn" === 1)
      .select($"vec_id", $"embedding", $"nrm", $"cent_id")
    val mates = assigned.select($"cent_id", $"vec_id".as("b_id"),
      $"embedding".as("bv"), $"nrm".as("bn"))
    val dropped = assigned.join(mates, Seq("cent_id"))
      .filter($"vec_id" > $"b_id" &&
        Similarity.dot($"embedding", $"bv") / ($"nrm" * $"bn") >= SemTau)
      .select($"vec_id").distinct().withColumn("dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"cent_id", $"dup".isNull.as("keep"))
      .orderBy("vec_id")
  }

  private val semanticOracle = {
    import SimilarityQueries.{assignSql, dotSql, ivfSeedSql, trainIterSql}
    val iters = (0 until SemTrainIters)
      .map(k => trainIterSql(s"c$k", s"c${k + 1}")).mkString(",\n")
    s"""WITH $ivfSeedSql,
       |c0 AS (SELECT * FROM c),
       |$iters,
       |${assignSql(s"c$SemTrainIters")},
       |dup AS (SELECT DISTINCT a.vec_id
       |        FROM assigned a JOIN assigned b
       |          ON a.cent_id = b.cent_id AND a.vec_id > b.vec_id
       |        WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $SemTau)
       |SELECT s.vec_id, s.cent_id, (d.vec_id IS NULL) AS keep
       |FROM assigned s LEFT JOIN dup d ON s.vec_id = d.vec_id
       |ORDER BY s.vec_id""".stripMargin
  }

  /** x17: continual-ingestion admission gate — dedup a NEW batch (sources
    * src10..src19) against the EXISTING corpus (src0..src9), the shape a
    * production pipeline runs on every intake (the reference's
    * incremental-vs-existing anti-join at `salesforce_extractor.py:213-217`,
    * lifted from exact hash equality to near-dup semantics):
    *
    *   1. exact gate — new doc's md5(text) already present in the corpus,
    *   2. near-dup gate — x11's MinHash banding, but joined NEW × EXISTING
    *      instead of self-joined, Jaccard >= 0.5 verified,
    *
    * each rejected doc reporting its earliest corpus duplicate. New-vs-new
    * duplicates are deliberately NOT flagged (in-batch dedup is x10/x11's
    * job — this gate answers "is it already in the corpus"). Scale: the
    * band bucket cap is shared with x11; the cross-set band join only
    * pairs new against existing, so intake cost scales with the BATCH,
    * not the corpus (bands of the corpus are precomputable/persistable —
    * the PLANS.md shared-candidate note). */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", substring($"source", 4, 10).cast("int").as("snum"))
    val exHash = docs.filter($"snum" < 10)
      .groupBy(md5($"text").as("content_hash")).agg(min($"doc_id").as("exact_of"))
    val exactFlag = docs.filter($"snum" >= 10)
      .select($"doc_id", md5($"text").as("content_hash"))
      .join(exHash, Seq("content_hash"), "left")
    val base = docs.select($"doc_id", $"snum", tokenShingles($"text").as("shingles"))
    val banded = base.select($"doc_id", $"snum",
      posexplode(call_function("minhash_bands", $"shingles", lit(12), lit(3)))
        .as(Seq("band", "bh")))
    val pruned = Dedup.capBuckets(banded, Seq("band", "bh"), Dedup.DefaultMaxBucket)
    val cand = pruned.filter($"snum" >= 10).select($"doc_id".as("a"), $"band", $"bh")
      .join(pruned.filter($"snum" < 10).select($"doc_id".as("b"), $"band", $"bh"),
        Seq("band", "bh"))
      .select($"a", $"b").distinct()
    val nearOf = cand
      .join(base.select($"doc_id".as("a"), $"shingles".as("sa")), "a")
      .join(base.select($"doc_id".as("b"), $"shingles".as("sb")), "b")
      .select($"a", $"b",
        QueryUtil.fence(halfUp4(Dedup.jaccardSorted($"sa", $"sb"))).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .groupBy($"a").agg(min($"b").as("near_of"))
    exactFlag.join(nearOf, $"doc_id" === $"a", "left")
      .select($"doc_id",
        when($"exact_of".isNotNull, "dup_exact")
          .when($"near_of".isNotNull, "near_dup")
          .otherwise("admit").as("verdict"),
        coalesce($"exact_of", $"near_of").as("dup_of"))
      .orderBy("doc_id")
  }

  private val incrementalOracle = {
    val snumSql = "TRY_CAST(substr(source, 4, 10) AS INTEGER)"
    minhashBandCtes("WITH", s", $snumSql AS snum", ", snum") +
      s"""cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands_pruned x JOIN t tx ON tx.doc_id = x.doc_id AND tx.snum >= 10
         |         JOIN bands_pruned y ON x.band = y.band AND x.bh = y.bh
         |         JOIN t ty ON ty.doc_id = y.doc_id AND ty.snum < 10),
         |pairs AS (SELECT a, b, ta.shingles AS sa, tb.shingles AS sb
         |          FROM cand JOIN t ta ON ta.doc_id = a JOIN t tb ON tb.doc_id = b),
         |j AS (SELECT a, b,
         |        floor((CAST(len(list_filter(sa, s -> list_contains(sb, s))) AS DOUBLE)
         |              / (len(sa) + len(sb) - len(list_filter(sa, s -> list_contains(sb, s))))) * 10000 + 0.5) / 10000.0 AS jaccard
         |      FROM pairs),
         |nearof AS (SELECT a, min(b) AS near_of FROM j WHERE jaccard >= 0.5 GROUP BY a),
         |exact AS (SELECT n.doc_id, min(e.doc_id) AS exact_of
         |          FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE $snumSql >= 10) n
         |          JOIN (SELECT doc_id, md5(text) AS h FROM documents WHERE $snumSql < 10) e
         |            ON n.h = e.h
         |          GROUP BY n.doc_id)
         |SELECT nd.doc_id,
         |       CASE WHEN ex.exact_of IS NOT NULL THEN 'dup_exact'
         |            WHEN nr.near_of IS NOT NULL THEN 'near_dup'
         |            ELSE 'admit' END AS verdict,
         |       COALESCE(ex.exact_of, nr.near_of) AS dup_of
         |FROM (SELECT doc_id FROM t WHERE snum >= 10) nd
         |LEFT JOIN exact ex ON ex.doc_id = nd.doc_id
         |LEFT JOIN nearof nr ON nr.a = nd.doc_id
         |ORDER BY nd.doc_id""".stripMargin
  }

  /** x18 Jaccard threshold τ = 1/2 (x11's near-dup regime) — kept as a
    * ratio so the verify predicate is pure integer arithmetic. */
  private val SetJoinTauNum = 1
  private val SetJoinTauDen = 2

  /** x18: EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family) — every pair of documents whose 3-token
    * SHINGLE sets have Jaccard ≥ τ, with NO LSH approximation (x11 finds
    * the same regime probabilistically; this is the exact counterpart,
    * and their survivor sets can be diffed). Shingles are globally
    * ordered rarest-first (ascending document frequency, then shingle);
    * a set of n shingles indexes only its first n − ⌈τ·n⌉ + 1 (= ⌊n/2⌋+1
    * at τ=1/2) elements — the PREFIX — and two sets with J ≥ τ must
    * share a prefix element, so candidates come from an equi-join on
    * rare-element postings only. Everything is integer-exact: the prefix
    * length is integer arithmetic, and J = o/(na+nb−o) ≥ 1/2
    * cross-multiplies to the verify predicate 3·o ≥ na+nb — no doubles
    * anywhere but the reported ratio.
    * Exactness is property-proven against a quadratic reference
    * on random corpora (PropertySpec); the DuckDB oracle mirrors the
    * same pruning for engine parity (a full quadratic oracle would be
    * O(|corpus|²) list intersections in a single DuckDB thread at
    * sf0.1). Scale: df is a vocab-sized broadcast; prefix postings are
    * short BECAUSE they are the rarest elements (no bucket cap needed —
    * capping would break exactness; a degenerate corpus where rare
    * shingles still carry huge postings is near-duplicate-saturated and
    * belongs in x55 chunk dedup first). */
  def setJoinPrefix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", tokenShingles($"text").as("sh"))
    setJoinPrefixOn(base)
  }

  /** The x18 pipeline over any (doc_id, sh: sorted-distinct array)
    * frame — split out so PropertySpec can drive random corpora through
    * the EXACT same plan. */
  private[graft] def setJoinPrefixOn(base: org.apache.spark.sql.DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    // NO reuse-point repartition here, deliberately (the x16 trick was
    // measured: 3.3 s → 4.2 s at sf0.1): `base` carries the full shingle
    // ARRAYS, so exchanging it costs more than re-running the narrow
    // per-row shingle build per consumer. The x16 frame is (long, long)
    // rows — that is what makes its exchange cheaper than recompute.
    val e = base.select($"doc_id", explode($"sh").as("g"))
    val dfreq = e.groupBy($"g").agg(count(lit(1)).as("df"))
    val ordered = e.join(broadcast(dfreq), "g")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"g"))).as("ord"))
      .select($"doc_id", transform($"ord", x => x.getField("g")).as("og"),
        size($"ord").as("n"))
    // p = n − ⌈τ·n⌉ + 1 = ⌊n/2⌋ + 1 at τ = 1/2, in integer arithmetic
    val pref = ordered
      .select($"doc_id", explode(slice($"og", lit(1), expr("n div 2 + 1"))).as("g"))
    val cand = pref.select($"doc_id".as("a"), $"g")
      .join(pref.select($"doc_id".as("b"), $"g"), Seq("g"))
      .filter($"a" < $"b").select($"a", $"b").distinct()
    cand
      .join(base.select($"doc_id".as("a"), $"sh".as("sa")), "a")
      .join(base.select($"doc_id".as("b"), $"sh".as("sb")), "b")
      .select($"a", $"b",
        QueryUtil.fence(call_function("sorted_intersect_count", $"sa", $"sb")
          .cast("long")).as("inter"),
        size($"sa").cast("long").as("na"), size($"sb").cast("long").as("nb"))
      .filter($"inter" * (SetJoinTauDen + SetJoinTauNum) >=
        lit(SetJoinTauNum) * ($"na" + $"nb"))
      .select($"a", $"b", $"inter", ($"na" + $"nb" - $"inter").as("un"),
        halfUp4($"inter".cast("double") / ($"na" + $"nb" - $"inter").cast("double")).as("j4"))
      .orderBy("a", "b")
  }

  /** Oracle: the same rarest-first prefix pruning in SQL (exactness
    * itself is property-proven; this checks engine parity of ordering,
    * prefix math, and the integer threshold). */
  private val setJoinOracle =
    s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh
       |           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)),
       |e AS (SELECT doc_id, unnest(sh) AS g FROM t),
       |dfq AS (SELECT g, count(*) AS df FROM e GROUP BY g),
       |ord AS (SELECT e.doc_id, list(e.g ORDER BY dfq.df, e.g) AS og, count(*) AS n
       |        FROM e JOIN dfq ON e.g = dfq.g
       |        GROUP BY e.doc_id),
       |pr AS (SELECT doc_id, unnest(list_slice(og, 1, CAST(n // 2 + 1 AS INTEGER))) AS g FROM ord),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |         FROM pr x JOIN pr y ON x.g = y.g AND x.doc_id < y.doc_id),
       |v AS (SELECT a, b,
       |        CAST(len(list_filter(ta.sh, s -> list_contains(tb.sh, s))) AS BIGINT) AS inter,
       |        CAST(len(ta.sh) AS BIGINT) AS na, CAST(len(tb.sh) AS BIGINT) AS nb
       |      FROM cand JOIN t ta ON ta.doc_id = a JOIN t tb ON tb.doc_id = b)
       |SELECT a, b, inter, na + nb - inter AS un,
       |       floor((CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS j4
       |FROM v
       |WHERE ${SetJoinTauDen + SetJoinTauNum} * inter >= $SetJoinTauNum * (na + nb)
       |ORDER BY a, b""".stripMargin

  /** x19: contrastive TRIPLET mining — turn the near-dup graph into
    * (anchor, positive, negative) training examples for embedding /
    * retrieval models: every doc with a verified near-duplicate anchors a
    * triplet, its min-id near-dup is the positive, and the negative is a
    * deterministic pseudo-random non-member (min salted md5 over the rest
    * of the corpus — reproducible across engines/reruns, unlike rand()
    * negatives, and re-salting gives fresh negatives per epoch). Scale:
    * positives ride the already-audited x11 LSH shape; negatives are a
    * broadcast of the (tiny) anchor set against one corpus scan with a
    * per-anchor WindowGroupLimit — random negative sampling without a
    * shuffle of the corpus. */
  def tripletMining(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pos = minhashLsh(spark, dir)
      .groupBy($"a".as("anchor")).agg(min($"b").as("positive"))
    val docs = Tables.documents(spark, dir).select($"doc_id")
    // the per-anchor argmin over salted hashes runs as a hash AGGREGATE
    // (argmin_pair == "ORDER BY nh, doc_id LIMIT 1 per anchor", UTF8-binary
    // string order like the window it replaces): the |docs|×|anchors|
    // product folds map-side to one row per anchor instead of being sorted
    // by a window.
    docs.join(broadcast(pos), $"doc_id" =!= $"anchor" && $"doc_id" =!= $"positive")
      .groupBy($"anchor", $"positive")
      .agg(call_function("argmin_pair",
        md5(concat_ws("|", lit("neg"), $"anchor", $"doc_id")), $"doc_id").as("negative"))
      .orderBy("anchor")
  }

  private val tripletOracle =
    minhashCtes("WITH") +
      """, pos AS (SELECT a AS anchor, min(b) AS positive
        |       FROM j WHERE jaccard >= 0.5 GROUP BY a),
        |neg AS (SELECT anchor, positive, doc_id AS negative,
        |          row_number() OVER (PARTITION BY anchor
        |            ORDER BY md5(concat_ws('|', 'neg', CAST(anchor AS VARCHAR), CAST(doc_id AS VARCHAR))), doc_id) AS rn
        |        FROM pos JOIN documents d
        |          ON d.doc_id <> pos.anchor AND d.doc_id <> pos.positive)
        |SELECT anchor, positive, negative
        |FROM neg WHERE rn = 1
        |ORDER BY anchor""".stripMargin

  /** x26: recall/precision audit of the APPROXIMATE near-dup path against
    * the EXACT one, in-engine and oracle-paired: x11's MinHash-LSH pairs
    * (probabilistic candidates, halfUp4-rounded jaccard ≥ 0.5) diffed
    * against x18's prefix-filter join (exact, unrounded 3·o ≥ na+nb).
    * Emits the pair counts, overlap, and both ratios — the measurement a
    * production dedup pipeline publishes next to its outputs. The two
    * definitions differ exactly at the τ rounding boundary, so
    * lsh_only/exact_only are NOT symmetric noise: boundary pairs
    * (j ∈ [0.49995, 0.5)) appear only on the LSH side, genuinely missed
    * pairs only on the exact side. Scale: runs both audited pipelines
    * once each and joins K-sized pair sets. */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lsh = minhashLsh(spark, dir).select($"a", $"b", lit(1).as("in_lsh"))
    val exact = setJoinPrefix(spark, dir).select($"a", $"b", lit(1).as("in_exact"))
    lsh.join(exact, Seq("a", "b"), "full")
      .agg(
        sum(coalesce($"in_exact", lit(0))).cast("long").as("n_exact"),
        sum(coalesce($"in_lsh", lit(0))).cast("long").as("n_lsh"),
        sum(when($"in_lsh".isNotNull && $"in_exact".isNotNull, 1).otherwise(0))
          .cast("long").as("n_common"))
      .select($"n_exact", $"n_lsh", $"n_common",
        halfUp4($"n_common".cast("double") / $"n_exact".cast("double")).as("recall4"),
        halfUp4($"n_common".cast("double") / $"n_lsh".cast("double")).as("precision4"))
  }

  /** x18's prefix chain re-rendered with `px`-prefixed CTE names so it can
    * share one WITH clause with [[minhashCtes]] (both use t/cand/...). */
  private def prefixChainCtes: String =
    s"""pxe AS (SELECT doc_id, unnest(shingles) AS g FROM t),
       |pxdf AS (SELECT g, count(*) AS df FROM pxe GROUP BY g),
       |pxord AS (SELECT pxe.doc_id, list(pxe.g ORDER BY pxdf.df, pxe.g) AS og, count(*) AS n
       |          FROM pxe JOIN pxdf ON pxe.g = pxdf.g
       |          GROUP BY pxe.doc_id),
       |pxpr AS (SELECT doc_id, unnest(list_slice(og, 1, CAST(n // 2 + 1 AS INTEGER))) AS g FROM pxord),
       |pxcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |           FROM pxpr x JOIN pxpr y ON x.g = y.g AND x.doc_id < y.doc_id),
       |pxv AS (SELECT a, b,
       |          CAST(len(list_filter(ta.shingles, s -> list_contains(tb.shingles, s))) AS BIGINT) AS inter,
       |          CAST(len(ta.shingles) AS BIGINT) AS na, CAST(len(tb.shingles) AS BIGINT) AS nb
       |        FROM pxcand JOIN t ta ON ta.doc_id = a JOIN t tb ON tb.doc_id = b),
       |pxpairs AS (SELECT a, b FROM pxv
       |            WHERE ${SetJoinTauDen + SetJoinTauNum} * inter >= $SetJoinTauNum * (na + nb))""".stripMargin

  private val lshRecallOracle =
    minhashCtes("WITH") +
      s""", lshp AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
         |$prefixChainCtes,
         |m AS (SELECT coalesce(l.a, p.a) AS a, coalesce(l.b, p.b) AS b,
         |        (l.a IS NOT NULL) AS in_lsh, (p.a IS NOT NULL) AS in_exact
         |      FROM lshp l FULL JOIN pxpairs p ON l.a = p.a AND l.b = p.b)
         |SELECT CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |       CAST(sum(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |       CAST(sum(CASE WHEN in_lsh AND in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |       floor((CAST(sum(CASE WHEN in_lsh AND in_exact THEN 1 ELSE 0 END) AS DOUBLE)
         |              / sum(CASE WHEN in_exact THEN 1 ELSE 0 END)) * 10000 + 0.5) / 10000.0 AS recall4,
         |       floor((CAST(sum(CASE WHEN in_lsh AND in_exact THEN 1 ELSE 0 END) AS DOUBLE)
         |              / sum(CASE WHEN in_lsh THEN 1 ELSE 0 END)) * 10000 + 0.5) / 10000.0 AS precision4
         |FROM m""".stripMargin

  /** Containment threshold for x25 (kept rational: 4/5). */
  private val ContainTauNum = 4
  private val ContainTauDen = 5

  /** x25: asymmetric CONTAINMENT near-dup detection — pairs where ≥ 80%
    * of the smaller document's shingles appear in the larger one
    * (|Sa∩Sb| / min(|Sa|,|Sb|) ≥ 4/5): catches excerpt/quote/
    * superset relationships that symmetric Jaccard misses entirely (a
    * 10-shingle quote inside a 100-shingle doc has J ≈ 0.1 but
    * containment 1.0). Candidates reuse x11's MinHash banding (high
    * containment of the small side still collides its minima often);
    * the verify is the integer predicate 5·inter ≥ 4·min(na,nb) — no
    * doubles except the reported ratio. Emits (contained, container) by
    * size with deterministic orientation. Note the LSH candidate step
    * makes this the APPROXIMATE containment path (very asymmetric sizes
    * lower band-collision odds — the x18-style exact prefix join is the
    * exact counterpart when needed). */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", tokenShingles($"text").as("shingles"))
    val cand = Dedup.lshCandidates(base, "doc_id", "shingles", numHashes = 12, rowsPerBand = 3)
    cand
      .join(base.select($"doc_id".as("a"), $"shingles".as("sa")), "a")
      .join(base.select($"doc_id".as("b"), $"shingles".as("sb")), "b")
      .select($"a", $"b",
        QueryUtil.fence(call_function("sorted_intersect_count", $"sa", $"sb")
          .cast("long")).as("inter"),
        size($"sa").cast("long").as("na"), size($"sb").cast("long").as("nb"))
      .filter($"inter" * ContainTauDen >= lit(ContainTauNum) * least($"na", $"nb"))
      .select(
        when($"na" <= $"nb", $"a").otherwise($"b").as("contained"),
        when($"na" <= $"nb", $"b").otherwise($"a").as("container"),
        least($"na", $"nb").as("n_small"),
        halfUp4($"inter".cast("double") / least($"na", $"nb").cast("double")).as("cont4"))
      .orderBy("contained", "container")
  }

  private val containmentOracle =
    minhashCtes("WITH") +
      s""", cont AS (SELECT a, b,
         |        CAST(len(list_filter(sa, s -> list_contains(sb, s))) AS BIGINT) AS inter,
         |        CAST(len(sa) AS BIGINT) AS na, CAST(len(sb) AS BIGINT) AS nb
         |      FROM pairs)
         |SELECT CASE WHEN na <= nb THEN a ELSE b END AS contained,
         |       CASE WHEN na <= nb THEN b ELSE a END AS container,
         |       least(na, nb) AS n_small,
         |       floor((CAST(inter AS DOUBLE) / CAST(least(na, nb) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS cont4
         |FROM cont
         |WHERE inter * $ContainTauDen >= $ContainTauNum * least(na, nb)
         |ORDER BY contained, container""".stripMargin

  /** x27: SOFT dedup — down-weight near-duplicates instead of dropping
    * them (the SoftDeDup idea: duplicated content carries information
    * about frequency; deleting it biases the distribution, so each
    * member of a near-dup cluster trains at weight 1/cluster_size and
    * every cluster contributes exactly one document's worth of mass).
    * Clusters are x14's connected components; the weight is the exact
    * rational 1/size (identical doubles both engines), rounded only for
    * display. Scale: x14's audited shape + one count window on the
    * (small) cluster id. */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"cluster_id")
    dedupClusters(spark, dir)
      .withColumn("csize", count(lit(1)).over(w).cast("int"))
      .select($"doc_id", $"cluster_id", $"csize",
        halfUp4(lit(1.0) / $"csize".cast("double")).as("weight4"))
      .orderBy("doc_id")
  }

  private val softDedupOracle =
    clustersOracleCtes +
      """, sized AS (SELECT doc_id, cluster_id, is_canonical,
        |        CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS csize
        |      FROM labeled)
        |SELECT doc_id, cluster_id, csize,
        |       floor((1.0 / CAST(csize AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS weight4
        |FROM sized
        |ORDER BY doc_id""".stripMargin

  /** x29: sorted-neighborhood blocking (Hernández & Stolfo's merge/purge)
    * — the third candidate-generation family after hash-bucket LSH
    * (x11/x12) and prefix filtering (x18). Records sort by a blocking key
    * (first 12 chars) within each lang block; candidates are pairs within
    * rank distance ≤ 3 of the sorted order; the verify gate is exact
    * distinct-token Jaccard ≥ 0.8 decided on the cross-multiplied integer
    * predicate `it*5 >= un*4` (no float threshold). Scale (100 TB): the
    * neighbor join is an exact EQUI-join on (lang, rank) — each left row
    * explodes its 3 target ranks, so there is no per-block cross product;
    * the per-block `row_number` sort is the classic SN cost, and a hot
    * block sub-partitions by a longer key prefix (standard multi-pass SN).
    * The oracle expresses the same neighborhood as a rank-range join. */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        array_distinct(split($"text", " ")).as("toks"),
        substring($"text", 1, 12).as("bkey"))
      .withColumn("rn",
        row_number().over(Window.partitionBy($"lang").orderBy($"bkey", $"doc_id")))
    val l = keyed.select($"lang", $"rn", $"doc_id".as("doc_a"), $"toks".as("ta"))
      .withColumn("rn_r", explode(array($"rn" + 1, $"rn" + 2, $"rn" + 3)))
    val r = keyed.select($"lang", $"rn".as("rn_r"), $"doc_id".as("doc_b"), $"toks".as("tb"))
    l.join(r, Seq("lang", "rn_r"))
      .select($"doc_a", $"doc_b",
        size(array_intersect($"ta", $"tb")).as("it"),
        size(array_union($"ta", $"tb")).as("un"))
      .filter($"it" * 5 >= $"un" * 4)
      .select($"doc_a", $"doc_b", halfUp4($"it".cast("double") / $"un").as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  private val sortedNeighborhoodOracle =
    """WITH keyed AS MATERIALIZED (
      |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY substr(text, 1, 12), doc_id) AS rn
      |  FROM documents),
      |cand AS (
      |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
      |         len(list_intersect(l.toks, r.toks)) AS it,
      |         len(list_distinct(list_concat(l.toks, r.toks))) AS un
      |  FROM keyed l JOIN keyed r
      |    ON l.lang = r.lang AND r.rn > l.rn AND r.rn <= l.rn + 3)
      |SELECT doc_a, doc_b, floor(CAST(it AS DOUBLE) / un * 10000 + 0.5) / 10000.0 AS jaccard
      |FROM cand WHERE it * 5 >= un * 4
      |ORDER BY doc_a, doc_b""".stripMargin

  /** CDC window width and boundary divisor — single source of truth in
    * [[graft.operators.Cdc]] (shared with the PropertySpec proofs); the
    * oracle SQL is generated from the same constants. */
  private val CdcW = graft.operators.Cdc.W
  private val CdcDiv = graft.operators.Cdc.Div

  /** x122: content-defined chunking — the storage-level dedup primitive
    * (rsync/LBFS/backup-dedup family): chunk boundaries are decided by the
    * CONTENT (rolling-window hash hits a divisor), not by fixed offsets,
    * so an insertion early in a document shifts only the chunk it lands
    * in — unlike x55's fixed non-overlapping token chunks, where one
    * insertion re-aligns every later chunk. Per doc: chunk count, mean
    * chunk length, the md5 digest of the ordered chunk-length sequence
    * (the x75 exact-structure pin), and the cross-corpus dup-chunk stats
    * (chunk instances whose content hash appears in ≥2 distinct docs) —
    * the shared-segment mass a CDC store would deduplicate. Chunking is
    * ARRAY-LOCAL per document (one transform builds the cut list, one
    * builds the chunk structs — zero shuffle, the x20 recipe); the only
    * shuffles are the chunk-hash aggregate and the doc_id rollup.
    * Scale: per-doc work is O(len) md5 windows (the x49 cost shape);
    * the chunk-hash join is banded by content hash — subquadratic, and
    * exactly the access path a 100 TB dedup store maintains anyway. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"text", length($"text").as("len"))
      // fence: `starts` is referenced three times by the chunk transform
      // (size + two element_at) — without the fence the optimizer inlines
      // the O(len) md5 window scan into every reference (measured 6.8 s →
      // see PLANS.md r9 audit). The chunking expressions live in
      // operators/Cdc so the property-tested forms ARE these.
      .withColumn("starts",
        QueryUtil.fence(graft.operators.Cdc.chunkStarts("text", "len")))
    val inst = base.select($"doc_id", $"len",
        posexplode(graft.operators.Cdc.chunkTexts("text", "starts", "len"))
          .as(Seq("pos0", "ch")))
      .select($"doc_id", $"len", ($"pos0" + 1).as("pos"),
        length($"ch").as("clen"), md5($"ch").as("chash"))
      // reuse point (the x16 recipe): `inst` feeds BOTH the chash aggregate
      // and the join probe side — without an exchange here the O(len·md5)
      // chunking pipeline executes twice; post-chunk rows are narrow
      // (5 scalar cols, no text), so one shuffle is cheaper than a re-scan
      .repartition($"doc_id")
    val nd = inst.groupBy($"chash").agg(countDistinct($"doc_id").as("ndocs"))
    inst.join(nd, "chash")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max($"len").as("dlen"),
        sum(when($"ndocs" >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        md5(array_join(expr(
          "transform(sort_array(collect_list(struct(pos, clen))), s -> CAST(s.clen AS STRING))"),
          ",")).as("len_digest"))
      .select($"doc_id", $"n_chunks",
        QueryUtil.halfUp($"dlen".cast("double") / $"n_chunks".cast("double"), 4)
          .as("avg_chunk_len"),
        $"n_dup_chunks",
        QueryUtil.halfUp($"n_dup_chunks".cast("double") / $"n_chunks".cast("double"), 4)
          .as("dup_ratio"),
        $"len_digest")
      .orderBy("doc_id")
  }

  private val cdcChunksOracle = {
    val h16win = md5IntSql(s"substr(text, CAST(i AS INTEGER), $CdcW)", 4)
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |s AS (SELECT doc_id, text, len,
       |        list_concat([CAST(1 AS BIGINT)],
       |          list_filter(list_transform(range(1, greatest(len - ${CdcW - 1}, 1) + 1),
       |            i -> CASE WHEN ($h16win) % $CdcDiv = 0 AND i + $CdcW <= len
       |                      THEN i + $CdcW ELSE NULL END),
       |            x -> x IS NOT NULL)) AS starts
       |      FROM d),
       |c AS (SELECT doc_id, len,
       |        unnest(list_transform(range(1, len(starts) + 1),
       |          k -> struct_pack(pos := k,
       |                 ch := substr(text, CAST(starts[CAST(k AS INTEGER)] AS INTEGER),
       |                        CAST((CASE WHEN k < len(starts) THEN starts[CAST(k AS INTEGER) + 1]
       |                              ELSE len + 1 END) - starts[CAST(k AS INTEGER)] AS INTEGER))))) AS u
       |      FROM s),
       |i AS (SELECT doc_id, len, u.pos AS pos, length(u.ch) AS clen, md5(u.ch) AS chash FROM c),
       |nd AS (SELECT chash, count(DISTINCT doc_id) AS ndocs FROM i GROUP BY chash)
       |SELECT i.doc_id, count(*) AS n_chunks,
       |       floor((CAST(max(i.len) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS avg_chunk_len,
       |       CAST(sum(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |       floor((CAST(sum(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS dup_ratio,
       |       md5(string_agg(CAST(i.clen AS VARCHAR), ',' ORDER BY i.pos)) AS len_digest
       |FROM i JOIN nd ON i.chash = nd.chash
       |GROUP BY i.doc_id
       |ORDER BY i.doc_id""".stripMargin
  }

  /** x135: duplicated-n-gram mass — the span-level dedup MEASUREMENT from
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (exact-substring dedup, approximated at fixed n=8-token
    * granularity): an 8-gram instance is duplicated when its corpus-wide
    * instance count is >= 2 (within-doc repetition counts — boilerplate
    * repeats inside one page too). Per document: total 8-gram instances,
    * duplicated instances, the duplicated fraction, and the keep gate at
    * raw fraction <= 0.5 (the sf0.01 corpus is cleanly bimodal: 453 docs
    * near 0, the 47 template near-dups at 0.8–1.0). Documents shorter
    * than 8 tokens carry zero grams and pass trivially.
    *
    * Scale: two hash shuffles (gram totals, per-doc rollup) — at 100 TB
    * the gram key would be xxhash64'd to 8 bytes before the exchange
    * (collision odds ~(corpus grams)²/2⁶⁵ — acceptable for a filter
    * stat); the explode is array-local and the gram totals aggregate is
    * map-side partial. No all-pairs stage anywhere. */
  def dupNgramMass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val G = 8
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    // native one-pass 8-grams (r16): the interpreted transform() lambda
    // re-ran slice+concat per element; token_ngrams emits the identical
    // list and returns [] for docs shorter than G (the old when() guard)
    val grams = docs
      .select($"doc_id",
        explode(call_function("token_ngrams", $"text", lit(G))).as("gram"))
    val cd = grams.groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
    val ct = cd.groupBy($"gram").agg(sum($"c").as("total"))
    val perDoc = cd.join(ct, "gram")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_grams"),
        sum(when($"total" >= 2, $"c").otherwise(0L)).as("n_dup"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_dup", lit(0L)).as("n_dup"))
      .withColumn("raw", when($"n_grams" > 0,
        $"n_dup".cast("double") / $"n_grams").otherwise(lit(0.0)))
      .select($"doc_id", $"n_grams", $"n_dup",
        halfUp4($"raw").as("dup_frac"),
        ($"raw" <= 0.5).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  private val dupNgramMassOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id,
      |        array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7], ' ') AS gram
      |      FROM t, LATERAL unnest(range(1, greatest(len(toks) - 6, 1))) AS u(i)
      |      WHERE len(toks) >= 8),
      |cd AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
      |ct AS (SELECT gram, CAST(sum(c) AS BIGINT) AS total FROM cd GROUP BY 1),
      |d AS (SELECT cd.doc_id,
      |        CAST(sum(cd.c) AS BIGINT) AS n_grams,
      |        CAST(sum(CASE WHEN ct.total >= 2 THEN cd.c ELSE 0 END) AS BIGINT) AS n_dup
      |      FROM cd JOIN ct USING (gram) GROUP BY 1),
      |f AS (SELECT t.doc_id,
      |        coalesce(d.n_grams, 0) AS n_grams, coalesce(d.n_dup, 0) AS n_dup,
      |        CASE WHEN coalesce(d.n_grams, 0) > 0
      |             THEN CAST(d.n_dup AS DOUBLE) / d.n_grams ELSE 0.0 END AS raw
      |      FROM t LEFT JOIN d ON d.doc_id = t.doc_id)
      |SELECT doc_id, n_grams, n_dup,
      |       floor(raw * 10000 + 0.5) / 10000.0 AS dup_frac,
      |       CAST(raw <= 0.5 AS INTEGER) AS keep
      |FROM f
      |ORDER BY doc_id""".stripMargin

  /** x136: quality-aware survivor selection — x14 labels near-dup
    * clusters; the naive canonical is the min doc_id (x14's
    * `is_canonical`). A training pipeline should instead KEEP THE BEST
    * COPY: per multi-member cluster, the survivor is the member
    * maximizing the x42 quality score (raw, unrounded — the ranking-key
    * rule), doc_id ascending as the deterministic tie-break. Emits the
    * chosen survivor, the naive min-id survivor's quality, and the
    * quality gain — the measured value of quality-aware
    * canonicalization over id-order canonicalization.
    *
    * Scale: rides x14's audited components pipeline (banded LSH
    * candidates + pointer-jumping, both subquadratic); the quality score
    * is array-local per doc and the argmax is one window over
    * |cluster members| rows. */
  def survivorQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = dedupClusters(spark, dir)
      .select($"doc_id", $"cluster_id")
    val toks = graft.operators.TextAnalysis.tokens($"text")
    val quality = Tables.documents(spark, dir)
      .select($"doc_id", graft.operators.TextAnalysis.qualityScore(toks).as("q"))
    val members = clusters.join(quality, "doc_id")
    val multi = members
      .withColumn("csize", count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .filter($"csize" >= 2)
    val ranked = multi.withColumn("rk",
      row_number().over(Window.partitionBy($"cluster_id").orderBy($"q".desc, $"doc_id")))
    val naive = multi.filter($"doc_id" === $"cluster_id") // min-id member IS the label
      .select($"cluster_id", $"q".as("naive_q"))
    ranked.filter($"rk" === 1)
      .join(naive, "cluster_id")
      .select($"cluster_id", $"csize".as("n_members"),
        $"doc_id".as("survivor_doc"),
        halfUp4($"q").as("survivor_quality"),
        halfUp4($"naive_q").as("naive_quality"),
        halfUp4($"q" - $"naive_q").as("quality_gain"))
      .orderBy("cluster_id")
  }

  private val survivorQualityOracle = {
    import graft.operators.TextAnalysis
    clustersOracleCtes +
      s""",
         |qual AS (SELECT doc_id, ${TextAnalysis.qualityScoreSql("string_split(text, ' ')")} AS q
         |         FROM documents),
         |mem AS (SELECT l.doc_id, l.cluster_id, qual.q,
         |          count(*) OVER (PARTITION BY l.cluster_id) AS csize
         |        FROM labeled l JOIN qual ON qual.doc_id = l.doc_id),
         |multi AS (SELECT * FROM mem WHERE csize >= 2),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rk
         |       FROM multi),
         |naive AS (SELECT cluster_id, q AS naive_q FROM multi WHERE doc_id = cluster_id)
         |SELECT r.cluster_id, CAST(r.csize AS BIGINT) AS n_members,
         |       r.doc_id AS survivor_doc,
         |       floor(r.q * 10000 + 0.5) / 10000.0 AS survivor_quality,
         |       floor(n.naive_q * 10000 + 0.5) / 10000.0 AS naive_quality,
         |       floor((r.q - n.naive_q) * 10000 + 0.5) / 10000.0 AS quality_gain
         |FROM rk r JOIN naive n ON n.cluster_id = r.cluster_id
         |WHERE r.rk = 1
         |ORDER BY r.cluster_id""".stripMargin
  }

  /* C4-style boilerplate removal (the remove-everywhere
   * counterpart of x55's first-survivor chunk dedup), PII detection and
   * redaction over an injected-PII corpus, and a Deequ-style declarative
   * data-quality constraint suite.
   * Elsewhere: x159 (TextQueries); q103 (EtlQueries).
   */

  /** x158 span width (tokens). Deliberately differs from x55's 16-token
    * chunks: boilerplate detection wants spans short enough that shared
    * template fragments align. */
  private[queries] val SpanW = 8

  /** x158: boilerplate span removal — the C4 rule family's dedup arm
    * (Raffel et al. 2020 discarded any three-sentence span occurring more
    * than once): cut every document into non-overlapping 8-token spans,
    * call a span BOILERPLATE when it appears in ≥ 2 DISTINCT documents,
    * and remove it from EVERY document (including the first — unlike
    * x55's first-occurrence-survivor, which keeps one copy). Emits the
    * per-doc span counts and the md5 of the rebuilt text, plus the number
    * of distinct docs sharing the doc's worst span (boilerplate evidence).
    *
    * Scale: one hash shuffle on the span text for the distinct-doc count
    * (map-side partial), one span-keyed join back, one doc_id fold for
    * the rebuild — the x10/x55 shape; no all-pairs anything. */
  def boilerplateDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(SpanW)).cast("int"))).as("k"))
      .select($"doc_id", $"k",
        array_join(slice($"toks", $"k" * SpanW + 1, lit(SpanW)), " ").as("span"))
    val docsPerSpan = spans.groupBy($"span")
      .agg(countDistinct($"doc_id").as("nd"))
    spans.join(docsPerSpan, "span")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_spans"),
        sum(when($"nd" >= 2, 1).otherwise(0)).cast("int").as("n_removed"),
        max($"nd").cast("int").as("max_shared_docs"),
        md5(array_join(
          transform(
            sort_array(collect_list(when($"nd" < 2, struct($"k", $"span")))),
            s => s.getField("span")),
          " ")).as("kept_md5"))
      .orderBy("doc_id")
  }

  private val boilerplateDedupOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // $SpanW) + 1)) AS k FROM t),
       |c AS (SELECT doc_id, k,
       |        array_to_string(list_slice(toks, k * $SpanW + 1, k * $SpanW + $SpanW), ' ') AS span
       |      FROM e),
       |d AS (SELECT span, count(DISTINCT doc_id) AS nd FROM c GROUP BY span)
       |SELECT c.doc_id,
       |       CAST(count(*) AS INTEGER) AS n_spans,
       |       CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS INTEGER) AS n_removed,
       |       CAST(max(d.nd) AS INTEGER) AS max_shared_docs,
       |       md5(coalesce(string_agg(CASE WHEN d.nd < 2 THEN c.span END, ' ' ORDER BY c.k), '')) AS kept_md5
       |FROM c JOIN d USING (span)
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /* Probabilistic record linkage (Fellegi–Sunter
   * m/u weight estimation over blocked candidates) and the word2vec
   * negative-sampling table (unigram^(3/4) allocation) built with EXACT
   * integer fourth-root arithmetic.
   * Elsewhere: x174 (TrainingQueries).
   */

  /** x173: Fellegi–Sunter record-linkage weights — the probabilistic-ER
    * framework on top of x29's blocking: candidate pairs are the
    * sorted-neighborhood window (per-lang rank distance ≤ 3), "match" is
    * the exact-integer Jaccard ≥ 0.8 gate, and for each comparison field
    * (same source, same length band, same 8-char key prefix) the
    * estimated m = P(agree|match) and u = P(agree|unmatch) yield the
    * log-likelihood-ratio weights w⁺ = ln(m/u), w⁻ = ln((1−m)/(1−u)) a
    * linkage scorer adds per field. Laplace (+1/+2) smoothing keeps every
    * ln finite and deterministic; the lns quantize half-up to 1e-6 (the
    * x20 convention). This is the classical ER method family the
    * threshold-rule dedup tier (x11–x29) doesn't cover: weights LEARNED
    * from the data, not set by hand.
    *
    * Scale: candidates are the x29 equi-join (no cross product); the
    * field rollup is a 3-row aggregate over one pass of the pair set. */
  def linkageWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars",
        array_distinct(split($"text", " ")).as("toks"),
        substring($"text", 1, 12).as("bkey"))
      .withColumn("rn",
        row_number().over(Window.partitionBy($"lang").orderBy($"bkey", $"doc_id")))
    val l = keyed.select($"lang", $"rn", $"source".as("src_a"),
        $"n_chars".as("nc_a"), $"toks".as("ta"), $"bkey".as("k_a"))
      .withColumn("rn_r", explode(array($"rn" + 1, $"rn" + 2, $"rn" + 3)))
    val r = keyed.select($"lang", $"rn".as("rn_r"), $"source".as("src_b"),
      $"n_chars".as("nc_b"), $"toks".as("tb"), $"bkey".as("k_b"))
    val pairs = l.join(r, Seq("lang", "rn_r"))
      .select(
        (size(array_intersect($"ta", $"tb")) * 5 >=
          size(array_union($"ta", $"tb")) * 4).cast("long").as("is_match"),
        ($"src_a" === $"src_b").cast("long").as("g_source"),
        (floor($"nc_a" / 100) === floor($"nc_b" / 100)).cast("long").as("g_lenband"),
        (substring($"k_a", 1, 8) === substring($"k_b", 1, 8)).cast("long").as("g_prefix"))
    val folded = pairs.selectExpr(
      "is_match",
      """stack(3,
        |  'g_lenband', g_lenband,
        |  'g_prefix', g_prefix,
        |  'g_source', g_source) as (field, agree)""".stripMargin)
    def lnFp(c: Column): Column =
      floor(log(c) * 1e6 + lit(0.5)).cast("long")
    folded.groupBy($"field")
      .agg(sum($"is_match").as("n_m"),
        sum(lit(1) - $"is_match").as("n_u"),
        sum($"is_match" * $"agree").as("a_m"),
        sum((lit(1) - $"is_match") * $"agree").as("a_u"))
      .select($"field", $"n_m", $"n_u", $"a_m", $"a_u",
        halfUp4(($"a_m" + 1).cast("double") / ($"n_m" + 2).cast("double")).as("m4"),
        halfUp4(($"a_u" + 1).cast("double") / ($"n_u" + 2).cast("double")).as("u4"),
        lnFp((($"a_m" + 1).cast("double") / ($"n_m" + 2).cast("double"))
          / (($"a_u" + 1).cast("double") / ($"n_u" + 2).cast("double"))).as("w_agree_fp"),
        lnFp((($"n_m" + 1 - $"a_m").cast("double") / ($"n_m" + 2).cast("double"))
          / (($"n_u" + 1 - $"a_u").cast("double") / ($"n_u" + 2).cast("double")))
          .as("w_disagree_fp"))
      .orderBy("field")
  }

  private val linkageWeightsOracle =
    """WITH keyed AS MATERIALIZED (
      |  SELECT doc_id, lang, source, n_chars,
      |         list_distinct(string_split(text, ' ')) AS toks,
      |         substr(text, 1, 12) AS bkey,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY substr(text, 1, 12), doc_id) AS rn
      |  FROM documents),
      |p AS MATERIALIZED (
      |  SELECT CAST(len(list_intersect(l.toks, r.toks)) * 5 >=
      |              len(list_distinct(list_concat(l.toks, r.toks))) * 4 AS BIGINT) AS is_match,
      |         CAST(l.source = r.source AS BIGINT) AS g_source,
      |         CAST(floor(l.n_chars / 100) = floor(r.n_chars / 100) AS BIGINT) AS g_lenband,
      |         CAST(substr(l.bkey, 1, 8) = substr(r.bkey, 1, 8) AS BIGINT) AS g_prefix
      |  FROM keyed l JOIN keyed r
      |    ON l.lang = r.lang AND r.rn > l.rn AND r.rn <= l.rn + 3),
      |f AS (SELECT is_match, t.field, t.agree
      |      FROM p, LATERAL (VALUES
      |        ('g_lenband', p.g_lenband),
      |        ('g_prefix', p.g_prefix),
      |        ('g_source', p.g_source)) AS t(field, agree)),
      |agg AS (
      |  SELECT field,
      |         CAST(sum(is_match) AS BIGINT) AS n_m,
      |         CAST(sum(1 - is_match) AS BIGINT) AS n_u,
      |         CAST(sum(is_match * agree) AS BIGINT) AS a_m,
      |         CAST(sum((1 - is_match) * agree) AS BIGINT) AS a_u
      |  FROM f GROUP BY field)
      |SELECT field, n_m, n_u, a_m, a_u,
      |       floor((CAST(a_m + 1 AS DOUBLE) / CAST(n_m + 2 AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS m4,
      |       floor((CAST(a_u + 1 AS DOUBLE) / CAST(n_u + 2 AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS u4,
      |       CAST(floor(ln((CAST(a_m + 1 AS DOUBLE) / CAST(n_m + 2 AS DOUBLE))
      |                     / (CAST(a_u + 1 AS DOUBLE) / CAST(n_u + 2 AS DOUBLE))) * 1000000 + 0.5)
      |            AS BIGINT) AS w_agree_fp,
      |       CAST(floor(ln((CAST(n_m + 1 - a_m AS DOUBLE) / CAST(n_m + 2 AS DOUBLE))
      |                     / (CAST(n_u + 1 - a_u AS DOUBLE) / CAST(n_u + 2 AS DOUBLE))) * 1000000 + 0.5)
      |            AS BIGINT) AS w_disagree_fp
      |FROM agg
      |ORDER BY field""".stripMargin

  /* Incremental connected-components
   * maintenance — the continual-ingest counterpart of x14's batch
   * clustering (the way x17 is the continual counterpart of the pairwise
   * dedup gates). */

  /** x179: incremental near-dup cluster maintenance — x14's verified pair
    * set is split deterministically into a BASE graph ((a+b) % 3 ≠ 0,
    * the "already ingested" corpus) and a DELTA ((a+b) % 3 = 0, the new
    * batch's pairs); the base is labeled once (the stored labeling), then
    * `Components.mergeDeltaEdges` folds the delta in WITHOUT rescanning
    * base edges — every old component collapses to a star through its
    * label, so the merge's round count tracks the delta, not the corpus
    * diameter. The oracle recomputes components of the FULL pair set by
    * transitive closure, so the hash match proves maintain ≡ recompute —
    * the q51/q100 IVM guarantee, for a GRAPH operator.
    *
    * Scale: per batch the work is |Δ| + |labels| edge rows through the
    * pointer-jumping fixpoint (O(log delta-diameter) rounds); the old
    * edge set — the thing that grows forever — is never touched again. */
  def incrementalComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashLsh(spark, dir).select($"a", $"b")
      .localCheckpoint(true) // split twice below
    val base = pairs.filter(($"a" + $"b") % 3 =!= 0)
    val delta = pairs.filter(($"a" + $"b") % 3 === 0)
    val nodes = Tables.documents(spark, dir).select($"doc_id")
    val stored = graft.operators.Components
      .connectedComponentsStars(spark, nodes, base, "doc_id")
      .localCheckpoint(true) // the labeling a store would persist
    graft.operators.Components
      .mergeDeltaEdges(spark, stored, delta, "doc_id")._1
      .select($"doc_id", $"component".as("cluster_id"),
        ($"doc_id" === $"component").cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Oracle: full recompute over base ∪ delta — which is exactly x14's
    * pair universe, so this is x14's transitive-closure oracle verbatim;
    * the INCREMENTAL path must land on the identical labeling. */
  private lazy val incrementalComponentsOracle =
    clustersOracleCtes +
      """
        |SELECT doc_id, cluster_id, is_canonical
        |FROM labeled
        |ORDER BY doc_id""".stripMargin

  /* Cluster-churn audit — the operational
   * metric a production dedup service watches when folding a batch into
   * its near-dup clustering. */

  /** x180: cluster churn under the x179 delta fold — when a new batch's
    * near-dup pairs merge into the stored clustering, operations wants to
    * know the blast radius BEFORE republishing canonical ids: how many
    * documents changed label, how many clusters merged away, and how much
    * canonical-id churn downstream consumers will see. Insert-only edges
    * can only COARSEN the partition (labels move to smaller ids,
    * clusters_before ≥ clusters_after, relabeled docs ≥ cluster merges) —
    * all four counts are exact integers the oracle re-derives from two
    * transitive closures (base-only and full).
    *
    * Scale: two labelings via the audited components pipeline (the
    * stored one is free in production — it is the persisted table), one
    * doc_id join, one global aggregate. */
  def clusterChurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashLsh(spark, dir).select($"a", $"b")
      .localCheckpoint(true)
    val base = pairs.filter(($"a" + $"b") % 3 =!= 0)
    val delta = pairs.filter(($"a" + $"b") % 3 === 0)
    val nodes = Tables.documents(spark, dir).select($"doc_id")
    val stored = graft.operators.Components
      .connectedComponentsStars(spark, nodes, base, "doc_id")
      .select($"doc_id", $"component".as("before"))
      .localCheckpoint(true)
    val merged = graft.operators.Components
      .mergeDeltaEdges(spark, stored.select($"doc_id", $"before".as("component")),
        delta, "doc_id")._1
      .select($"doc_id", $"component".as("after"))
    stored.join(merged, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"before" =!= $"after", 1L).otherwise(0L)).as("n_relabeled"),
        countDistinct($"before").as("clusters_before"),
        countDistinct($"after").as("clusters_after"))
      .select($"n_docs", $"n_relabeled", $"clusters_before", $"clusters_after",
        ($"clusters_before" - $"clusters_after").as("n_cluster_merges"),
        ($"clusters_after" <= $"clusters_before" &&
          $"n_relabeled" >= $"clusters_before" - $"clusters_after")
          .cast("int").as("coarsen_invariants_hold"))
  }

  private lazy val clusterChurnOracle =
    minhashCtes("WITH RECURSIVE") +
      """, pairs2 AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
        |pb AS (SELECT a, b FROM pairs2 WHERE (a + b) % 3 <> 0),
        |eb AS (SELECT a AS src, b AS dst FROM pb UNION ALL SELECT b, a FROM pb),
        |reachb AS (SELECT doc_id AS id, doc_id AS r FROM documents
        |           UNION
        |           SELECT e.src AS id, reachb.r AS r FROM eb e JOIN reachb ON e.dst = reachb.id),
        |labb AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS bef FROM reachb GROUP BY id),
        |ef AS (SELECT a AS src, b AS dst FROM pairs2 UNION ALL SELECT b, a FROM pairs2),
        |reachf AS (SELECT doc_id AS id, doc_id AS r FROM documents
        |           UNION
        |           SELECT e.src AS id, reachf.r AS r FROM ef e JOIN reachf ON e.dst = reachf.id),
        |labf AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS aft FROM reachf GROUP BY id)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN bef <> aft THEN 1 ELSE 0 END) AS BIGINT) AS n_relabeled,
        |       CAST(count(DISTINCT bef) AS BIGINT) AS clusters_before,
        |       CAST(count(DISTINCT aft) AS BIGINT) AS clusters_after,
        |       CAST(count(DISTINCT bef) - count(DISTINCT aft) AS BIGINT) AS n_cluster_merges,
        |       CAST(count(DISTINCT aft) <= count(DISTINCT bef)
        |            AND sum(CASE WHEN bef <> aft THEN 1 ELSE 0 END)
        |                >= count(DISTINCT bef) - count(DISTINCT aft) AS INTEGER)
        |         AS coarsen_invariants_hold
        |FROM labb JOIN labf USING (doc_id)""".stripMargin

  /* Extrinsic clustering evaluation
   * (B-cubed over the production dedup clustering) and target-
   * distribution resampling (the data-mixing knob that reshapes a
   * corpus toward a reference distribution).
   * Elsewhere: x188 (CurationQueries).
   */

  // ---------------------------------------------------------------- x185

  /** x185: B-cubed precision/recall/F1 of the production near-dup
    * clustering (connected components over the x11 MinHash-LSH pairs at
    * Jaccard ≥ 0.5) against exact-duplicate truth classes (documents
    * with identical text). B³ is the standard extrinsic clustering
    * metric for entity-resolution/dedup QA: per-document precision is
    * the fraction of its predicted cluster sharing its truth class,
    * recall the fraction of its truth class sharing its cluster — both
    * reduce to Σ n_ct²/|c| and Σ n_ct²/|t| over the contingency counts,
    * so the whole evaluation is three aggregations over the label join
    * (no per-document loop). Exact-text groups always share identical
    * shingle sets, so LSH pairs them at Jaccard 1 and recall's failure
    * mode is only bucket-prune truncation; precision measures how much
    * the near-dup graph glues NON-identical texts together — exactly
    * the over-merge risk a production dedup service monitors. Fixed
    * point: per-term floor to 1e-6 (identical order-free arithmetic in
    * both engines).
    *
    * Scale: clustering cost is the audited x14 pipeline; the evaluation
    * itself is a doc_id join + three groupBys on (cluster, class) —
    * contingency-sized, not corpus-sized, after the first aggregate. */
  def bcubedEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashLsh(spark, dir).select($"a", $"b")
    val docs = Tables.documents(spark, dir).select($"doc_id", md5($"text").as("h"))
      .localCheckpoint(true)
    val nodes = docs.select($"doc_id")
    val pred = graft.operators.Components
      .connectedComponentsStars(spark, nodes, pairs, "doc_id")
      .select($"doc_id", $"component".as("c"))
    val truth = docs.select($"doc_id",
      min($"doc_id").over(Window.partitionBy($"h")).as("t"))
    bcubedFromLabels(pred, truth)
  }

  /** B³ from label frames (doc_id, c) and (doc_id, t) via the
    * contingency identity — Σ n_ct²/|c| and Σ n_ct²/|t| with per-term
    * 1e-6 floors. Exposed for the PropertySpec, which pins it against a
    * per-document brute force on arbitrary labelings. */
  private[graft] def bcubedFromLabels(pred: DataFrame, truth: DataFrame): DataFrame = {
    import pred.sparkSession.implicits._
    val cont = pred.join(truth, "doc_id")
      .groupBy($"c", $"t").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val csz = cont.groupBy($"c").agg(sum($"n").as("cs"))
    val tsz = cont.groupBy($"t").agg(sum($"n").as("ts"))
    cont.join(csz, "c").join(tsz, "t")
      .agg(sum($"n").as("n_docs"),
        countDistinct($"c").as("n_pred_clusters"),
        countDistinct($"t").as("n_truth_classes"),
        sum(expr("(n * n * 1000000) div cs")).as("ps"),
        sum(expr("(n * n * 1000000) div ts")).as("rs"))
      .select($"n_docs", $"n_pred_clusters", $"n_truth_classes",
        expr("ps div n_docs").as("b3_prec_fp"),
        expr("rs div n_docs").as("b3_rec_fp"),
        expr("(2 * (ps div n_docs) * (rs div n_docs)) div ((ps div n_docs) + (rs div n_docs))")
          .as("b3_f1_fp"))
  }

  private lazy val bcubedOracle =
    minhashCtes("WITH RECURSIVE") +
      """, pairs2 AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
        |ef AS (SELECT a AS src, b AS dst FROM pairs2 UNION ALL SELECT b, a FROM pairs2),
        |reachf AS (SELECT doc_id AS id, doc_id AS r FROM documents
        |           UNION
        |           SELECT e.src AS id, reachf.r AS r FROM ef e JOIN reachf ON e.dst = reachf.id),
        |pred AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS c FROM reachf GROUP BY id),
        |th AS (SELECT doc_id, md5(text) AS h FROM documents),
        |tmin AS (SELECT h, min(doc_id) AS t FROM th GROUP BY h),
        |truth AS (SELECT doc_id, t FROM th JOIN tmin USING (h)),
        |cont AS (SELECT c, t, CAST(count(*) AS BIGINT) AS n
        |         FROM pred JOIN truth USING (doc_id) GROUP BY c, t),
        |csz AS (SELECT c, CAST(sum(n) AS BIGINT) AS cs FROM cont GROUP BY c),
        |tsz AS (SELECT t, CAST(sum(n) AS BIGINT) AS ts FROM cont GROUP BY t),
        |sums AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |                CAST(count(DISTINCT c) AS BIGINT) AS n_pred_clusters,
        |                CAST(count(DISTINCT t) AS BIGINT) AS n_truth_classes,
        |                CAST(sum((n * n * 1000000) // cs) AS BIGINT) AS ps,
        |                CAST(sum((n * n * 1000000) // ts) AS BIGINT) AS rs
        |         FROM cont JOIN csz USING (c) JOIN tsz USING (t))
        |SELECT n_docs, n_pred_clusters, n_truth_classes,
        |       ps // n_docs AS b3_prec_fp,
        |       rs // n_docs AS b3_rec_fp,
        |       (2 * (ps // n_docs) * (rs // n_docs))
        |         // ((ps // n_docs) + (rs // n_docs)) AS b3_f1_fp
        |FROM sums""".stripMargin

  /* LSH S-curve calibration — the measured
   * candidate-probability curve of the production banding scheme against
   * its closed-form theory, the chart a dedup service owner uses to pick
   * (bands, rows) for a target Jaccard threshold. */

  private val SCurveBins = 10
  /** Theoretical candidate probability of the production banding
    * (b = 4 bands of r = 3 rows): P(s) = 1 − (1 − s³)⁴, evaluated at
    * each bin midpoint, half-up 1e-6 fixed point. Shared verbatim with
    * the oracle (the Scala constants ARE the oracle literals). */
  private val TheoFp: Seq[Long] = (0 until SCurveBins).map { b =>
    val s = (b + 0.5) / SCurveBins
    math.floor((1.0 - math.pow(1.0 - s * s * s, 4.0)) * 1e6 + 0.5).toLong
  }

  /** x191: LSH S-curve calibration audit. Natural corpus pairs are
    * useless for this curve — a measured 10% sample has ALL its pairs
    * at Jaccard ≈ 0 plus a handful of exact dups, nothing in the steep
    * region. So the probe pairs are CONSTRUCTED: for each sampled
    * document (doc_id % 10 = 0) with sorted shingle set A (|A| = m) and
    * each target decile k = 1..9, a variant B keeps the first
    * p = ⌊2mk/(10+k)⌋ shingles of A and pads with m−p fresh tokens
    * (':'-bearing strings that cannot equal any 3-token shingle), so
    * Jaccard(A, B) = p/(2m−p) ≈ k/10 EXACTLY by construction — no
    * merge-walk needed, the overlap is arithmetic. Both sets run
    * through the PRODUCTION hash family (12 md5 MinHashes → 4 bands ×
    * 3 rows, the x11 pipeline's exact banding) and a pair is a
    * candidate when any band position agrees. Per decile bin: measured
    * candidate rate, mean exact Jaccard, and the closed-form
    * 1 − (1 − s³)⁴ at the bin midpoint. The steep region (s ≈ 0.5–0.7)
    * is what justifies x11's 0.5 verification threshold; x26 audits one
    * operating point, this traces the whole curve.
    *
    * Scale: probe cost is 9 variants × sample size, independent of the
    * corpus pair count — the estimator a 100 TB deployment runs on a
    * fixed sampled cohort; the banding under test is byte-identical to
    * the production path. */
  def lshScurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sub = Tables.documents(spark, dir)
      .filter(pmod($"doc_id", lit(10L)) === 0L)
      .select($"doc_id", tokenShingles($"text").as("a"))
      .select($"doc_id", $"a", size($"a").cast("long").as("m"))
    val probes = sub
      .select($"doc_id", $"a", $"m", explode(sequence(lit(1), lit(9))).as("k"))
      .select($"doc_id", $"a", $"m", $"k",
        expr("(2 * m * k) div (10 + k)").as("p"))
      .select($"doc_id", $"k", $"p", ($"m" * 2 - $"p").as("u"),
        call_function("minhash_bands", $"a", lit(12), lit(3)).as("ba"),
        call_function("minhash_bands",
          concat(slice($"a", lit(1), $"p".cast("int")),
            transform(sequence(lit(1L), $"m" - $"p"),
              i => concat_ws(":", lit("fresh"), $"doc_id", $"k", i))),
          lit(12), lit(3)).as("bb"))
    val binned = probes.select(
      least(expr("(p * 10) div u"), lit(SCurveBins - 1L)).as("bin"),
      expr("(p * 1000000) div u").as("j_fp"),
      array_contains(zip_with($"ba", $"bb", (x, y) => x === y), true)
        .cast("long").as("cand"))
    val theo = TheoFp.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("bin", "theo_fp")
    binned.groupBy($"bin")
      .agg(count(lit(1)).as("n_pairs"), sum($"cand").as("n_cand"),
        expr("sum(j_fp) div count(*)").as("mean_j_fp"))
      .join(broadcast(theo), "bin")
      .select($"bin", $"n_pairs", $"n_cand", $"mean_j_fp",
        expr("(n_cand * 1000000) div n_pairs").as("cand_rate_fp"), $"theo_fp")
      .select($"bin", $"n_pairs", $"n_cand", $"mean_j_fp", $"cand_rate_fp",
        $"theo_fp", abs($"cand_rate_fp" - $"theo_fp").as("abs_dev_fp"))
      .orderBy($"bin")
  }

  private lazy val scurveOracle = {
    val mh = (0 until 12).map(j =>
      s"list_aggregate(list_transform(sh, s -> md5('$j:' || s)), 'min') AS mh$j")
      .mkString(",\n       ")
    val bands = (0 until 4).map(b =>
      s"md5(concat_ws('|', mh${3 * b}, mh${3 * b + 1}, mh${3 * b + 2})) AS b$b")
      .mkString(", ")
    val candSql = (0 until 4).map(b => s"x.b$b = y.b$b").mkString(" OR ")
    val theoValues = TheoFp.zipWithIndex
      .map { case (p, i) => s"($i, $p)" }.mkString(", ")
    s"""WITH sub AS (
       |  SELECT doc_id, a, CAST(len(a) AS BIGINT) AS m FROM (
       |    SELECT doc_id, list_sort(${shinglesSql}) AS a
       |    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
       |          FROM documents WHERE doc_id % 10 = 0) t0) t1),
       |probes AS (
       |  SELECT doc_id, k, p, 2 * m - p AS u, a AS sha,
       |         list_concat(a[1:CAST(p AS INTEGER)],
       |           list_transform(range(1, CAST(m - p AS INTEGER) + 1),
       |             i -> concat_ws(':', 'fresh', CAST(doc_id AS VARCHAR),
       |                            CAST(k AS VARCHAR), CAST(i AS VARCHAR)))) AS shb
       |  FROM (SELECT doc_id, a, m, k, (2 * m * k) // (10 + k) AS p
       |        FROM sub, (SELECT unnest(range(1, 10)) AS k) ks) t2),
       |siga AS (SELECT doc_id, k, p, u, $mh
       |         FROM (SELECT doc_id, k, p, u, sha AS sh FROM probes) ta),
       |banda AS (SELECT doc_id, k, p, u, $bands FROM siga),
       |sigb AS (SELECT doc_id, k, $mh
       |         FROM (SELECT doc_id, k, shb AS sh FROM probes) tb),
       |bandb AS (SELECT doc_id, k, $bands FROM sigb),
       |pairs AS (SELECT x.p, x.u, CASE WHEN $candSql THEN 1 ELSE 0 END AS cand
       |          FROM banda x JOIN bandb y ON x.doc_id = y.doc_id AND x.k = y.k),
       |binned AS (SELECT least((p * 10) // u, ${SCurveBins - 1}) AS bin,
       |                  (p * 1000000) // u AS j_fp, cand
       |           FROM pairs),
       |theo(bin, theo_fp) AS (VALUES $theoValues),
       |agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
       |               CAST(sum(cand) AS BIGINT) AS n_cand,
       |               CAST(sum(j_fp) // count(*) AS BIGINT) AS mean_j_fp
       |        FROM binned GROUP BY bin)
       |SELECT a.bin, n_pairs, n_cand, mean_j_fp,
       |       CAST((n_cand * 1000000) // n_pairs AS BIGINT) AS cand_rate_fp,
       |       CAST(theo_fp AS BIGINT) AS theo_fp,
       |       CAST(abs((n_cand * 1000000) // n_pairs - theo_fp) AS BIGINT) AS abs_dev_fp
       |FROM agg a JOIN theo ON theo.bin = a.bin
       |ORDER BY a.bin""".stripMargin
  }

  /* Corpus-provenance analytics — the
   * cross-source duplication matrix a data-acquisition team reads before
   * renewing feeds (x193) and exact Neyman-allocation stratified
   * sampling for eval-set construction (x194).
   * Elsewhere: x194 (CurationQueries).
   */

  // ---------------------------------------------------------------- x193

  /** x193: cross-source duplication matrix — the x11 near-dup pairs
    * (Jaccard ≥ 0.5) rolled up by unordered source pair, split into
    * within-source and cross-source mass. This is the report that tells
    * a data buyer WHICH feeds copy WHICH: high cross mass between two
    * sources means one is redistributing the other (paying for both
    * buys the same bytes twice), while high self mass flags a feed's
    * internal redundancy. Pair sources are normalized (least, greatest)
    * so each unordered pair appears once.
    *
    * Scale: the pair discovery is the audited banded LSH path; the
    * matrix itself is two doc_id-keyed dimension joins plus one
    * source-pair aggregate — output is |sources|², never corpus-sized. */
  def crossSourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashLsh(spark, dir).select($"a", $"b")
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("a"), $"source".as("sa")), "a")
      .join(src.select($"doc_id".as("b"), $"source".as("sb")), "b")
      .select(least($"sa", $"sb").as("src_lo"), greatest($"sa", $"sb").as("src_hi"))
      .groupBy($"src_lo", $"src_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"src_lo", $"src_hi", $"n_pairs",
        ($"src_lo" =!= $"src_hi").cast("int").as("is_cross"))
      .orderBy($"src_lo", $"src_hi")
  }

  private lazy val crossSourceOracle =
    minhashCtes("WITH") +
      """, pairs2 AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
        |lab AS (SELECT least(da.source, db.source) AS src_lo,
        |               greatest(da.source, db.source) AS src_hi
        |        FROM pairs2
        |        JOIN documents da ON da.doc_id = a
        |        JOIN documents db ON db.doc_id = b)
        |SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(src_lo <> src_hi AS INTEGER) AS is_cross
        |FROM lab GROUP BY src_lo, src_hi
        |ORDER BY src_lo, src_hi""".stripMargin

  /** Span gram width (x135's measurement granularity — a removed run is
    * ≥ G tokens by construction). */
  private val SpanG = 8

  /** x237: exact substring-span REMOVAL — the missing half of the span
    * family: x135 MEASURES duplicated
    * 8-gram mass and x158 removes known cross-doc boilerplate lines; this
    * is Lee et al.'s exact-substring dedup made operational at fixed
    * G=8-token granularity: every duplicated 8-gram instance (corpus-wide
    * instance count ≥ 2, within-doc repeats included) marks its covered
    * token span; per document, overlapping/adjacent spans merge into
    * MINIMAL maximal runs (gaps-and-islands over the duplicated gram
    * start positions — x76's island recipe), and the retained text is
    * the tokens outside every run. Emits per doc the before/after token
    * mass (n_toks / n_removed / n_kept), run count, and an md5 pin of
    * the retained token stream — so the oracle proves the exact TEXT
    * each engine would keep, not just the counts.
    *
    * Island rule: duplicated start positions p (covering [p, p+G-1])
    * sorted ascending start a new run when p > prevEnd + 1 — spans that
    * overlap OR touch merge, so removed runs are minimal in number and
    * maximal in extent.
    *
    * Scale: exactly x135's audited shape (array-local gram explode, one
    * gram-count shuffle with map-side partials, one per-doc rollup) plus
    * a per-doc array fold for the islands — the fold is array-local
    * (collect_list of THIS doc's duplicated starts, bounded by doc
    * length, never corpus-sized). The retained-token rebuild tests each
    * position against the doc's merged runs (O(len · runs) worst case —
    * runs are few by construction since each needs ≥ G duplicated
    * tokens). At 100 TB the gram key would be xxhash64'd to 8 bytes
    * before the exchange, as x135 documents. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
    // native one-pass G-grams (r16): the interpreted transform() lambda
    // re-ran slice+concat per element (O(tokens·G) interpreter steps per
    // doc); token_ngrams emits the identical in-order gram list and [] for
    // short docs (the old when() guard), so posexplode positions match
    val grams = Tables.documents(spark, dir).select($"doc_id",
      posexplode(call_function("token_ngrams", $"text", lit(SpanG)))
        .as(Seq("p0", "gram")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"gram") // 1-based start pos
    val ct = grams.groupBy($"gram").agg(count(lit(1)).as("total"))
    val dupStarts = grams.join(ct.filter($"total" >= 2), "gram")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"p")).as("ps"))
    // gaps-and-islands as an array-local fold: merge covered intervals
    // [p, p+G-1]; new island when p > last.e + 1 (overlap-or-touch merges)
    val spansExpr = expr(
      s"""aggregate(ps,
         |  cast(array() as array<struct<s:int,e:int>>),
         |  (acc, p) -> CASE
         |    WHEN size(acc) = 0 OR p > element_at(acc, -1).e + 1
         |      THEN concat(acc, array(named_struct('s', p, 'e', p + ${SpanG - 1})))
         |    ELSE concat(slice(acc, 1, size(acc) - 1),
         |           array(named_struct('s', element_at(acc, -1).s,
         |                              'e', p + ${SpanG - 1})))
         |  END)""".stripMargin)
    val spans = dupStarts.select($"doc_id", spansExpr.as("runs"))
    docs.join(spans, Seq("doc_id"), "left")
      .select($"doc_id", $"toks",
        coalesce($"runs", expr("cast(array() as array<struct<s:int,e:int>>)"))
          .as("runs"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_toks"),
        size($"runs").cast("long").as("n_runs"),
        expr("aggregate(runs, 0L, (a, r) -> a + r.e - r.s + 1)").as("n_removed"),
        md5(concat_ws(" ", expr(
          """filter(transform(sequence(1, size(toks)),
            |  i -> CASE WHEN exists(runs, r -> i >= r.s AND i <= r.e)
            |            THEN NULL ELSE element_at(toks, i) END),
            |  x -> x IS NOT NULL)""".stripMargin))).as("kept_md5"))
      .withColumn("n_kept", $"n_toks" - $"n_removed")
      .select($"doc_id", $"n_toks", $"n_runs", $"n_removed", $"n_kept", $"kept_md5")
      .orderBy("doc_id")
  }

  private val spanDedupOracle = {
    val G = SpanG
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS p,
       |        array_to_string(toks[CAST(u.i AS INTEGER):CAST(u.i AS INTEGER) + ${G - 1}], ' ') AS gram
       |      FROM t, LATERAL unnest(range(1, greatest(len(toks) - ${G - 2}, 1))) AS u(i)
       |      WHERE len(toks) >= $G),
       |ct AS (SELECT gram, count(*) AS total FROM g GROUP BY gram),
       |dp AS (SELECT doc_id, p FROM g JOIN ct USING (gram) WHERE total >= 2),
       |brk AS (SELECT doc_id, p,
       |          CASE WHEN lag(p) OVER w IS NULL
       |                 OR p > lag(p) OVER w + $G THEN 1 ELSE 0 END AS b
       |        FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |isl AS (SELECT doc_id, p,
       |          sum(b) OVER (PARTITION BY doc_id ORDER BY p
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |        FROM brk),
       |runs AS (SELECT doc_id, CAST(min(p) AS INTEGER) AS s,
       |                CAST(max(p) + ${G - 1} AS INTEGER) AS e
       |         FROM isl GROUP BY doc_id, run_id),
       |rl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS runs
       |       FROM runs GROUP BY doc_id),
       |f AS (SELECT t.doc_id, t.toks,
       |        coalesce(rl.runs, CAST([] AS STRUCT(s INTEGER, e INTEGER)[])) AS runs
       |      FROM t LEFT JOIN rl ON rl.doc_id = t.doc_id)
       |SELECT doc_id,
       |       CAST(len(toks) AS BIGINT) AS n_toks,
       |       CAST(len(runs) AS BIGINT) AS n_runs,
       |       CAST(coalesce(list_sum(list_transform(runs, r -> r.e - r.s + 1)), 0)
       |            AS BIGINT) AS n_removed,
       |       CAST(len(toks) - coalesce(list_sum(list_transform(runs, r -> r.e - r.s + 1)), 0)
       |            AS BIGINT) AS n_kept,
       |       md5(coalesce(array_to_string(list_filter(
       |           list_transform(generate_series(1, len(toks)),
       |             i -> CASE WHEN len(list_filter(runs,
       |                          r -> i >= r.s AND i <= r.e)) > 0
       |                       THEN NULL ELSE toks[CAST(i AS INTEGER)] END),
       |           x -> x IS NOT NULL), ' '), '')) AS kept_md5
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  /* Phonetic blocking through Spark's BUILTIN
   * soundex pinned against a from-the-spec SQL reimplementation (the
   * entity-resolution blocking key next to x173's Fellegi–Sunter
   * weights), and a distribution-free median confidence interval by the
   * order-statistic method (exact rank selection — no bootstrap, no
   * resampling) over the value census.
   * Elsewhere: x280 (StatsQueries).
   */

  // ---------------------------------------------------------------- x279

  /** x279: soundex phonetic blocking — block part-name color words by
    * Spark's builtin `soundex` and report block sizes (the classic
    * cheap blocking key for entity resolution: candidate pairs come
    * from same-block joins, Σ|block|² not |corpus|²). The oracle
    * reimplements the algorithm Spark actually ships (the H/W-SKIPPING
    * variant: H and W are ignored WITHOUT resetting the previous code,
    * so equal codes collapse ACROSS them — `ashcraft`→A261 not A226,
    * `sikhs`→S200 not S220, `burroughs`→B620 not B622; vowels still
    * break runs) from first principles in SQL: translate through the
    * code table with H/W mapped to a sentinel 7, DELETE the sentinels
    * from position 2 on (the head keeps its slot so the first letter's
    * code still anchors the run-collapse even when the word STARTS
    * with h/w), collapse adjacent equal codes, drop the leading code,
    * strip zeros, pad to 3 digits. The divergent class (consonant +
    * h/w + same-code consonant) is pinned by a unit fixture in
    * Round12Spec. RE2 has no pattern backreferences, so the
    * adjacent-duplicate collapse runs one regexp per code digit.
    *
    * Scale: one distinct + one group-by on a bounded vocabulary; as a
    * blocking stage the key assignment is a narrow map over the
    * corpus. */
  def soundexBlocking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.part(spark, dir)
      .select(explode(split($"p_name", " ")).as("w"))
      .unionByName(Tables.documents(spark, dir)
        .select(explode(split($"text", " ")).as("w")))
      .filter($"w".rlike("^[a-z]+$"))
      .distinct()
    words.select($"w", soundex($"w").as("sdx"))
      .groupBy($"sdx")
      .agg(count(lit(1)).as("n_words"), min($"w").as("first_word"),
        max($"w").as("last_word"))
      .orderBy($"sdx")
  }

  private val soundexBlockingOracle = {
    // the classic letter->code table, A..Z, with H and W mapped to the
    // sentinel 7 (Spark's own mapping): 7 means "silent — skip without
    // resetting the run", unlike vowels' 0 which breaks runs
    val table = "01230127022455012623017202"
    val codes = s"translate(up, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '$table')"
    // delete the H/W sentinels AFTER the head slot so adjacent-equal codes
    // collapse across them; the head keeps its slot (and its own code) so
    // h/w-initial words still anchor the collapse with code 7, which never
    // equals a real code — e.g. `hb` stays H100, not H000
    val joined = s"substr($codes, 1, 1) || replace(substr($codes, 2), '7', '')"
    // collapse adjacent equal codes: one regexp per digit (RE2: no backrefs)
    val collapsed = (0 to 6).foldLeft(joined) { (acc, d) =>
      s"regexp_replace($acc, '$d{2,}', '$d', 'g')" }
    s"""WITH words AS MATERIALIZED (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(p_name, ' ')) AS w FROM part
       |    UNION ALL
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$')),
       |sdx AS (
       |  SELECT w,
       |         substr(up, 1, 1) ||
       |         substr(replace(substr($collapsed, 2), '0', '') || '000', 1, 3)
       |           AS sdx
       |  FROM (SELECT w, upper(w) AS up FROM words))
       |SELECT sdx, CAST(count(*) AS BIGINT) AS n_words,
       |       min(w) AS first_word, max(w) AS last_word
       |FROM sdx
       |GROUP BY sdx
       |ORDER BY sdx""".stripMargin
  }

  // ---------------------------------------------------------------- x307

  /** (bands, rows) factorizations of a 24-hash MinHash budget. */
  private val LshConfigs = Seq((24, 1), (12, 2), (8, 3), (6, 4), (4, 6),
    (3, 8), (2, 12), (1, 24))
  /** Collision probability at s = (2k+1)/20, as an EXACT rational with
    * denominator 20²⁴: P = 1 − (1 − sʳ)ᵇ ⇒
    * p_num = 20²⁴ − (20ʳ − (2k+1)ʳ)ᵇ (BigInt, ≤ 1.7·10³¹ — fits
    * DECIMAL(38)/HUGEINT with room for the weight products). */
  private def lshPNum(b: Int, r: Int, k: Int): BigInt =
    LshPDen - (BigInt(20).pow(r) - BigInt(2 * k + 1).pow(r)).pow(b)
  private val LshPDen = BigInt(20).pow(24)

  /** x307: LSH band planner — x191 plots the S-curve; this makes the
    * DECISION: given a 24-hash budget, a target threshold τ = 0.7, and
    * the corpus's MEASURED pair-similarity histogram (token-set Jaccard
    * of consecutive-doc pairs, bucketed to the 10-step midpoint grid),
    * rank every (bands, rows) factorization by expected error =
    * Σ_{s<τ} w_s·P(s) + Σ_{s≥τ} w_s·(1−P(s)) — false positives below
    * the threshold plus false negatives above it, weighted by how many
    * real pairs live at each similarity. The S-curve values are exact
    * rationals over 20²⁴ (x87's literal-table discipline: the constants
    * derive from (b,r,k) combinatorics, embedded identically in both
    * engines), the weighted sum is pure DECIMAL(38)/HUGEINT, and the
    * ranking is an exact integer comparison — so the recommended config
    * is oracle-gated, not eyeballed.
    *
    * Scale: the histogram is one narrow pass over consecutive pairs
    * (production would reuse any candidate-pair sample); the plan
    * itself runs on 8 configs × 10 buckets. */
  def lshBandPlanner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pRows = for ((b, r) <- LshConfigs; k <- 0 to 9)
      yield (b.toLong, r.toLong, k.toLong, lshPNum(b, r, k).toString)
    val p = pRows.toDF("b", "r", "k", "ps")
      .select($"b", $"r", $"k", $"ps".cast("decimal(38,0)").as("p_num"))
    val t = Tables.documents(spark, dir)
      // native sorted-distinct token set (r16): same byte-order sorted set
      // as array_sort(array_distinct(split(...))) without two interpreted
      // HOF passes per doc
      .select($"doc_id", call_function("sorted_token_set", $"text").as("ts"))
    val pairs = t.select(($"doc_id" - 1).as("doc_id"), $"ts".as("tb"))
      .join(t.withColumnRenamed("ts", "ta"), "doc_id")
    val j0 = pairs.select(
      call_function("sorted_intersect_count", $"ta", $"tb").cast("long").as("it"),
      (size($"ta") + size($"tb")).cast("long").as("st"))
    val w = j0.filter($"st" - $"it" > 0)
      .select(least(lit(9L), expr("(10 * it) div (st - it)")).as("k"))
      .groupBy($"k").agg(count(lit(1)).as("wk"))
      .localCheckpoint(true)
    val den = lit(LshPDen.toString).cast("decimal(38,0)")
    val err = p.join(broadcast(w), "k")
      .withColumn("term",
        when($"k" <= 6, $"p_num" * $"wk") // s = (2k+1)/20 < 0.7 ⇔ k ≤ 6
          .otherwise((den - $"p_num") * $"wk"))
      .groupBy($"b", $"r").agg(sum($"term").as("err"))
    val tot = w.agg(sum($"wk").as("tw"))
    err.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(Window.orderBy($"err", $"b")).cast("long"))
      .select($"rk", $"b", $"r",
        QueryUtil.halfUp($"err".cast("double")
          / (den.cast("double") * $"tw"), 6).as("err_rate"))
      .orderBy($"rk")
  }

  private val lshBandPlannerOracle = {
    val pRows = (for ((b, r) <- LshConfigs; k <- 0 to 9)
      yield s"($b, $r, $k, '${lshPNum(b, r, k)}')").mkString(", ")
    val den = s"CAST('$LshPDen' AS HUGEINT)"
    s"""WITH p AS (
       |  SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
       |         CAST(k AS BIGINT) AS k, CAST(ps AS HUGEINT) AS p_num
       |  FROM (VALUES $pRows) t(b, r, k, ps)),
       |t AS (SELECT doc_id,
       |             list_sort(list_distinct(string_split(text, ' '))) AS ts
       |      FROM documents),
       |pr AS (SELECT a.ts AS ta, b.ts AS tb
       |       FROM t a JOIN t b ON b.doc_id = a.doc_id + 1),
       |j0 AS (SELECT CAST(len(list_filter(ta, s -> list_contains(tb, s)))
       |                AS BIGINT) AS it,
       |              CAST(len(ta) + len(tb) AS BIGINT) AS st
       |       FROM pr),
       |w AS (SELECT least(9, (10 * it) // (st - it)) AS k,
       |             CAST(count(*) AS BIGINT) AS wk
       |      FROM j0 WHERE st - it > 0 GROUP BY 1),
       |e AS (SELECT b, r,
       |        sum(CASE WHEN p.k <= 6 THEN p_num * wk
       |                 ELSE ($den - p_num) * wk END) AS err
       |      FROM p JOIN w ON w.k = p.k GROUP BY b, r),
       |tw AS (SELECT CAST(sum(wk) AS BIGINT) AS tw FROM w)
       |SELECT CAST(row_number() OVER (ORDER BY err, b) AS BIGINT) AS rk,
       |       b, r,
       |       floor(CAST(err AS DOUBLE) / (CAST($den AS DOUBLE) * tw)
       |             * 1000000 + 0.5) / 1000000.0 AS err_rate
       |FROM e, tw
       |ORDER BY rk""".stripMargin
  }

  // ---------------------------------------------------------------- x309

  /** Signature width for the weighted SimHash (x12's width — a 16-bit
    * prototype bucketed so coarsely that sf0.1 emitted 170k verified
    * pairs; 32 bits restores x12-class candidate selectivity). */
  private val WSimBits = 32

  /** x309: IDF-weighted SimHash near-dup candidates — the production
    * refinement of x12's unweighted variant: every token votes on each
    * signature bit with a RARITY weight (w = max(1, 25 − ⌊log₂ df⌋ − 1),
    * halving per doubling of document frequency — the integer-exact
    * stand-in for ⌈idf⌉, computed identically in both engines as
    * `length(bin(df))`, no libm), so boilerplate tokens can no longer
    * flip bits away from the distinguishing content — the classic
    * failure mode of unweighted SimHash on templated corpora. Same
    * bucket-join + exact Jaccard-verify tail as x12 (shared skew cap,
    * same ≥ 0.5 admission on the RAW ratio).
    *
    * Scale: df is one vocabulary aggregate (broadcast dimension); the
    * signature is 16 conditional sums over the exploded distinct-token
    * stream; candidates come from equality buckets — no pairwise stage
    * before the bucket join. */
  def weightedSimhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", graft.operators.TextAnalysis.tokenSet($"text").as("toks"))
      .localCheckpoint(true)
    val tok = toks.select($"doc_id", explode($"toks").as("t"))
    val dfw = tok.groupBy($"t").agg(count(lit(1)).as("df"))
      .withColumn("w", greatest(lit(1L), lit(25L) - length(bin($"df"))))
    val bitSums = (0 until WSimBits).map { p =>
      val nib = p / 4 + 1
      val shift = 3 - p % 4
      sum(when(expr(
        s"(shiftright(CAST(conv(substring(md5(t), $nib, 1), 16, 10) AS INT), $shift) & 1) = 1"),
        $"w").otherwise(-$"w")).as(s"s$p")
    }
    val sig = tok.join(broadcast(dfw.select($"t", $"w")), "t")
      .groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", concat(
        (0 until WSimBits).map(p => when(col(s"s$p") > 0, "1").otherwise("0")): _*)
        .as("wsim"))
    val base = toks.join(sig, "doc_id")
    val capped = graft.operators.Dedup.capBuckets(base, Seq("wsim"),
      graft.operators.Dedup.DefaultMaxBucket)
    val withN = capped.withColumn("nt", size($"toks"))
    val l = withN.select($"doc_id".as("a"), $"toks".as("ta"), $"wsim", $"nt".as("na"))
    val r = withN.select($"doc_id".as("b"), $"toks".as("tb"), $"wsim", $"nt".as("nb"))
    l.join(r,
        l("wsim") === r("wsim") && $"a" < $"b" &&
          $"na" * 2 >= $"nb" && $"nb" * 2 >= $"na")
      .select($"a", $"b", l("wsim").as("wsim"),
        QueryUtil.fence(graft.operators.Dedup.jaccardSorted($"ta", $"tb")).as("jraw"))
      .filter($"jraw" >= 0.5)
      .select($"a", $"b", $"wsim", QueryUtil.halfUp4($"jraw").as("jaccard"))
      .orderBy("a", "b")
  }

  private val weightedSimhashOracle = {
    val bitExprs = (0 until WSimBits).map { p =>
      val nib = p / 4 + 1
      val shift = 3 - p % 4
      s"""CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), $nib, 1)) - 1) >> $shift) & 1 = 1
         |              THEN w ELSE -w END) > 0 THEN '1' ELSE '0' END""".stripMargin
    }.mkString(" ||\n       ")
    s"""WITH t0 AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM t0),
       |dfw AS (SELECT t, greatest(1, 25 - length(bin(count(*)))) AS w
       |        FROM tok GROUP BY t),
       |sig AS (SELECT doc_id,
       |       $bitExprs AS wsim
       |      FROM tok JOIN dfw USING (t) GROUP BY doc_id),
       |s0 AS (SELECT t0.doc_id, toks, wsim FROM t0 JOIN sig ON sig.doc_id = t0.doc_id),
       |s AS (SELECT doc_id, toks, wsim
       |      FROM (SELECT *, count(*) OVER (PARTITION BY wsim) AS bn FROM s0)
       |      WHERE bn <= ${graft.operators.Dedup.DefaultMaxBucket}),
       |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.wsim AS wsim, x.toks AS ta, y.toks AS tb
       |      FROM s x JOIN s y ON x.wsim = y.wsim AND x.doc_id < y.doc_id
       |                        AND len(x.toks) * 2 >= len(y.toks)
       |                        AND len(y.toks) * 2 >= len(x.toks)),
       |j AS (SELECT a, b, wsim,
       |        CAST(len(list_filter(ta, s -> list_contains(tb, s))) AS DOUBLE)
       |              / (len(ta) + len(tb) - len(list_filter(ta, s -> list_contains(tb, s)))) AS jraw
       |      FROM p)
       |SELECT a, b, wsim, floor(jraw * 10000 + 0.5) / 10000.0 AS jaccard FROM j
       |WHERE jraw >= 0.5
       |ORDER BY a, b""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x29_sorted_neighborhood",
      "sorted-neighborhood blocking (merge/purge): per-lang sort-rank window W=3, exact-integer Jaccard>=0.8 gate",
      sortedNeighborhood, Some(sortedNeighborhoodOracle)),
    QueryDef("x27_soft_dedup", "soft dedup: 1/cluster-size training weights over near-dup components (X2)", softDedup, Some(softDedupOracle)),
    QueryDef("x25_containment", "asymmetric containment near-dups (excerpt detection), integer threshold (X2)", containment, Some(containmentOracle)),
    QueryDef("x26_lsh_recall_audit",
      "recall/precision of the MinHash-LSH path vs the exact prefix-filter join, in-engine (X2)",
      lshRecallAudit, Some(lshRecallOracle)),
    QueryDef("x19_triplet_mining", "contrastive (anchor, positive, negative) triplets from the near-dup graph (X2)", tripletMining, Some(tripletOracle)),
    QueryDef("x18_setjoin_prefix", "EXACT shingle-set similarity join via rarest-first prefix filtering (X2)", setJoinPrefix, Some(setJoinOracle)),
    QueryDef("x17_incremental_neardup", "corpus-vs-new-batch admission gate: exact + MinHash near-dup verdicts (X2)", incrementalNearDup, Some(incrementalOracle)),
    QueryDef("x10_exact_dedup", "exact content-hash dedup, deterministic survivor (X1)", exactDedup, Some(exactOracle)),
    QueryDef("x11_minhash_lsh", "MinHash+LSH near-dup pairs, Jaccard-verified (X2)", minhashLsh, Some(minhashOracle)),
    QueryDef("x12_simhash", "32-bit SimHash bucket near-dups (X2)", simhash, Some(simhashOracle)),
    QueryDef("x13_ngram_jaccard", "char-trigram Jaccard near-dups, LSH-blocked (X2)", ngramJaccard, Some(ngramOracle)),
    QueryDef("x14_dedup_clusters", "connected-component dedup groups over near-dup pairs (X2)", dedupClusters, Some(clustersOracle)),
    QueryDef("x101_dup_stats", "per-source duplication inflation report over the near-dup clusters (X2)", dupStats, Some(dupStatsOracle)),
    QueryDef("x15_semantic_dedup", "SemDeDup embedding dedup: trained k-means clusters, in-cluster cosine survivors (X2)", semanticDedup, Some(semanticOracle)),
    QueryDef("x122_cdc_chunks",
      "content-defined chunking: hash-boundary cuts, per-doc chunk stats + cross-corpus dup-chunk mass (storage dedup primitive)",
      cdcChunks, Some(cdcChunksOracle)),
    QueryDef("x135_dup_ngram_mass",
      "duplicated 8-gram mass per document (Lee et al. span-dedup measurement) with the raw-fraction keep gate",
      dupNgramMass, Some(dupNgramMassOracle)),
    QueryDef("x136_survivor_quality",
      "quality-aware survivor selection per near-dup cluster: argmax-quality member vs the naive min-id canonical, with measured gain",
      survivorQuality, Some(survivorQualityOracle)),
    QueryDef("x158_boilerplate_dedup",
      "C4-style boilerplate span removal: cross-doc shared 8-token spans removed EVERYWHERE, per-doc rebuild audit",
      boilerplateDedup, Some(boilerplateDedupOracle)),
    QueryDef("x173_linkage_weights",
      "Fellegi-Sunter m/u estimation over blocked candidates: per-field LLR weights learned from the exact-Jaccard labels",
      linkageWeights, Some(linkageWeightsOracle)),
    QueryDef("x179_incremental_components",
      "incremental near-dup cluster maintenance: stored labels + delta edges == full transitive-closure recompute",
      incrementalComponents, Some(incrementalComponentsOracle)),
    QueryDef("x180_cluster_churn",
      "cluster-churn audit of the x179 delta fold: relabeled docs, cluster merges, coarsening invariants",
      clusterChurn, Some(clusterChurnOracle)),
    QueryDef("x185_bcubed_eval",
      "B-cubed precision/recall/F1 of the LSH near-dup clustering vs exact-duplicate truth classes",
      bcubedEval, Some(bcubedOracle)),
    QueryDef("x191_lsh_scurve",
      "LSH S-curve calibration: constructed-overlap probes per Jaccard decile vs 1-(1-s^3)^4 theory",
      lshScurve, Some(scurveOracle)),
    QueryDef("x193_source_dup_matrix",
      "cross-source duplication matrix: near-dup pair mass per unordered source pair (which feeds copy which)",
      crossSourceDupMatrix, Some(crossSourceOracle)),
    QueryDef("x237_span_dedup",
      "exact substring-span removal (Lee et al. at G=8): duplicated-gram islands merged to minimal runs, per-doc token-mass audit + retained-text md5",
      spanDedup, Some(spanDedupOracle)),
    QueryDef("x279_soundex_blocking",
      "phonetic blocking: builtin soundex pinned against a from-the-spec SQL oracle",
      soundexBlocking, Some(soundexBlockingOracle)),
    QueryDef("x307_lsh_band_planner",
      "LSH band planner: exact-rational S-curve x measured pair-similarity histogram ranks (bands, rows) configs",
      lshBandPlanner, Some(lshBandPlannerOracle)),
    QueryDef("x309_weighted_simhash",
      "IDF-weighted SimHash near-dup candidates: rarity-weighted bit votes (integer log2 weights), Jaccard-verified",
      weightedSimhash, Some(weightedSimhashOracle)))
}
