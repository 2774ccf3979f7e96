package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-10 twenty-seventh tier: extrinsic clustering evaluation
  * (B-cubed over the production dedup clustering) and target-
  * distribution resampling (the data-mixing knob that reshapes a
  * corpus toward a reference distribution). */
object Round10Queries27 {


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
    val pairs = DedupQueries.minhashLsh(spark, dir).select($"a", $"b")
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
    DedupQueries.minhashCtes("WITH RECURSIVE") +
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

  // ---------------------------------------------------------------- x188

  /** x188: target-distribution resampling — reshape the corpus's length
    * distribution toward uniform over four length buckets by per-bucket
    * deterministic rejection. Acceptance ratio r_b = min(1, target_b /
    * observed_b) in 1e-6 fixed point; a document survives when its hash
    * residue falls under its bucket's ratio. This is the "match the
    * reference distribution" mixing knob (DoReMi/DSIR-style reweighting,
    * realized as hard subsampling): over-represented buckets are thinned
    * toward the target, under-represented ones pass through whole (a
    * sampler cannot create mass — visible in the output as ratio_fp
    * capped at 1e6 with share_after below target).
    *
    * Scale: pass 1 is a bucket histogram (4 groups); pass 2 re-scans
    * with the broadcast 4-row ratio table and filters map-side — no
    * shuffle of the corpus itself, deterministic without any coordination
    * (each row's fate is a pure function of its id). */
  def targetResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id",
      when($"n_chars" < 150, 0L).when($"n_chars" < 300, 1L)
        .when($"n_chars" < 450, 2L).otherwise(3L).as("bucket"))
    val before = docs.groupBy($"bucket").agg(count(lit(1)).as("n_before"))
    val total = before.agg(sum($"n_before").as("nn"))
    val ratios = before.crossJoin(broadcast(total))
      .select($"bucket", $"n_before", $"nn",
        least(lit(1000000L), expr("(nn * 1000000) div (4 * n_before)")).as("ratio_fp"))
    val h = QueryUtil.mix31($"doc_id", 7L)
    val kept = docs
      .select($"bucket", pmod(h.bitwiseXOR(shiftright(h, 16)), lit(1000000L)).as("u"))
      .join(broadcast(ratios.select($"bucket", $"ratio_fp")), "bucket")
      .filter($"u" < $"ratio_fp")
      .groupBy($"bucket").agg(count(lit(1)).as("n_after"))
    val keptTotal = kept.agg(sum($"n_after").as("ta"))
    ratios.join(kept, Seq("bucket"), "left")
      .select($"bucket", $"n_before", $"ratio_fp",
        coalesce($"n_after", lit(0L)).as("n_after"), $"nn")
      .crossJoin(broadcast(keptTotal))
      .select($"bucket", $"n_before", $"ratio_fp", $"n_after",
        expr("(n_before * 1000000) div nn").as("share_before_fp"),
        expr("(n_after * 1000000) div ta").as("share_after_fp"))
      .orderBy($"bucket")
  }

  private val resampleOracle =
    """WITH docs AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1
      |         WHEN n_chars < 450 THEN 2 ELSE 3 END AS bucket
      |  FROM documents),
      |before0 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_before
      |            FROM docs GROUP BY bucket),
      |tot AS (SELECT CAST(sum(n_before) AS BIGINT) AS nn FROM before0),
      |ratios AS (SELECT bucket, n_before, nn,
      |             least(1000000, (nn * 1000000) // (4 * n_before)) AS ratio_fp
      |           FROM before0, tot),
      |mixed AS (
      |  SELECT bucket, xor(h3, h3 >> 16) % 1000000 AS u FROM (
      |    SELECT bucket, (xor(h1, h1 >> 13) * 2246822519) % 2147483648 AS h3 FROM (
      |      SELECT bucket, ((doc_id * 7919 + 7) % 1048576 * 2654435761)
      |                       % 2147483648 AS h1
      |      FROM docs) a) b),
      |kept AS (SELECT m.bucket, CAST(count(*) AS BIGINT) AS n_after
      |         FROM mixed m JOIN ratios r ON m.bucket = r.bucket
      |         WHERE m.u < r.ratio_fp GROUP BY m.bucket),
      |joined AS (SELECT r.bucket, r.n_before, CAST(r.ratio_fp AS BIGINT) AS ratio_fp,
      |                  CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after, r.nn
      |           FROM ratios r LEFT JOIN kept k ON r.bucket = k.bucket)
      |SELECT bucket, n_before, ratio_fp, n_after,
      |       (n_before * 1000000) // nn AS share_before_fp,
      |       CAST((n_after * 1000000) // (SELECT sum(n_after) FROM joined) AS BIGINT)
      |         AS share_after_fp
      |FROM joined ORDER BY bucket""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x185_bcubed_eval",
      "B-cubed precision/recall/F1 of the LSH near-dup clustering vs exact-duplicate truth classes",
      bcubedEval, Some(bcubedOracle)),
    QueryDef("x188_target_resample",
      "target-distribution rejection resampling: per-bucket deterministic thinning toward a uniform length mix",
      targetResample, Some(resampleOracle)))
}
