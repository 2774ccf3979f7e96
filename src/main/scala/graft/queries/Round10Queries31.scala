package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-10 thirty-first tier: corpus-provenance analytics — the
  * cross-source duplication matrix a data-acquisition team reads before
  * renewing feeds (x193) and exact Neyman-allocation stratified
  * sampling for eval-set construction (x194). */
object Round10Queries31 {

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
    val pairs = DedupQueries.minhashLsh(spark, dir).select($"a", $"b")
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
    DedupQueries.minhashCtes("WITH") +
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

  // ---------------------------------------------------------------- x194

  private val SampleBudget = 100L


  /** x194: exact Neyman-allocation stratified sample — the
    * variance-optimal way to build an eval set under a fixed labeling
    * budget. Per language stratum: allocation mass N_h·σ_h computed as
    * isqrt(n·Σx² − (Σx)²) (all integer — the x174 ±1-corrected isqrt,
    * no libm), the 100-unit budget apportioned by x155's
    * largest-remainder method (sums EXACTLY to the budget), and the
    * sample DRAWN deterministically: rank documents within each stratum
    * by key hash and keep the alloc_h smallest ranks — exact per-
    * stratum counts, unlike threshold sampling's binomial noise.
    * High-variance strata get proportionally more budget, which is the
    * point of Neyman over proportional allocation.
    *
    * Scale: stratum moments are one aggregate; the rank-draw is a
    * per-stratum window over hash order — at 100 TB replace with the
    * per-partition top-k of x192's aggregate (same contract: alloc_h
    * rows survive per stratum). */
  def neymanSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"lang",
      $"n_chars".cast("long").as("x"))
    val strata = docs.groupBy($"lang").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
      .select($"lang", $"n", $"sx",
        Round10Queries18.isqrt($"n" * $"sxx" - $"sx" * $"sx").as("mass"))
    val tot = strata.agg(sum($"mass").as("mm"))
    val wRem = Window.orderBy(expr(s"($SampleBudget * mass) % mm").desc, $"lang")
    val alloc = strata.crossJoin(broadcast(tot))
      .select($"lang", $"n", $"sx", $"mass",
        expr(s"($SampleBudget * mass) div mm").as("fl"),
        row_number().over(wRem).as("rr"))
      .crossJoin(broadcast(strata.crossJoin(broadcast(tot))
        .agg((lit(SampleBudget) - sum(expr(s"($SampleBudget * mass) div mm")))
          .as("extras"))))
      .select($"lang", $"n", $"sx", $"mass",
        ($"fl" + when($"rr" <= $"extras", 1L).otherwise(0L)).as("alloc"))
    val h = QueryUtil.mix31($"doc_id", 31L)
    val wRank = Window.partitionBy($"lang")
      .orderBy(pmod(h.bitwiseXOR(shiftright(h, 16)), lit(1000000L)), $"doc_id")
    val sampled = docs
      .withColumn("rk", row_number().over(wRank))
      .join(broadcast(alloc.select($"lang", $"alloc")), "lang")
      .filter($"rk" <= $"alloc")
      .groupBy($"lang").agg(count(lit(1)).as("n_sampled"), sum($"x").as("ssx"))
    alloc.join(sampled, Seq("lang"), "left")
      .select($"lang", $"n", $"mass", $"alloc",
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        expr("sx div n").as("pop_mean_chars"),
        expr("CASE WHEN coalesce(n_sampled, 0) = 0 THEN -1 ELSE ssx div n_sampled END")
          .as("samp_mean_chars"))
      .orderBy($"lang")
  }

  private lazy val neymanOracle = {
    val mixSql = "((doc_id * 7919 + 31) % 1048576 * 2654435761) % 2147483648"
    s"""WITH docs AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x FROM documents),
       |strata AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |                  CAST(sum(x) AS BIGINT) AS sx,
       |                  ${Round10Queries18.isqrtSql(
             "CAST(count(*) AS BIGINT) * CAST(sum(x * x) AS BIGINT)" +
               " - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT)")} AS mass
       |           FROM docs GROUP BY lang),
       |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS mm FROM strata),
       |fl AS (SELECT lang, n, sx, mass,
       |              ($SampleBudget * mass) // mm AS fl,
       |              row_number() OVER (ORDER BY ($SampleBudget * mass) % mm DESC,
       |                                          lang) AS rr
       |       FROM strata, tot),
       |ex AS (SELECT $SampleBudget - sum(fl) AS extras FROM fl),
       |alloc AS (SELECT lang, n, sx, mass,
       |                 fl + (CASE WHEN rr <= extras THEN 1 ELSE 0 END) AS alloc
       |          FROM fl, ex),
       |ranked AS (SELECT doc_id, lang, x,
       |             row_number() OVER (PARTITION BY lang
       |               ORDER BY xor(h3, h3 >> 16) % 1000000, doc_id) AS rk
       |           FROM (SELECT doc_id, lang, x,
       |                   (xor(h1, h1 >> 13) * 2246822519) % 2147483648 AS h3
       |                 FROM (SELECT doc_id, lang, x, $mixSql AS h1 FROM docs) a) b),
       |samp AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sampled,
       |                CAST(sum(r.x) AS BIGINT) AS ssx
       |         FROM ranked r JOIN alloc al ON al.lang = r.lang
       |         WHERE r.rk <= al.alloc GROUP BY r.lang)
       |SELECT al.lang, n, CAST(mass AS BIGINT) AS mass, CAST(alloc AS BIGINT) AS alloc,
       |       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
       |       CAST(sx // n AS BIGINT) AS pop_mean_chars,
       |       CAST(CASE WHEN COALESCE(s.n_sampled, 0) = 0 THEN -1
       |                 ELSE s.ssx // s.n_sampled END AS BIGINT) AS samp_mean_chars
       |FROM alloc al LEFT JOIN samp s ON s.lang = al.lang
       |ORDER BY al.lang""".stripMargin
  }

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x193_source_dup_matrix",
      "cross-source duplication matrix: near-dup pair mass per unordered source pair (which feeds copy which)",
      crossSourceDupMatrix, Some(crossSourceOracle)),
    QueryDef("x194_neyman_sample",
      "exact Neyman-allocation stratified sampling: isqrt variance mass, largest-remainder budget, deterministic rank draw",
      neymanSample, Some(neymanOracle)))
}
