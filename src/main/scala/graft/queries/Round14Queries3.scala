package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14 wave 3: residual (two-level) product quantization — the
  * recall fix for the trained-PQ soft spot (r13 verdict "Next round #5":
  * x39 recall@3 0.583→0.600 at sf0.1; a user of the PQ path wants ≥0.8).
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
object Round14Queries3 {

  /** Lloyd iterations per level (DuckDB sweep, sf0.1 recall@3:
    * 1/1 → 0.783, 2/1 → 0.833, 3/2 → 0.917). */
  private val L1Iters = 3
  private val L2Iters = 2

  /** Level-2 seed rows (residual vectors of these corpus ids) — primes
    * disjoint from x38's level-1 seeds, present at every SF. */
  private val ResSeeds = Seq(7L, 37L, 67L, 97L, 127L, 157L, 191L, 227L,
    257L, 283L, 313L, 347L, 379L, 409L, 439L, 467L)

  private val M = SimilarityQueries.PqM
  private val SubD = SimilarityQueries.PqSubD
  private val Rerank = SimilarityQueries.PqRerank

  /** x363: residual-PQ top-3 with exact rerank and an in-query recall
    * audit column. Scale: codebooks (2 × M·K rows) and query tables
    * broadcast; the residual frame is one narrow exchange reused by the
    * level-2 training loop (checkpointed — the loop re-references it);
    * stored codes are 16 bytes/vector, the ADC scan is two integer table
    * lookups per subspace.
    *
    * Rerank depth is CORPUS-PROPORTIONAL — max(Rerank, corpus/32) via a
    * broadcast scalar, oracle re-derived (r15 verdict #2): a rerank-depth
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
    val (emb, subArr, sub0, cb0) = SimilarityQueries.pqParts(spark, dir)
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
  private def slice(v: String, tbl: String) =
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
       |          CAST(floor(${dotS(slice("q.embedding", cb), s"$cb.cv")} * 1000000.0 + 0.5) AS BIGINT) AS ip1_fp
       |        FROM embeddings q CROSS JOIN $cb WHERE q.vec_id % 100 = 0),
       |qdt2 AS (SELECT q.vec_id AS q_id, $rcb.s, $rcb.c AS c2,
       |          CAST(floor(${dotS(slice("q.embedding", rcb), s"$rcb.cv")} * 1000000.0 + 0.5) AS BIGINT) AS ip2_fp
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

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x363_pq_residual_topk",
      "two-level residual PQ: both codebooks Lloyd-trained + oracle-rederived, ADC over 2 integer tables, corpus-proportional rerank max(64, n/32), in-query recall audit (recall@3 0.917 at sf0.1, >=0.95 held at 10x/30x corpus) (X3)",
      pqResidualTopK, Some(pqResidualOracle)))
}
