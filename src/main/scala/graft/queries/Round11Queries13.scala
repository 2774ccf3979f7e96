package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 thirteenth tier: three analytics staples from the
  * reference's marketing-warehouse domain — a CLAMPED running balance
  * where the sequential recurrence `b_t = max(0, b_{t-1} + x_t)` is
  * evaluated distributed via its prefix-sum closed form and PROVEN
  * against a genuinely recursive oracle, the classic cohort-retention
  * triangle, and the Murphy decomposition of the Brier score
  * (reliability / resolution / uncertainty) that completes the x166
  * calibration audit.
  */
object Round11Queries13 {

  /** Fixed-point scale for cross-bin Brier terms (order-free sums). */
  private val BrScale = "1000000000000.0" // 1e12

  // ---------------------------------------------------------------- x273

  /** x273: clamped running balance — per supplier nation, daily net
    * stock flow (shipments deplete, returns restock — net-negative, so
    * the floor BINDS: most days are stockouts and the clamp path is
    * genuinely exercised, not a no-op) with the floor-at-zero recurrence
    * `b_t = max(0, b_{t-1} + x_t)`. A naive evaluation is sequential;
    * the closed form `b_t = S_t − min(0, min_{j≤t} S_j)` (prefix sums +
    * running min) turns it into two windows — the distributed-systems
    * trick that makes inventory/credit-ledger semantics scale. The
    * ORACLE side deliberately runs the RECURRENCE itself (a recursive
    * CTE stepping day by day), so the closed form is proven equal to
    * the sequential definition over every trajectory, compressed per
    * nation into final balance, zero-stockout-day count, and peak.
    *
    * Scale: one group-by to daily flows, two per-key windows — O(n log
    * n) partitioned, no sequential dependency; the oracle's recursion
    * is the semantics, not the implementation. */
  def clampedBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flows = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .select($"s_nationkey".cast("long").as("nation"),
        to_date($"l_shipdate").as("day"),
        when($"l_returnflag" === "R", $"l_quantity").otherwise(-$"l_quantity")
          .cast("long").as("q"))
      .groupBy($"nation", $"day").agg(sum($"q").as("delta"))
      .localCheckpoint(true)
    val w = Window.partitionBy($"nation").orderBy($"day")
      .rowsBetween(Long.MinValue, 0)
    val traj = flows
      .withColumn("s", sum($"delta").over(w))
      .withColumn("m", least(lit(0L), min($"s").over(w)))
      .withColumn("b", $"s" - $"m")
    traj.groupBy($"nation")
      .agg(count(lit(1)).as("n_days"),
        max_by($"b", $"day").as("final_bal"),
        sum(when($"b" === 0L, 1L).otherwise(0L)).as("n_zero_days"),
        max($"b").as("max_bal"))
      .orderBy($"nation")
  }

  private val clampedBalanceOracle =
    """WITH RECURSIVE flows AS MATERIALIZED (
      |  SELECT CAST(s.s_nationkey AS BIGINT) AS nation,
      |         CAST(l_shipdate AS DATE) AS day,
      |         CAST(sum(CASE WHEN l_returnflag = 'R'
      |                       THEN CAST(l_quantity AS BIGINT)
      |                       ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT)
      |           AS delta
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |deltas AS MATERIALIZED (
      |  SELECT nation, delta,
      |         CAST(row_number() OVER (PARTITION BY nation ORDER BY day)
      |              AS BIGINT) AS r
      |  FROM flows),
      |rec AS (
      |  SELECT nation, CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS bal,
      |         CAST(0 AS BIGINT) AS zeros, CAST(0 AS BIGINT) AS mx
      |  FROM (SELECT DISTINCT nation FROM deltas)
      |  UNION ALL
      |  SELECT b.nation, d.r, greatest(0, b.bal + d.delta),
      |         b.zeros + CASE WHEN greatest(0, b.bal + d.delta) = 0
      |                        THEN 1 ELSE 0 END,
      |         greatest(b.mx, greatest(0, b.bal + d.delta))
      |  FROM rec b JOIN deltas d ON d.nation = b.nation AND d.r = b.r + 1),
      |fin AS (SELECT nation, max(r) AS rmax FROM rec GROUP BY nation)
      |SELECT r.nation, r.r AS n_days, r.bal AS final_bal,
      |       r.zeros AS n_zero_days, r.mx AS max_bal
      |FROM rec r JOIN fin f ON f.nation = r.nation AND f.rmax = r.r
      |ORDER BY r.nation""".stripMargin

  // ---------------------------------------------------------------- x274

  /** x274: cohort retention triangle — users grouped by first-activity
    * week, tracked for distinct-active presence in each subsequent week
    * (the marketing-warehouse readout the reference's lead-activity
    * table feeds). Week indexing is exact integer day-arithmetic from a
    * fixed epoch; rates are ratios of exact distinct counts.
    *
    * Scale: one min-aggregate per user, one (user, week) distinct, one
    * broadcast join of the user→cohort dim — the triangle itself is
    * O(weeks²) rows. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val act = Tables.events(spark, dir)
      .select($"user_id".as("u"),
        (datediff(to_date($"ts"), lit(java.sql.Date.valueOf("2024-01-01")))
          .cast("long")).as("d"))
      .select($"u", expr("d DIV 7").as("wk"))
      .distinct()
      .localCheckpoint(true)
    val cohort = act.groupBy($"u").agg(min($"wk").as("cw"))
    val csize = cohort.groupBy($"cw").agg(count(lit(1)).as("cohort_size"))
    act.join(cohort, "u")
      .groupBy($"cw", ($"wk" - $"cw").as("age"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(csize), "cw")
      .select($"cw".as("cohort_week"), $"age", $"n_active", $"cohort_size",
        QueryUtil.halfUp4($"n_active".cast("double")
          / $"cohort_size".cast("double")).as("retention"))
      .orderBy($"cohort_week", $"age")
  }

  private val cohortRetentionOracle =
    """WITH act AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS u,
      |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
      |  FROM events),
      |cohort AS (SELECT u, min(wk) AS cw FROM act GROUP BY u),
      |csize AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
      |          FROM cohort GROUP BY cw),
      |tri AS (
      |  SELECT c.cw, a.wk - c.cw AS age, CAST(count(*) AS BIGINT) AS n_active
      |  FROM act a JOIN cohort c ON c.u = a.u
      |  GROUP BY 1, 2)
      |SELECT t.cw AS cohort_week, t.age, t.n_active, s.cohort_size,
      |       floor(CAST(t.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
      |             * 10000 + 0.5) / 10000.0 AS retention
      |FROM tri t JOIN csize s ON s.cw = t.cw
      |ORDER BY cohort_week, age""".stripMargin

  // ---------------------------------------------------------------- x275

  /** x275: Murphy decomposition of the Brier score for the x99/x166
    * hashed quality classifier (forecast p = (score+1)/2 against the
    * length label): BS = reliability − resolution + uncertainty +
    * within-bin variance. The EXACT Brier score is a pure integer sum
    * (`(p_fp − 10⁴·y)²` per row); the three binned components quantize
    * each bin's term to 1e-12 fixed point BEFORE the cross-bin sum
    * (order-free), and the within-bin variance is emitted as the exact
    * remainder BS − (rel − res + unc) — the identity audits the whole
    * decomposition.
    *
    * Scale: x99's scorer is one token shuffle + a 64-row broadcast
    * model; the decomposition is a 10-row fold above it. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = CurationQueries.scoreDocs(Tables.documents(spark, dir))
      .join(Tables.documents(spark, dir).select($"doc_id", $"n_chars"), "doc_id")
      .select(
        // p in [0,1] fixed-point 1e4: (score_fp + 10000) / 2 (integer halves -> 5e3 units)
        ((floor($"score" * 10000 + lit(0.5)).cast("long") + 10000L)).as("p2"),
        ($"n_chars" >= 300).cast("long").as("y"))
      .withColumn("bin", least(expr("p2 * 10 DIV 20000"), lit(9L)))
    // exact Brier: p = p2/2e4; (p - y)^2 = (p2 - 2e4*y)^2 / 4e8
    val exact = scored.agg(
      count(lit(1)).as("n"), sum($"y").as("npos"),
      sum(($"p2" - lit(20000L) * $"y") * ($"p2" - lit(20000L) * $"y")).as("bs_num"))
    val bins = scored.groupBy($"bin")
      .agg(count(lit(1)).as("nk"), sum($"y").as("yk"), sum($"p2").as("p2k"))
    val terms = bins.crossJoin(broadcast(exact))
      .withColumn("pbar", $"p2k".cast("double") / ($"nk".cast("double") * 20000.0))
      .withColumn("ybark", $"yk".cast("double") / $"nk".cast("double"))
      .withColumn("ybar", $"npos".cast("double") / $"n".cast("double"))
      .withColumn("rel_q", floor($"nk".cast("double")
        * ($"pbar" - $"ybark") * ($"pbar" - $"ybark")
        * lit(BrScale.toDouble) + 0.5).cast("long"))
      .withColumn("res_q", floor($"nk".cast("double")
        * ($"ybark" - $"ybar") * ($"ybark" - $"ybar")
        * lit(BrScale.toDouble) + 0.5).cast("long"))
    terms.groupBy()
      .agg(max($"n").as("n"), max($"npos").as("npos"), max($"bs_num").as("bs_num"),
        count(lit(1)).as("n_bins"),
        sum($"rel_q").as("rel_sum"), sum($"res_q").as("res_sum"))
      .select($"n", $"npos", $"n_bins", $"bs_num",
        QueryUtil.halfUp($"bs_num".cast("double")
          / ($"n".cast("double") * 400000000.0), 6).as("brier"),
        QueryUtil.halfUp($"rel_sum".cast("double")
          / (lit(BrScale.toDouble) * $"n".cast("double")), 6).as("reliability"),
        QueryUtil.halfUp($"res_sum".cast("double")
          / (lit(BrScale.toDouble) * $"n".cast("double")), 6).as("resolution"),
        QueryUtil.halfUp(($"npos".cast("double") / $"n".cast("double"))
          * (lit(1.0) - $"npos".cast("double") / $"n".cast("double")), 6)
          .as("uncertainty"),
        QueryUtil.halfUp($"bs_num".cast("double")
          / ($"n".cast("double") * 400000000.0)
          - $"rel_sum".cast("double") / (lit(BrScale.toDouble) * $"n".cast("double"))
          + $"res_sum".cast("double") / (lit(BrScale.toDouble) * $"n".cast("double"))
          - ($"npos".cast("double") / $"n".cast("double"))
          * (lit(1.0) - $"npos".cast("double") / $"n".cast("double")), 6)
          .as("within_bin_var"))
  }

  private val brierDecompositionOracle = {
    val nb = 64
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(${QueryUtil.md5IntSql("concat_ws('|', 'qc', tok)", 4)} % $nb AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket,
       |        CAST(${QueryUtil.md5IntSql("concat_ws('|', 'qw', CAST(range AS VARCHAR))", 4)} % 2001 - 1000 AS BIGINT) AS w
       |      FROM range($nb)),
       |sc AS (SELECT doc_id,
       |         CAST(floor((floor((CAST(sum(w) AS DOUBLE)
       |                / (CAST(count(*) AS DOUBLE) * 1000.0)) * 10000 + 0.5) / 10000.0)
       |                * 10000 + 0.5) AS BIGINT) AS score_fp
       |       FROM tok JOIN w USING (bucket)
       |       GROUP BY doc_id),
       |scored AS MATERIALIZED (
       |  SELECT sc.score_fp + 10000 AS p2,
       |         CAST(d.n_chars >= 300 AS BIGINT) AS y,
       |         least((sc.score_fp + 10000) * 10 // 20000, 9) AS bin
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS npos,
       |         CAST(sum((p2 - 20000 * y) * (p2 - 20000 * y)) AS BIGINT) AS bs_num
       |  FROM scored),
       |bins AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS nk, CAST(sum(y) AS BIGINT) AS yk,
       |         CAST(sum(p2) AS BIGINT) AS p2k
       |  FROM scored GROUP BY bin),
       |terms AS (
       |  SELECT b.*, ex.n, ex.npos, ex.bs_num,
       |    CAST(floor(CAST(nk AS DOUBLE)
       |      * (CAST(p2k AS DOUBLE) / (CAST(nk AS DOUBLE) * 20000.0)
       |         - CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE))
       |      * (CAST(p2k AS DOUBLE) / (CAST(nk AS DOUBLE) * 20000.0)
       |         - CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE))
       |      * $BrScale + 0.5) AS BIGINT) AS rel_q,
       |    CAST(floor(CAST(nk AS DOUBLE)
       |      * (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)
       |         - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)
       |         - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
       |      * $BrScale + 0.5) AS BIGINT) AS res_q
       |  FROM bins b, ex)
       |SELECT max(n) AS n, max(npos) AS npos,
       |       CAST(count(*) AS BIGINT) AS n_bins, max(bs_num) AS bs_num,
       |       floor(CAST(max(bs_num) AS DOUBLE)
       |             / (CAST(max(n) AS DOUBLE) * 400000000.0)
       |             * 1000000 + 0.5) / 1000000.0 AS brier,
       |       floor(CAST(sum(rel_q) AS DOUBLE)
       |             / ($BrScale * CAST(max(n) AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS reliability,
       |       floor(CAST(sum(res_q) AS DOUBLE)
       |             / ($BrScale * CAST(max(n) AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS resolution,
       |       floor((CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE))
       |             * (1.0 - CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE))
       |             * 1000000 + 0.5) / 1000000.0 AS uncertainty,
       |       floor((CAST(max(bs_num) AS DOUBLE)
       |              / (CAST(max(n) AS DOUBLE) * 400000000.0)
       |              - CAST(sum(rel_q) AS DOUBLE) / ($BrScale * CAST(max(n) AS DOUBLE))
       |              + CAST(sum(res_q) AS DOUBLE) / ($BrScale * CAST(max(n) AS DOUBLE))
       |              - (CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE))
       |                * (1.0 - CAST(max(npos) AS DOUBLE) / CAST(max(n) AS DOUBLE)))
       |             * 1000000 + 0.5) / 1000000.0 AS within_bin_var
       |FROM terms""".stripMargin
  }

  // ---------------------------------------------------------------- defs

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x273_clamped_balance",
      "floor-at-zero running balance: prefix-sum closed form vs the recursive-CTE recurrence oracle",
      clampedBalance, Some(clampedBalanceOracle)),
    QueryDef("x274_cohort_retention",
      "weekly cohort retention triangle over first-activity cohorts",
      cohortRetention, Some(cohortRetentionOracle)),
    QueryDef("x275_brier_decomposition",
      "Murphy Brier decomposition (reliability/resolution/uncertainty) with exact-identity audit",
      brierDecomposition, Some(brierDecompositionOracle)))
}
