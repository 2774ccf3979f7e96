package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Graph
import graft.queries.QueryUtil.halfUp4
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the trade network (north-star extension): weighted
  * PageRank on the customer-nation → supplier-nation graph. The heavy,
  * scale-relevant stage is the distributed edge aggregation (lineitem ⋈
  * orders ⋈ customer ⋈ supplier — the full fact table read); the fixpoint
  * iterations then run on the aggregated graph. Exact-integer fixed-point
  * arithmetic end to end (see [[graft.operators.Graph]]) — the oracle
  * unrolls the same three iterations in CTEs with `//` integer division
  * and matches bit for bit. */
object GraphQueries {

  private val Iters = 3

  /** x63: PageRank centrality of each nation in the (symmetrized) trade
    * graph. Edge (a,b) weight = number of lineitems shipped between a
    * customer in nation a and a supplier in nation b, either direction;
    * self-trade excluded. Symmetrization guarantees every node in the edge
    * set has out-edges (no dangling mass on this fixture — the operator
    * still handles it). */
  def tradePageRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trade = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select($"c_nationkey".as("cn"), $"s_nationkey".as("sn"))
    val edges = trade.select($"cn".as("src"), $"sn".as("dst"))
      .unionByName(trade.select($"sn".as("src"), $"cn".as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    Graph.pageRank(edges, Iters)
      .join(broadcast(Tables.nation(spark, dir)), $"node" === $"n_nationkey")
      .select($"node".cast("long").as("nationkey"), $"n_name",
        $"rank_fp", ($"rank_fp" / lit(1e9)).as("rank"))
      .orderBy($"rank_fp".desc, $"nationkey")
  }

  /** Oracle: identical integer trajectory, iterations unrolled as CTEs.
    * Sums are cast back to BIGINT (DuckDB widens BIGINT sums to HUGEINT).
    * The fixture graph has no dangling nodes (symmetrized edges), so the
    * uniform dangling share the operator adds is exactly 0 here and the
    * oracle omits the term. MATERIALIZED hints matter: DuckDB inlines
    * CTEs by default, and the unrolled iteration chain references the
    * edge CTEs ~20× transitively — inlined, the 4-way trade join would
    * re-execute each time (minutes + tens of GB at sf0.1; 7 s
    * materialized). */
  private val pageRankOracle: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (SELECT n.node,
         |  (SELECT base FROM params) + COALESCE(s.inc, 0) AS rank_fp
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, CAST(sum((85 * r.rank_fp * e.w) // (100 * e.outw)) AS BIGINT) AS inc
         |    FROM e JOIN $prev r ON e.src = r.node
         |    GROUP BY e.dst) s ON n.node = s.dst)""".stripMargin
    s"""WITH dir0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey),
       |sym AS (SELECT cn AS src, sn AS dst FROM dir0 UNION ALL SELECT sn, cn FROM dir0),
       |e0 AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM sym GROUP BY 1, 2),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e0 GROUP BY 1),
       |e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w, ow.outw FROM e0 JOIN ow ON e0.src = ow.src),
       |n AS MATERIALIZED (SELECT DISTINCT src AS node FROM e0),
       |params AS MATERIALIZED (SELECT count(*) AS nn, 1000000000 // count(*) AS init,
       |                  150000000 // count(*) AS base FROM n),
       |r0 AS (SELECT node, (SELECT init FROM params) AS rank_fp FROM n),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT CAST(t.node AS BIGINT) AS nationkey, nat.n_name, t.rank_fp,
       |       t.rank_fp / 1000000000.0 AS rank
       |FROM r3 t JOIN nation nat ON t.node = nat.n_nationkey
       |ORDER BY t.rank_fp DESC, nationkey""".stripMargin
  }

  /** x64: triangle counting + local clustering coefficients over the
    * (undirected, unweighted) trade graph. The distributed shape is the
    * standard ordered two-path join: canonical edges (a < b), wedges
    * a<b<c from edges⋈edges on the middle node, closed by a third
    * equi-join on (a, c) — each triangle found exactly once, no node ever
    * enumerates its full neighborhood in memory. Coefficient
    * 2·T/(deg·(deg−1)) is an exact int/int rational — identical doubles
    * in both engines, no rounding needed. Scale: two hash equi-joins on
    * high-cardinality keys; skewed hubs are ordinary join skew (the a<b<c
    * orientation already halves the heaviest wedge fan-out). */
  def tradeTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trade = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select(least($"c_nationkey", $"s_nationkey").as("a"),
        greatest($"c_nationkey", $"s_nationkey").as("b"))
      .distinct()
      .localCheckpoint(true) // referenced 4x below (deg, both wedge sides, closure)
    val deg = trade.select($"a".as("node")).unionByName(trade.select($"b".as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val wedges = trade.select($"a", $"b")
      .join(trade.select($"a".as("bj"), $"b".as("c")), $"b" === $"bj")
      .select($"a", $"b", $"c")
    val tris = wedges.join(trade.select($"a".as("ta"), $"b".as("tc")),
        $"a" === $"ta" && $"c" === $"tc")
      .select($"a", $"b", $"c")
    val perNode = tris.select(explode(array($"a", $"b", $"c")).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select($"node".cast("long").as("nationkey"), $"degree",
        coalesce($"triangles", lit(0L)).as("triangles"),
        when($"degree" > 1, lit(2.0) * coalesce($"triangles", lit(0L)) /
          ($"degree" * ($"degree" - 1)).cast("double"))
          .otherwise(lit(0.0)).as("coeff"))
      .orderBy("nationkey")
  }

  private val trianglesOracle =
    """WITH t0 AS MATERIALIZED (
      |  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
      |         greatest(c.c_nationkey, s.s_nationkey) AS b
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |deg AS (SELECT node, count(*) AS degree
      |        FROM (SELECT a AS node FROM t0 UNION ALL SELECT b FROM t0)
      |        GROUP BY node),
      |tri AS (SELECT e1.a, e1.b, e2.b AS c
      |        FROM t0 e1 JOIN t0 e2 ON e1.b = e2.a
      |        JOIN t0 e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (SELECT node, count(*) AS triangles
      |       FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |             UNION ALL SELECT c FROM tri)
      |       GROUP BY node)
      |SELECT CAST(deg.node AS BIGINT) AS nationkey, deg.degree,
      |       coalesce(pn.triangles, 0) AS triangles,
      |       CASE WHEN deg.degree > 1
      |            THEN 2.0 * coalesce(pn.triangles, 0) / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
      |            ELSE 0.0 END AS coeff
      |FROM deg LEFT JOIN pn ON deg.node = pn.node
      |ORDER BY nationkey""".stripMargin

  /** x65: multi-source BFS hop distance over the HEAVY-ROUTE trade graph —
    * edges kept only when their lineitem count is >= the global mean edge
    * weight (exact integer predicate `w * n_edges >= total_w`, no float
    * threshold), which leaves the strong trade routes and makes hop
    * distance non-trivial at every SF (the full trade graph is near-
    * complete). Sources = the nations of region 0; unreachable nations
    * are absent from the output in both engines. The oracle re-walks the
    * same bounded frontier with a recursive CTE and takes `min(hop)`. */
  /** The heavy-route trade graph shared by x65 and x68: symmetric
    * nation→nation edges kept when their lineitem count is >= the global
    * mean edge weight (exact integer predicate, no float threshold). */
  private def heavyTradeEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trade = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select($"c_nationkey".as("cn"), $"s_nationkey".as("sn"))
    val e0 = trade.select($"cn".as("src"), $"sn".as("dst"))
      .unionByName(trade.select($"sn".as("src"), $"cn".as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val tot = e0.agg(sum($"w").as("tw"), count(lit(1)).as("ne"))
    e0.crossJoin(broadcast(tot))
      .filter($"w" * $"ne" >= $"tw").select($"src", $"dst")
  }

  def tradeBfsHops(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val heavy = heavyTradeEdges(spark, dir)
    val sources = Tables.nation(spark, dir)
      .filter($"n_regionkey" === 0).select($"n_nationkey".as("node"))
    Graph.bfsHops(sources, heavy, maxHops = 30)
      .join(broadcast(Tables.nation(spark, dir)), $"node" === $"n_nationkey")
      .select($"node".cast("long").as("nationkey"), $"n_name", $"hop")
      .orderBy($"hop", $"nationkey")
  }

  private val bfsHopsOracle =
    """WITH RECURSIVE dir0 AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |sym AS (SELECT cn AS src, sn AS dst FROM dir0 UNION ALL SELECT sn, cn FROM dir0),
      |e0 AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM sym GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw, count(*) AS ne FROM e0),
      |e AS MATERIALIZED (SELECT src, dst FROM e0, tot WHERE w * ne >= tw),
      |walk(node, hop) AS (
      |  SELECT n_nationkey AS node, 0 AS hop FROM nation WHERE n_regionkey = 0
      |  UNION
      |  SELECT e.dst, wk.hop + 1 FROM walk wk JOIN e ON e.src = wk.node
      |  WHERE wk.hop < 30)
      |SELECT CAST(wk.node AS BIGINT) AS nationkey, nat.n_name,
      |       CAST(min(wk.hop) AS INT) AS hop
      |FROM walk wk JOIN nation nat ON wk.node = nat.n_nationkey
      |GROUP BY 1, 2
      |ORDER BY hop, nationkey""".stripMargin

  /** k and the oracle's unroll budget for x68. Peeling round counts are
    * data-dependent, which is exactly why k-core stayed spec-only until
    * round 8 — the unlock is that a peeling round is IDEMPOTENT once the
    * fixpoint is reached (pruning a graph whose nodes all have degree >= k
    * removes nothing), so the oracle can unroll MORE rounds than any SF
    * needs: Spark peels to its verified fixpoint, DuckDB always runs
    * [[KcoreRounds]] rounds, and they agree iff the true fixpoint arrives
    * within the budget (a graph needing more rounds would hash-mismatch —
    * the gate detects, never silently accepts). The peel stabilizes in 2
    * rounds at every SF (measured sf0.001/0.01/0.1) — the 8-round unroll
    * is a 4× margin. */
  private val KcoreK = 3
  private val KcoreRounds = 8

  /** x68: k-core decomposition over the heavy-route trade graph (x65's
    * edge set as an undirected simple graph) — the maximal subgraph where
    * every nation keeps >= k heavy trade partners; output is core
    * membership with the within-core degree. Scale: each peeling round is
    * one degree aggregation + two semi-joins on the (already tiny after
    * aggregation) edge list — the per-round plan recorded in PLANS.md. */
  def tradeKCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = heavyTradeEdges(spark, dir)
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
    Graph.kCore(und, KcoreK)
      .select($"node".cast("long").as("node"), $"degree")
      .orderBy("node")
  }

  private def kcoreRoundCtes: String = (1 to KcoreRounds).map { i =>
    val prev = s"kc${i - 1}"
    s"""kc$i AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM $prev e
       |  JOIN (SELECT src FROM $prev GROUP BY src HAVING count(*) >= $KcoreK) ks ON e.src = ks.src
       |  JOIN (SELECT src FROM $prev GROUP BY src HAVING count(*) >= $KcoreK) kd ON e.dst = kd.src)"""
      .stripMargin
  }.mkString(",\n")

  private val kcoreOracle =
    s"""WITH dir0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey),
       |sym AS (SELECT cn AS src, sn AS dst FROM dir0 UNION ALL SELECT sn, cn FROM dir0),
       |e0 AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM sym GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw, count(*) AS ne FROM e0),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e0, tot WHERE w * ne >= tw),
       |kc0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
       |                     UNION ALL SELECT b, a FROM und),
       |$kcoreRoundCtes
       |SELECT CAST(src AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM kc$KcoreRounds
       |GROUP BY src
       |ORDER BY node""".stripMargin

  /** x66: bipartite projection — the supplier co-supply graph: suppliers
    * joined by the parts they both ship, edge weight = shared part count,
    * plus co-supply Jaccard (shared / (|parts(a)| + |parts(b)| − shared),
    * an exact rational). The classic scale hazard of projections is the
    * hot-node blowup (a part with d suppliers emits d² pairs), so parts
    * with degree > 20 are dropped BEFORE pairing — the same
    * degenerate-bucket cap as the LSH families, mirrored in the oracle so
    * the pruning itself is verified. Scale (100 TB): distinct + degree
    * filter + one self-equi-join on the shared key, all hash shuffles;
    * the cap bounds per-key fan-out, so no AQE skew handling is needed. */
  def coSupplyProjection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.lineitem(spark, dir)
      .select($"l_partkey".as("pk"), $"l_suppkey".as("sk")).distinct()
      .localCheckpoint(true) // referenced 3x: degree cap, both pair sides
    val ok = ps.join(ps.groupBy($"pk").agg(count(lit(1)).as("d"))
        .filter($"d" <= 20).select($"pk"), "pk")
    val sdeg = ok.groupBy($"sk").agg(count(lit(1)).as("sd"))
    val pairs = ok.select($"pk", $"sk".as("s1"))
      .join(ok.select($"pk", $"sk".as("s2")), "pk")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(sdeg.select($"sk".as("s1"), $"sd".as("d1"))), "s1")
      .join(broadcast(sdeg.select($"sk".as("s2"), $"sd".as("d2"))), "s2")
      .select($"s1", $"s2", $"shared",
        halfUp4($"shared".cast("double") / ($"d1" + $"d2" - $"shared")).as("jaccard"))
      .orderBy($"shared".desc, $"s1", $"s2")
      .limit(30)
  }

  private val coSupplyOracle =
    """WITH ps AS MATERIALIZED (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |deg AS (SELECT pk, count(*) AS d FROM ps GROUP BY 1),
      |ok AS MATERIALIZED (SELECT ps.pk, ps.sk FROM ps JOIN deg ON ps.pk = deg.pk WHERE deg.d <= 20),
      |sdeg AS (SELECT sk, count(*) AS sd FROM ok GROUP BY 1),
      |pairs AS (
      |  SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared
      |  FROM ok a JOIN ok b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2)
      |SELECT p.s1, p.s2, p.shared,
      |       floor(CAST(p.shared AS DOUBLE) / (da.sd + db.sd - p.shared) * 10000 + 0.5) / 10000.0 AS jaccard
      |FROM pairs p
      |JOIN sdeg da ON p.s1 = da.sk
      |JOIN sdeg db ON p.s2 = db.sk
      |ORDER BY p.shared DESC, p.s1, p.s2
      |LIMIT 30""".stripMargin

  /** Oracle unroll budget for x69 — the x68 idempotence-margin trick:
    * Bellman-Ford relaxation at the fixpoint changes nothing, so the
    * oracle always runs [[SsspRounds]] rounds while Spark relaxes to its
    * detected fixpoint; they agree iff the true fixpoint arrives within
    * the budget (otherwise the hash gate fails — detected, never silently
    * accepted). The dense trade graph settles in ~3 rounds at every SF. */
  private val SsspRounds = 8

  /** x69: weighted single-source shortest paths (Bellman-Ford fixpoint)
    * from nation 0 over the full symmetric trade graph, edge length =
    * lineitem count on the route. Pure integer path costs — min/sum never
    * round, so the unrolled oracle matches bit for bit. Scale: the edge
    * aggregation is the same distributed 4-way join as x63; each
    * relaxation round is one keyed equi-join + min-aggregation on the
    * aggregated (tiny) graph. */
  def tradeSssp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trade = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select($"c_nationkey".as("cn"), $"s_nationkey".as("sn"))
    val edges = trade.select($"cn".as("src"), $"sn".as("dst"))
      .unionByName(trade.select($"sn".as("src"), $"cn".as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val sources = Tables.nation(spark, dir)
      .filter($"n_nationkey" === 0).select($"n_nationkey".as("node"))
    Graph.sssp(sources, edges, maxIter = SsspRounds)
      .join(broadcast(Tables.nation(spark, dir)), $"node" === $"n_nationkey")
      .select($"node".cast("long").as("nationkey"), $"n_name", $"d".as("dist"))
      .orderBy("nationkey")
  }

  private val ssspOracle: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT node, min(d) AS d FROM (
         |    SELECT node, d FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, r.d + e.w AS d
         |    FROM $prev r JOIN e0 e ON e.src = r.node)
         |  GROUP BY node)""".stripMargin
    val rounds = (1 to SsspRounds)
      .map(i => round(s"d${i - 1}", s"d$i")).mkString(",\n")
    s"""WITH dir0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey),
       |sym AS (SELECT cn AS src, sn AS dst FROM dir0 UNION ALL SELECT sn, cn FROM dir0),
       |e0 AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM sym GROUP BY 1, 2),
       |d0 AS (SELECT n_nationkey AS node, CAST(0 AS BIGINT) AS d
       |       FROM nation WHERE n_nationkey = 0),
       |$rounds
       |SELECT CAST(t.node AS BIGINT) AS nationkey, nat.n_name, t.d AS dist
       |FROM d$SsspRounds t JOIN nation nat ON t.node = nat.n_nationkey
       |ORDER BY nationkey""".stripMargin
  }

  /** HITS sweep budget (scores grow as (Σw)^(2·iters) — 2 sweeps stay
    * under HUGEINT/decimal(38,0) through ~SF100). */
  private val HitsIters = 2

  /** x77: HITS hubs & authorities over the DIRECTED trade graph
    * (customer-nation → supplier-nation, weight = lineitem count): hub
    * nations concentrate buying power toward authoritative supplier
    * nations. Unnormalized exact power iteration in decimal/HUGEINT (see
    * [[Graph.hits]]); scores are normalized ONCE at the end by the global
    * max — a single division of two bit-identical exact integers, so the
    * relative scores carry no accumulated float error. */
  def tradeHits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
    val scores = Graph.hits(edges, HitsIters)
    val mx = scores.agg(max($"auth").as("ma"), max($"hub").as("mh"))
    scores.crossJoin(broadcast(mx))
      .join(broadcast(Tables.nation(spark, dir)), $"node" === $"n_nationkey")
      .select($"node".cast("long").as("nationkey"), $"n_name",
        QueryUtil.halfUp($"auth".cast("double") / $"ma".cast("double"), 6)
          .as("auth_rel"),
        QueryUtil.halfUp($"hub".cast("double") / $"mh".cast("double"), 6)
          .as("hub_rel"))
      .orderBy("nationkey")
  }

  private val hitsOracle: String = {
    def half(scoreTbl: String, scoreCol: String, fromCol: String,
             toCol: String, cur: String, outCol: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT n.node, coalesce(s.v, CAST(0 AS HUGEINT)) AS $outCol
         |  FROM n LEFT JOIN (
         |    SELECT e.$toCol AS node, sum(e.w * r.$scoreCol) AS v
         |    FROM e0 e JOIN $scoreTbl r ON e.$fromCol = r.node
         |    GROUP BY e.$toCol) s ON n.node = s.node)""".stripMargin
    val sweeps = (1 to HitsIters).map { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      half(hPrev, "hub", "src", "dst", s"a$i", "auth") + ",\n" +
        half(s"a$i", "auth", "dst", "src", s"h$i", "hub")
    }.mkString(",\n")
    s"""WITH dir0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey),
       |e0 AS MATERIALIZED (SELECT cn AS src, sn AS dst, count(*) AS w
       |                    FROM dir0 GROUP BY 1, 2),
       |n AS MATERIALIZED (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
       |h0 AS (SELECT node, CAST(1 AS HUGEINT) AS hub FROM n),
       |$sweeps,
       |mx AS (SELECT max(auth) AS ma FROM a$HitsIters),
       |mh AS (SELECT max(hub) AS mh FROM h$HitsIters)
       |SELECT CAST(a.node AS BIGINT) AS nationkey, nat.n_name,
       |       floor((CAST(a.auth AS DOUBLE) / CAST(mx.ma AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS auth_rel,
       |       floor((CAST(h.hub AS DOUBLE) / CAST(mh.mh AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS hub_rel
       |FROM a$HitsIters a JOIN h$HitsIters h ON a.node = h.node
       |JOIN nation nat ON a.node = nat.n_nationkey, mx, mh
       |ORDER BY nationkey""".stripMargin
  }

  /** x104: personalized PageRank from the region-0 nations over the
    * symmetric trade graph — proximity-to-seed-markets scoring, bit-exact
    * ([[Graph.personalizedPageRank]]); the oracle unrolls the same seeded
    * trajectory with the teleport CASE-gated to the seed rows. */
  def tradePpr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trade = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select($"c_nationkey".as("cn"), $"s_nationkey".as("sn"))
    val edges = trade.select($"cn".as("src"), $"sn".as("dst"))
      .unionByName(trade.select($"sn".as("src"), $"cn".as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val seeds = Tables.nation(spark, dir)
      .filter($"n_regionkey" === 0).select($"n_nationkey".as("node"))
    // edges-only overload: the 4-way trade join materializes ONCE and the
    // node set is derived from the checkpoint (was built twice before —
    // the whole x104-vs-x63 cost gap)
    Graph.personalizedPageRank(edges, seeds, Iters)
      .join(broadcast(Tables.nation(spark, dir)), $"node" === $"n_nationkey")
      .select($"node".cast("long").as("nationkey"), $"n_name",
        $"rank_fp", ($"rank_fp" / lit(1e9)).as("rank"))
      .orderBy($"rank_fp".desc, $"nationkey")
  }

  private val pprOracle: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (SELECT n.node,
         |  n.is_seed * (SELECT base FROM params) + COALESCE(s.inc, 0) AS rank_fp
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, CAST(sum((85 * r.rank_fp * e.w) // (100 * e.outw)) AS BIGINT) AS inc
         |    FROM e JOIN $prev r ON e.src = r.node
         |    GROUP BY e.dst) s ON n.node = s.dst)""".stripMargin
    s"""WITH dir0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey),
       |sym AS (SELECT cn AS src, sn AS dst FROM dir0 UNION ALL SELECT sn, cn FROM dir0),
       |e0 AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM sym GROUP BY 1, 2),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e0 GROUP BY 1),
       |e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w, ow.outw FROM e0 JOIN ow ON e0.src = ow.src),
       |sd AS (SELECT n_nationkey AS node FROM nation WHERE n_regionkey = 0),
       |n AS MATERIALIZED (SELECT t.node, CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS is_seed
       |                   FROM (SELECT DISTINCT src AS node FROM e0) t
       |                   LEFT JOIN sd ON t.node = sd.node),
       |params AS MATERIALIZED (SELECT count(*) AS ns, 1000000000 // count(*) AS init,
       |                  150000000 // count(*) AS base FROM sd),
       |r0 AS (SELECT node, is_seed * (SELECT init FROM params) AS rank_fp FROM n),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT CAST(t.node AS BIGINT) AS nationkey, nat.n_name, t.rank_fp,
       |       t.rank_fp / 1000000000.0 AS rank
       |FROM r3 t JOIN nation nat ON t.node = nat.n_nationkey
       |ORDER BY t.rank_fp DESC, nationkey""".stripMargin
  }

  /** x110 heavy-projection edge keep rule: shared ≥ the mean pair weight
    * (exact integer predicate `shared · n_pairs ≥ total_shared`, the x65
    * recipe applied to the projection); wedge centers with projection
    * degree > [[LinkPredMaxDeg]] are dropped before pairing (hot-node cap,
    * mirrored in the oracle). */
  private val LinkPredMaxDeg = 50

  /** Resource-allocation fixed point: 1/deg(z) as the exact integer
    * `1e9 div deg(z)`, so the RA sum is accumulation-order-free. */
  private val RaFp = 1000000000L

  /** x110: link prediction over the co-supply projection — the classic
    * missing-edge scorers (common neighbors, neighborhood Jaccard,
    * resource-allocation index, preferential attachment) for supplier
    * pairs NOT currently connected by a heavy co-supply edge. Pipeline:
    * x66's degree-capped bipartite projection → heavy edges only (mean
    * threshold, exact integer predicate) → wedge join e(z,a)⋈e(z,b)
    * enumerates two-hop pairs through capped centers → anti-join removes
    * existing edges → top-30 by (cn, ra_fp). RA uses 1e9 div deg — an
    * integer sum, order-free — instead of the libm-unstable Σ1/log(deg)
    * of Adamic-Adar. Scale: wedge enumeration is the standard 2-hop
    * pattern with per-center fan-out bounded by the degree cap² — the
    * same blowup control as the projection itself; everything else is
    * hash joins + one aggregate on the (tiny) pair frame. */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.lineitem(spark, dir)
      .select($"l_partkey".as("pk"), $"l_suppkey".as("sk")).distinct()
      .localCheckpoint(true) // referenced by degree cap + both pair sides
    val ok = ps.join(ps.groupBy($"pk").agg(count(lit(1)).as("d"))
      .filter($"d" <= 20).select($"pk"), "pk")
    val proj0 = ok.select($"pk", $"sk".as("s1"))
      .join(ok.select($"pk", $"sk".as("s2")), "pk")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("shared"))
    val tot = proj0.agg(sum($"shared").as("tw"), count(lit(1)).as("ne"))
    val proj = proj0.crossJoin(broadcast(tot))
      .filter($"shared" * $"ne" >= $"tw").select($"s1", $"s2")
      .localCheckpoint(true) // referenced by edges + the anti-join
    val edges = proj.select($"s1".as("u"), $"s2".as("v"))
      .unionByName(proj.select($"s2".as("u"), $"s1".as("v")))
    val ndeg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
    val centers = ndeg.filter($"d" <= LinkPredMaxDeg)
    val wedge = edges.as("e1")
      .join(edges.as("e2"), $"e1.u" === $"e2.u" && $"e1.v" < $"e2.v")
      .join(centers.as("c"), $"c.u" === $"e1.u")
      .select($"e1.v".as("a"), $"e2.v".as("b"), $"c.d".as("dz"))
    val cand = wedge.groupBy($"a", $"b")
      .agg(count(lit(1)).as("cn"),
        sum(call_function("div", lit(RaFp), $"dz")).as("ra_fp"))
    val newPairs = cand.join(proj,
        cand("a") === proj("s1") && cand("b") === proj("s2"), "left_anti")
    newPairs
      .join(ndeg.select($"u".as("a"), $"d".as("da")), "a")
      .join(ndeg.select($"u".as("b"), $"d".as("db")), "b")
      .select($"a", $"b", $"cn", $"ra_fp",
        halfUp4($"cn".cast("double") / ($"da" + $"db" - $"cn")).as("jaccard"),
        ($"da" * $"db").as("pref"))
      .orderBy($"cn".desc, $"ra_fp".desc, $"a", $"b")
      .limit(30)
  }

  private val linkPredictOracle =
    s"""WITH ps AS MATERIALIZED (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
       |deg AS (SELECT pk, count(*) AS d FROM ps GROUP BY 1),
       |ok AS MATERIALIZED (SELECT ps.pk, ps.sk FROM ps JOIN deg ON ps.pk = deg.pk WHERE deg.d <= 20),
       |proj0 AS MATERIALIZED (
       |  SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared
       |  FROM ok a JOIN ok b ON a.pk = b.pk AND a.sk < b.sk
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(shared) AS BIGINT) AS tw, count(*) AS ne FROM proj0),
       |proj AS MATERIALIZED (SELECT s1, s2 FROM proj0, tot WHERE shared * ne >= tw),
       |edges AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM proj UNION ALL SELECT s2, s1 FROM proj),
       |ndeg AS MATERIALIZED (SELECT u, count(*) AS d FROM edges GROUP BY 1),
       |wedge AS (
       |  SELECT e1.v AS a, e2.v AS b, c.d AS dz
       |  FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
       |  JOIN (SELECT u, d FROM ndeg WHERE d <= $LinkPredMaxDeg) c ON c.u = e1.u),
       |cand AS (SELECT a, b, count(*) AS cn,
       |           CAST(sum($RaFp // dz) AS BIGINT) AS ra_fp
       |         FROM wedge GROUP BY a, b),
       |newpairs AS (
       |  SELECT cand.* FROM cand LEFT JOIN proj ON proj.s1 = cand.a AND proj.s2 = cand.b
       |  WHERE proj.s1 IS NULL)
       |SELECT a, b, cn, ra_fp,
       |       floor((CAST(cn AS DOUBLE) / (da.d + db.d - cn)) * 10000 + 0.5) / 10000.0 AS jaccard,
       |       da.d * db.d AS pref
       |FROM newpairs JOIN ndeg da ON da.u = a JOIN ndeg db ON db.u = b
       |ORDER BY cn DESC, ra_fp DESC, a, b
       |LIMIT 30""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x110_link_predict",
      "link prediction on the co-supply projection: common-neighbor/Jaccard/RA/pref-attachment scores for missing edges",
      linkPredict, Some(linkPredictOracle)),
    QueryDef("x104_ppr",
      "personalized PageRank from seed markets (exact-integer seeded teleport trajectory)",
      tradePpr, Some(pprOracle)),
    QueryDef("x69_sssp_weighted",
      "Bellman-Ford weighted shortest paths from nation 0 (integer costs, idempotent unrolled oracle)",
      tradeSssp, Some(ssspOracle)),
    QueryDef("x77_hits",
      "HITS hubs/authorities over the directed trade graph (exact decimal power iteration)",
      tradeHits, Some(hitsOracle)),
    QueryDef("x66_cosupply_projection",
      "bipartite projection: supplier co-supply graph with degree-capped pairing + exact-rational Jaccard",
      coSupplyProjection, Some(coSupplyOracle)),
    QueryDef("x65_bfs_hops",
      "multi-source BFS hop distance over the heavy-route trade graph (above-mean edges) vs a recursive-CTE oracle",
      tradeBfsHops, Some(bfsHopsOracle)),
    QueryDef("x63_pagerank",
      "weighted PageRank over the nation trade graph — exact-integer fixed-point iterations, oracle unrolls the same trajectory",
      tradePageRank, Some(pageRankOracle)),
    QueryDef("x64_triangles",
      "distributed triangle count + clustering coefficients (ordered two-path join)",
      tradeTriangles, Some(trianglesOracle)),
    QueryDef("x68_kcore",
      "k-core decomposition of the heavy-route trade graph (peeling fixpoint vs idempotent unrolled oracle)",
      tradeKCore, Some(kcoreOracle)))
}
