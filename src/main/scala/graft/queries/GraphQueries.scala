package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Graph, Similarity}
import QueryUtil.halfUp4
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph family: centrality, communities, paths, link prediction and
  * subgraph peeling over the trade and co-supply graphs, each an exact-
  * integer fixpoint the oracle unrolls.
  *
  * Graph analytics over the trade network (north-star extension): weighted
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

  /** x134 knobs — cohort every-5th vector (100 nodes at sf0.01, 1000 at
    * sf0.1), seeds every-25th (1/5 of the cohort), k=5 neighbors, 3
    * synchronous iterations. */
  private val LsK = 5
  private val LsIters = 3

  /** x134: semi-supervised label spreading — pseudo-labeling over the
    * kNN embedding graph, the standard trick for stretching a small
    * labeled set across a large corpus before training a filter model.
    * A 20% seed set keeps its ground-truth label (clamped); every other
    * cohort node iteratively adopts the MAJORITY label among its already-
    * labeled graph neighbors (ties -> smallest label), for 3 synchronous
    * rounds. The graph is the symmetrized cosine top-5 (x105's ranking
    * recipe: rounded cosine, vec_id tie-break). Emitted per true class:
    * cohort size, seeds, how many unlabeled nodes the propagation
    * reached, and how many it labeled CORRECTLY — the accuracy/coverage
    * pair that decides whether the pseudo-labels are usable. The oracle
    * re-derives all three rounds from scratch as unrolled CTEs.
    *
    * Fixture honesty: the synthetic embeddings' labels are independent of
    * cosine geometry (measured 1-NN accuracy ≈ 10% ≈ chance, same as
    * x79's centroid classifier), so the reported accuracy here is ~0.1 —
    * which is exactly what the measurement SHOULD say for this corpus;
    * the query verifies the propagation machinery and the honesty of the
    * metric, and the gate a real pipeline applies ("only trust classes
    * with acc >> chance") would correctly reject these pseudo-labels.
    *
    * Scale: each round is one (edges join labels) hash shuffle plus a
    * per-node majority window — O(E) per round, E = k·|cohort|. The kNN
    * build here is the documented brute-force pair join; at 100 TB the
    * graph would come from the x36 multiprobe-LSH or x34 IVF candidate
    * stage instead (same downstream propagation). */
  def labelSpreading(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Similarity
    val co = Tables.embeddings(spark, dir).filter($"vec_id" % 5 === 0)
      .select($"vec_id", $"embedding", $"label",
        Similarity.norm($"embedding").as("nrm"))
      .localCheckpoint(true) // referenced by both pair sides, seeds, eval
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    val top = co.select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
      .join(co.select($"vec_id", $"embedding", $"nrm"), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        round(Similarity.dot($"qv", $"embedding") / ($"qn" * $"nrm"), 4).as("cosine"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= LsK)
    val edges = top.select($"q_id".as("src"), $"vec_id".as("dst"))
      .unionByName(top.select($"vec_id".as("src"), $"q_id".as("dst")))
      .distinct()
      .localCheckpoint(true) // re-joined every iteration
    val seeds = co.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("node"), $"label".as("lbl"))
      .localCheckpoint(true)
    var labels = seeds
    for (_ <- 1 to LsIters) {
      val votes = edges.join(labels, $"dst" === $"node")
        .groupBy($"src", $"lbl").agg(count(lit(1)).as("c"))
      val picked = votes
        .withColumn("rn", row_number().over(
          Window.partitionBy($"src").orderBy($"c".desc, $"lbl")))
        .filter($"rn" === 1)
        .select($"src".as("node"), $"lbl")
      labels = seeds
        .unionByName(picked.join(seeds.select($"node"), Seq("node"), "left_anti"))
        .localCheckpoint(true)
    }
    val pred = labels.join(seeds.select($"node"), Seq("node"), "left_anti")
    val truth = co.groupBy($"label").agg(
      count(lit(1)).as("n_nodes"),
      sum(when($"vec_id" % 25 === 0, 1L).otherwise(0L)).as("n_seeds"))
    val scored = pred.join(co.select($"vec_id".as("node"), $"label"), "node")
      .groupBy($"label").agg(
        count(lit(1)).as("n_labeled"),
        sum(when($"lbl" === $"label", 1L).otherwise(0L)).as("n_correct"))
    truth.join(scored, Seq("label"), "left")
      .select($"label", $"n_nodes", $"n_seeds",
        coalesce($"n_labeled", lit(0L)).as("n_labeled"),
        coalesce($"n_correct", lit(0L)).as("n_correct"))
      .withColumn("acc", when($"n_labeled" > 0,
        halfUp4($"n_correct".cast("double") / $"n_labeled")).otherwise(lit(0.0)))
      .orderBy("label")
  }

  private val labelSpreadingOracle = {
    val iterCtes = (1 to LsIters).map { i =>
      val prev = s"l${i - 1}"
      s"""v$i AS (SELECT e.src, l.lbl, count(*) AS c
         |        FROM ed e JOIN $prev l ON e.dst = l.node GROUP BY 1, 2),
         |p$i AS (SELECT src AS node, lbl FROM (
         |          SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |          FROM v$i) WHERE rn = 1),
         |l$i AS (SELECT node, lbl FROM seeds
         |        UNION ALL
         |        SELECT node, lbl FROM p$i WHERE node NOT IN (SELECT node FROM seeds))""".stripMargin
    }.mkString(",\n")
    s"""WITH co AS MATERIALIZED (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 = 0),
       |pr AS (SELECT q.vec_id AS q_id, e.vec_id AS vid,
       |         round(${SimilarityQueries.cosineSql("q.embedding", "e.embedding")}, 4) AS cosine
       |       FROM co e JOIN co q ON e.vec_id <> q.vec_id),
       |rnk AS (SELECT q_id, vid, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vid) AS rk
       |        FROM pr),
       |top AS (SELECT q_id, vid FROM rnk WHERE rk <= $LsK),
       |ed AS MATERIALIZED (SELECT q_id AS src, vid AS dst FROM top
       |                    UNION
       |                    SELECT vid AS src, q_id AS dst FROM top),
       |seeds AS MATERIALIZED (SELECT vec_id AS node, label AS lbl FROM co WHERE vec_id % 25 = 0),
       |l0 AS (SELECT node, lbl FROM seeds),
       |$iterCtes,
       |pred AS (SELECT node, lbl FROM l$LsIters WHERE node NOT IN (SELECT node FROM seeds)),
       |truth AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
       |            CAST(sum(CASE WHEN vec_id % 25 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds
       |          FROM co GROUP BY 1),
       |scored AS (SELECT co.label, CAST(count(*) AS BIGINT) AS n_labeled,
       |             CAST(sum(CASE WHEN pred.lbl = co.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |           FROM pred JOIN co ON co.vec_id = pred.node GROUP BY 1)
       |SELECT t.label, t.n_nodes, t.n_seeds,
       |       coalesce(s.n_labeled, 0) AS n_labeled,
       |       coalesce(s.n_correct, 0) AS n_correct,
       |       CASE WHEN coalesce(s.n_labeled, 0) > 0
       |            THEN floor(CAST(s.n_correct AS DOUBLE) / s.n_labeled * 10000 + 0.5) / 10000.0
       |            ELSE 0.0 END AS acc
       |FROM truth t LEFT JOIN scored s ON s.label = t.label
       |ORDER BY t.label""".stripMargin
  }

  /* Graph-partition and temporal-pattern
   * diagnostics — weighted modularity of the nation partition over the
   * co-supply graph (x210), degree assortativity of the same graph
   * (x211), and inter-event burstiness per event type (x212).
   * Elsewhere: x212 (AnalyticsQueries).
   */

  /** Degree cap shared with x66's projection (hot-part blowup guard). */
  private val PartDegCap = 20

  /** Weighted co-supply edges (s1 < s2, w = shared capped parts) plus
    * each supplier's nation — the x66 projection re-derived with its
    * exact pruning so the oracle can mirror it. */
  private def coSupply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.lineitem(spark, dir)
      .select($"l_partkey".as("pk"), $"l_suppkey".as("sk")).distinct()
      .localCheckpoint(true)
    val ok = ps.join(ps.groupBy($"pk").agg(count(lit(1)).as("d"))
      .filter($"d" <= PartDegCap).select($"pk"), "pk")
    ok.select($"pk", $"sk".as("s1"))
      .join(ok.select($"pk", $"sk".as("s2")), "pk")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("w"))
  }

  private val coSupplySql =
    s"""ps AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
       |ok AS MATERIALIZED (
       |  SELECT ps.pk, ps.sk FROM ps
       |  JOIN (SELECT pk FROM ps GROUP BY pk
       |        HAVING count(*) <= $PartDegCap) good ON good.pk = ps.pk),
       |edges AS MATERIALIZED (
       |  SELECT a.sk AS s1, b.sk AS s2, CAST(count(*) AS BIGINT) AS w
       |  FROM ok a JOIN ok b ON a.pk = b.pk AND a.sk < b.sk
       |  GROUP BY a.sk, b.sk)""".stripMargin

  // ---------------------------------------------------------------- x210

  /** x210: weighted modularity Q of the nation partition over the
    * co-supply graph — "do suppliers co-supply within their own nation
    * more than a random rewiring would predict?" Per community c:
    * Q_c = e_c/(2m) − (d_c/(2m))², where e_c is twice the intra-
    * community edge weight, d_c the community's weighted degree and m
    * the total edge weight — all exact integer sums; each community
    * term quantizes to 1e-6 before the (order-free) total. Emits one
    * row per nation plus the replicated total (the x199 pattern), so
    * both the headline Q and its decomposition are oracle-checked.
    *
    * Scale: the projection is the x66 degree-capped join; everything
    * after runs on nation-grain aggregates (≤ 25 rows). */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.supplier(spark, dir)
      .select($"s_suppkey".as("sk"), $"s_nationkey".cast("long").as("c"))
      .localCheckpoint(true)
    val e = coSupply(spark, dir)
      .join(broadcast(nat.toDF("s1", "c1")), "s1")
      .join(broadcast(nat.toDF("s2", "c2")), "s2")
      .localCheckpoint(true)
    val m = e.agg(sum($"w").as("m"))
    val intra = e.filter($"c1" === $"c2")
      .groupBy($"c1".as("c")).agg((sum($"w") * 2).as("e_c"))
    val deg = e.select($"c1".as("c"), $"w")
      .unionByName(e.select($"c2".as("c"), $"w"))
      .groupBy($"c").agg(sum($"w").as("d_c"))
    val perC = deg.join(intra, Seq("c"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .select($"c", $"e_c", $"d_c",
        expr("CAST(floor((CAST(e_c AS DOUBLE) / CAST(2 * m AS DOUBLE)" +
          " - (CAST(d_c AS DOUBLE) / CAST(2 * m AS DOUBLE))" +
          " * (CAST(d_c AS DOUBLE) / CAST(2 * m AS DOUBLE)))" +
          " * 1000000 + 0.5) AS BIGINT)").as("q_c_fp"))
    val tot = perC.agg(sum($"q_c_fp").as("q_fp"))
    perC.crossJoin(broadcast(tot))
      .select($"c".as("nationkey"), $"e_c", $"d_c", $"q_c_fp", $"q_fp")
      .orderBy($"nationkey")
  }

  private val modularityOracle =
    s"""WITH $coSupplySql,
       |nat AS (SELECT s_suppkey AS sk, CAST(s_nationkey AS BIGINT) AS c
       |        FROM supplier),
       |e2 AS MATERIALIZED (
       |  SELECT e.s1, e.s2, e.w, n1.c AS c1, n2.c AS c2
       |  FROM edges e JOIN nat n1 ON n1.sk = e.s1 JOIN nat n2 ON n2.sk = e.s2),
       |m0 AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM e2),
       |intra AS (SELECT c1 AS c, CAST(sum(w) * 2 AS BIGINT) AS e_c
       |          FROM e2 WHERE c1 = c2 GROUP BY c1),
       |deg AS (
       |  SELECT c, CAST(sum(w) AS BIGINT) AS d_c FROM (
       |    SELECT c1 AS c, w FROM e2 UNION ALL SELECT c2 AS c, w FROM e2) u
       |  GROUP BY c),
       |per_c AS (
       |  SELECT d.c, COALESCE(i.e_c, 0) AS e_c, d.d_c,
       |         CAST(floor((CAST(COALESCE(i.e_c, 0) AS DOUBLE)
       |             / CAST(2 * m AS DOUBLE)
       |           - (CAST(d.d_c AS DOUBLE) / CAST(2 * m AS DOUBLE))
       |             * (CAST(d.d_c AS DOUBLE) / CAST(2 * m AS DOUBLE)))
       |           * 1000000 + 0.5) AS BIGINT) AS q_c_fp
       |  FROM deg d LEFT JOIN intra i ON i.c = d.c, m0),
       |tot AS (SELECT CAST(sum(q_c_fp) AS BIGINT) AS q_fp FROM per_c)
       |SELECT c AS nationkey, e_c, d_c, q_c_fp, q_fp
       |FROM per_c, tot ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- x211

  /** x211: degree assortativity — the Pearson correlation of endpoint
    * weighted degrees over the (symmetrized) co-supply edge list:
    * positive ⇒ hubs co-supply with hubs. Every moment (ΣX, ΣY, ΣXY,
    * ΣX², ΣY², M) is an exact integer sum; the one sqrt is IEEE
    * correctly-rounded so it is engine-stable, and the formula is
    * spelled out identically on both sides (the q75/q77 recipe).
    *
    * Scale: degree table + one broadcast-joined edge pass; moments
    * are map-side combined. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = coSupply(spark, dir).localCheckpoint(true)
    val deg = e.select($"s1".as("sk"), $"w")
      .unionByName(e.select($"s2".as("sk"), $"w"))
      .groupBy($"sk").agg(sum($"w").as("d"))
    val sym = e.select($"s1".as("a"), $"s2".as("b"))
      .unionByName(e.select($"s2".as("a"), $"s1".as("b")))
    val xy = sym
      .join(broadcast(deg.toDF("a", "dx")), "a")
      .join(broadcast(deg.toDF("b", "dy")), "b")
    xy.agg(count(lit(1)).as("m"), sum($"dx").as("sx"), sum($"dy").as("sy"),
      sum($"dx" * $"dy").as("sxy"), sum($"dx" * $"dx").as("sxx"),
      sum($"dy" * $"dy").as("syy"))
      .select($"m",
        expr("CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
          " * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)" +
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))" +
          " * 1000000 + 0.5) AS BIGINT)").as("r_fp"))
  }

  private val assortativityOracle =
    s"""WITH $coSupplySql,
       |deg AS MATERIALIZED (
       |  SELECT sk, CAST(sum(w) AS BIGINT) AS d FROM (
       |    SELECT s1 AS sk, w FROM edges UNION ALL SELECT s2 AS sk, w FROM edges) u
       |  GROUP BY sk),
       |sym AS (SELECT s1 AS a, s2 AS b FROM edges
       |        UNION ALL SELECT s2 AS a, s1 AS b FROM edges),
       |xy AS (SELECT da.d AS dx, db.d AS dy
       |       FROM sym JOIN deg da ON da.sk = sym.a JOIN deg db ON db.sk = sym.b),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(dx) AS BIGINT) AS sx,
       |         CAST(sum(dy) AS BIGINT) AS sy, CAST(sum(dx * dy) AS BIGINT) AS sxy,
       |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
       |         CAST(sum(dy * dy) AS BIGINT) AS syy
       |  FROM xy)
       |SELECT m,
       |       CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |         / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |         * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
       |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |         * 1000000 + 0.5) AS BIGINT) AS r_fp
       |FROM mom""".stripMargin

  /* Whole-graph centrality and network
   * autocorrelation on the nation trade graph — harmonic closeness via
   * all-pairs BFS (x223) and Moran's I of account balance over trade
   * adjacency (x224). */

  /** BFS rounds (nation-graph diameter is well under this). */
  private val BfsRounds = 6

  /** Shared nation-graph SQL: symmetric trade edges with weights. */
  private val tradeCtes =
    """trade AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |edges AS MATERIALIZED (
      |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
      |    SELECT cn AS src, sn AS dst FROM trade
      |    UNION ALL SELECT sn AS src, cn AS dst FROM trade) u
      |  GROUP BY src, dst)""".stripMargin

  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trade = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select($"c_nationkey".as("cn"), $"s_nationkey".as("sn"))
    trade.select($"cn".as("src"), $"sn".as("dst"))
      .unionByName(trade.select($"sn".as("src"), $"cn".as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
  }

  // ---------------------------------------------------------------- x223

  /** x223: harmonic closeness centrality — Σ_{j≠i} 1/d(i,j) over
    * all-pairs shortest hops, the centrality that handles
    * disconnection gracefully (unreachable pairs contribute 0, no
    * infinite sums). All-pairs BFS runs [[BfsRounds]] unrolled
    * min-plus expansions of the distance frame (the x65 frontier
    * join, all sources at once); 1/d quantizes to floor(1e6/d) —
    * integer division on positives — so the centrality is one exact
    * integer sum per node. Ranked output with nation names.
    *
    * Scale: the trade aggregation is the data-sized pass (the x63
    * shape); the BFS frames are |V|²-bounded (25² here) — whole-graph
    * centralities like this are for DIMENSION graphs; entity-scale
    * graphs get the sampled/seeded treatments (x104 PPR). */
  def harmonicCloseness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = tradeEdges(spark, dir).select($"src", $"dst")
      .localCheckpoint(true)
    val init = edges.select($"src".as("a")).distinct()
      .select($"a", $"a".as("b"), lit(0L).as("d"))
    val dist = (1 to BfsRounds).foldLeft(init) { (cur, _) =>
      val expanded = cur.as("c").join(edges.as("e"), $"c.b" === $"e.src")
        .select($"c.a".as("a"), $"e.dst".as("b"), ($"c.d" + 1L).as("d"))
      cur.unionByName(expanded)
        .groupBy($"a", $"b").agg(min($"d").as("d"))
        .localCheckpoint(true)
    }
    val hc = dist.filter($"d" > 0)
      .groupBy($"a").agg(sum(expr("1000000 div d")).as("hc_fp"),
        count(lit(1)).as("n_reach"))
    hc.join(broadcast(Tables.nation(spark, dir)), $"a" === $"n_nationkey")
      .select($"a".cast("long").as("nationkey"), $"n_name", $"n_reach",
        $"hc_fp")
      .orderBy($"hc_fp".desc, $"nationkey")
  }

  private val harmonicOracle = {
    val bfsCtes = (1 to BfsRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT a, b, CAST(min(d) AS BIGINT) AS d FROM (
         |    SELECT a, b, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT p.a, e.dst AS b, p.d + 1 AS d
         |    FROM d${i - 1} p JOIN edges e ON e.src = p.b) u
         |  GROUP BY a, b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeCtes,
       |d0 AS (SELECT DISTINCT src AS a, src AS b, CAST(0 AS BIGINT) AS d
       |       FROM edges),
       |$bfsCtes,
       |hc AS (
       |  SELECT a, CAST(sum(1000000 // d) AS BIGINT) AS hc_fp,
       |         CAST(count(*) AS BIGINT) AS n_reach
       |  FROM d$BfsRounds WHERE d > 0 GROUP BY a)
       |SELECT CAST(a AS BIGINT) AS nationkey, n.n_name, n_reach, hc_fp
       |FROM hc JOIN nation n ON n.n_nationkey = hc.a
       |ORDER BY hc_fp DESC, nationkey""".stripMargin
  }

  // ---------------------------------------------------------------- x224

  /** x224: Moran's I — does account wealth cluster along trade links?
    * Node attribute x_i = mean customer acctbal per nation quantized
    * to whole dollars FIRST (so deviations are exact integers), trade
    * weights w_ij from the shared edge counts, and
    * I = (N/W)·Σw_ij·dev_i·dev_j / Σdev_i² with dev_i = N·x_i − Σx
    * (the N-scaling cancels between numerator and denominator). Every
    * sum is an exact integer; one spelled-out double division at the
    * end, half-up to 6dp.
    *
    * Scale: a dimension-grain attribute aggregate plus the edge
    * table; the double-sum runs over |E| ≤ |V|² rows of the nation
    * graph. */
  def moransI(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = tradeEdges(spark, dir).localCheckpoint(true)
    val attr = Tables.customer(spark, dir)
      .groupBy($"c_nationkey".cast("long").as("nk"))
      .agg(sum(floor($"c_acctbal" + 0.5).cast("long")).as("s"),
        count(lit(1)).as("c"))
      .select($"nk", expr("CAST(floor(CAST(s AS DOUBLE) / CAST(c AS DOUBLE)" +
        " + 0.5) AS BIGINT)").as("x"))
      .localCheckpoint(true)
    val glob = attr.agg(count(lit(1)).as("nn"), sum($"x").as("sx"))
    val dev = attr.crossJoin(broadcast(glob))
      .select($"nk", ($"nn" * $"x" - $"sx").as("dev"))
      .localCheckpoint(true)
    val num = edges
      .join(broadcast(dev.toDF("src", "dev_i")), "src")
      .join(broadcast(dev.toDF("dst", "dev_j")), "dst")
      .agg(sum($"w").as("wsum"), sum($"w" * $"dev_i" * $"dev_j").as("cross_s"))
    val den = dev.agg(sum($"dev" * $"dev").as("ss"))
    num.crossJoin(broadcast(den)).crossJoin(broadcast(glob))
      .select($"wsum",
        expr("CAST(floor(CAST(nn AS DOUBLE) / CAST(wsum AS DOUBLE)" +
          " * CAST(cross_s AS DOUBLE) / CAST(ss AS DOUBLE)" +
          " * 1000000 + 0.5) AS BIGINT)").as("moran_fp"))
  }

  private val moransOracle =
    s"""WITH $tradeCtes,
       |attr AS MATERIALIZED (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
       |         CAST(floor(CAST(sum(CAST(floor(c_acctbal + 0.5) AS BIGINT))
       |             AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS x
       |  FROM customer GROUP BY c_nationkey),
       |g0 AS (SELECT CAST(count(*) AS BIGINT) AS nn,
       |                CAST(sum(x) AS BIGINT) AS sx FROM attr),
       |dev AS MATERIALIZED (
       |  SELECT nk, CAST(nn * x - sx AS BIGINT) AS dev FROM attr, g0),
       |num AS (
       |  SELECT CAST(sum(e.w) AS BIGINT) AS wsum,
       |         CAST(sum(e.w * di.dev * dj.dev) AS BIGINT) AS cross_s
       |  FROM edges e JOIN dev di ON di.nk = e.src JOIN dev dj ON dj.nk = e.dst),
       |den AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS ss FROM dev)
       |SELECT wsum,
       |       CAST(floor(CAST(nn AS DOUBLE) / CAST(wsum AS DOUBLE)
       |         * CAST(cross_s AS DOUBLE) / CAST(ss AS DOUBLE)
       |         * 1000000 + 0.5) AS BIGINT) AS moran_fp
       |FROM num, den, g0""".stripMargin

  /* Community detection (weighted label
   * propagation) and exact betweenness centrality on the nation trade
   * graph — the two classic whole-graph analytics still missing from the
   * graph suite (PageRank/PPR/HITS/SSSP/k-core/triangles/BFS/CC/
   * modularity/assortativity/harmonic closeness/Moran's I). */

  /** Synchronous LPA rounds (unrolled identically in the oracle). */
  private val LpaRounds = 4

  /** BFS expansion rounds for the all-pairs σ table (diameter of the
    * dense trade graph is ≤ 3; extra rounds settle nothing). */
  private val BcRounds = 6

  // ---------------------------------------------------------------- x247

  /** x247: weighted label propagation communities (Raghavan et al. 2007)
    * — [[LpaRounds]] SYNCHRONOUS rounds over the weighted trade graph;
    * each round every node adopts the label with the largest
    * edge-weight-summed support among its neighbors, ties broken by the
    * SMALLEST label (the determinism knob the async original lacks —
    * synchronous + deterministic tie-break makes the fixture result
    * engine-exact, the same trade modularity x210 grades). Isolated
    * nodes keep their own label. Output: each nation's final community
    * plus the community's size.
    *
    * Spark: each round is one edge⋈label equi-join → (node, label)
    * weight aggregate → per-node rank-1 window (the x63 step shape);
    * frames after the trade aggregation are |V|-sized. Oracle: the same
    * rounds unrolled as CTEs. Scale: the data-sized stage is the trade
    * aggregation (audited x63 shape); LPA rounds on an entity-scale
    * graph would be the same keyed joins at |E| cost per round — the
    * algorithm is join+agg per round by construction, no all-pairs. */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = tradeEdges(spark, dir).localCheckpoint(true)
    val nodes = edges.select($"src".as("v")).distinct().localCheckpoint(true)
    val lab0 = nodes.select($"v", $"v".as("label"))
    val labN = (1 to LpaRounds).foldLeft(lab0) { (lab, _) =>
      val support = edges.join(lab.select($"v".as("src"), $"label"), "src")
        .groupBy($"dst".as("v"), $"label")
        .agg(sum($"w").as("sw"))
      val rk = Window.partitionBy($"v").orderBy($"sw".desc, $"label")
      val upd = support.withColumn("rn", row_number().over(rk))
        .filter($"rn" === 1).select($"v", $"label")
      // isolated nodes (no in-edges) keep their previous label
      lab.select($"v", $"label".as("old"))
        .join(upd, Seq("v"), "left")
        .select($"v", coalesce($"label", $"old").as("label"))
        .localCheckpoint(true)
    }
    val csize = labN.groupBy($"label").agg(count(lit(1)).as("comm_size"))
    labN.join(csize, "label")
      .join(broadcast(Tables.nation(spark, dir)), $"v" === $"n_nationkey")
      .select($"v".cast("long").as("nationkey"), $"n_name",
        $"label".cast("long").as("community"), $"comm_size")
      .orderBy("nationkey")
  }

  private def lpaRoundSql(r: Int): String = {
    val prev = s"lab${r - 1}"
    s"""sup$r AS (
       |  SELECT e.dst AS v, lb.label AS label, CAST(sum(e.w) AS BIGINT) AS sw
       |  FROM edges e JOIN $prev lb ON lb.v = e.src
       |  GROUP BY 1, 2),
       |upd$r AS (
       |  SELECT v, label FROM (
       |    SELECT v, label,
       |           row_number() OVER (PARTITION BY v ORDER BY sw DESC, label) AS rn
       |    FROM sup$r) WHERE rn = 1),
       |lab$r AS MATERIALIZED (
       |  SELECT p.v, COALESCE(u.label, p.label) AS label
       |  FROM $prev p LEFT JOIN upd$r u ON u.v = p.v)""".stripMargin
  }

  private val labelPropagationOracle = {
    val rounds = (1 to LpaRounds).map(lpaRoundSql).mkString(",\n")
    s"""WITH $tradeCtes,
       |lab0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
       |$rounds,
       |cs AS (SELECT label, CAST(count(*) AS BIGINT) AS comm_size
       |       FROM lab$LpaRounds GROUP BY label)
       |SELECT CAST(l.v AS BIGINT) AS nationkey, n.n_name,
       |       CAST(l.label AS BIGINT) AS community, cs.comm_size
       |FROM lab$LpaRounds l
       |JOIN cs ON cs.label = l.label
       |JOIN nation n ON n.n_nationkey = l.v
       |ORDER BY nationkey""".stripMargin
  }

  // ---------------------------------------------------------------- x250

  /** x250: exact betweenness centrality — for every node v, the summed
    * fraction of shortest paths between other node pairs that pass
    * through v: bc(v) = Σ_{s<t, v∉{s,t}} σ_sv·σ_vt/σ_st over pairs with
    * d(s,v)+d(v,t)=d(s,t). The all-pairs (distance, path-count) table
    * comes from a level-synchronous BFS with σ-accumulation: each round
    * expands the current frontier through the edge list, SUMS path
    * counts per (source, node), and anti-joins already-settled pairs —
    * newly reached nodes get σ = Σ of predecessors' σ (Brandes'
    * counting phase, without the dependency back-propagation: on an
    * all-pairs table the pair-combination identity needs no backward
    * sweep). Per-(s,t,v) contributions quantize to
    * (σ_sv·σ_vt·10⁶) div σ_st — exact integer floor division on
    * positives (identical in both engines) — so bc_fp is an order-free
    * integer sum. Output ranked, with per-node reach counts as the
    * connectivity audit.
    *
    * Scale: trade aggregation is the data-sized pass; BFS/σ frames are
    * |V|²-bounded and the combination join |V|³ — a DIMENSION-graph
    * centrality by nature (25³ here); entity-scale graphs get sampled
    * pivots (Brandes–Pich), which is this same pipeline seeded on a
    * pivot subset. */
  def betweenness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = tradeEdges(spark, dir).select($"src", $"dst").localCheckpoint(true)
    val nodes = edges.select($"src".as("a")).distinct().localCheckpoint(true)
    val init = nodes.select($"a", $"a".as("b"), lit(0L).as("d"), lit(1L).as("sigma"))
    val (settled, _) = (1 to BcRounds).foldLeft((init, init)) {
      case ((set, frontier), r) =>
        val nxt = frontier.join(edges, frontier("b") === edges("src"))
          .groupBy(frontier("a").as("a"), edges("dst").as("b"))
          .agg(sum($"sigma").as("sigma"))
        val fresh = nxt.join(set.select($"a", $"b"), Seq("a", "b"), "left_anti")
          .select($"a", $"b", lit(r.toLong).as("d"), $"sigma")
          .localCheckpoint(true)
        (set.unionByName(fresh).localCheckpoint(true), fresh)
    }
    val allp = settled.localCheckpoint(true)
    // σ is symmetric on an undirected graph: use the table for both legs.
    val contrib = allp.select($"a".as("s"), $"b".as("v"), $"d".as("dsv"), $"sigma".as("ssv"))
      .filter($"s" =!= $"v")
      .join(allp.select($"a".as("v"), $"b".as("t"), $"d".as("dvt"), $"sigma".as("svt"))
        .filter($"v" =!= $"t"), "v")
      .filter($"s" < $"t" && $"v" =!= $"s" && $"v" =!= $"t")
      .join(allp.select($"a".as("s"), $"b".as("t"), $"d".as("dst"), $"sigma".as("sst")),
        Seq("s", "t"))
      .filter($"dsv" + $"dvt" === $"dst")
      .select($"v", expr("(ssv * svt * 1000000) div sst").as("c_fp"))
    val bc = contrib.groupBy($"v").agg(sum($"c_fp").as("bc_fp"))
    val reach = allp.filter($"d" > 0).groupBy($"a".as("v")).agg(count(lit(1)).as("n_reach"))
    nodes.select($"a".as("v"))
      .join(bc, Seq("v"), "left")
      .join(reach, Seq("v"), "left")
      .join(broadcast(Tables.nation(spark, dir)), $"v" === $"n_nationkey")
      .select($"v".cast("long").as("nationkey"), $"n_name",
        coalesce($"bc_fp", lit(0L)).as("bc_fp"),
        coalesce($"n_reach", lit(0L)).as("n_reach"))
      .orderBy("nationkey")
  }

  private def bcRoundSql(r: Int): String = {
    val pf = s"f${r - 1}"
    val ps = s"s${r - 1}"
    s"""f$r AS MATERIALIZED (
       |  SELECT nxt.a, nxt.b, nxt.sigma FROM (
       |    SELECT f.a AS a, e.dst AS b, CAST(sum(f.sigma) AS BIGINT) AS sigma
       |    FROM $pf f JOIN edges e ON e.src = f.b GROUP BY 1, 2) nxt
       |  WHERE NOT EXISTS (SELECT 1 FROM $ps s WHERE s.a = nxt.a AND s.b = nxt.b)),
       |s$r AS MATERIALIZED (
       |  SELECT a, b, d, sigma FROM $ps
       |  UNION ALL SELECT a, b, $r AS d, sigma FROM f$r)""".stripMargin
  }

  private val betweennessOracle = {
    val rounds = (1 to BcRounds).map(bcRoundSql).mkString(",\n")
    s"""WITH $tradeCtes,
       |nodes AS (SELECT DISTINCT src AS a FROM edges),
       |s0 AS (SELECT a, a AS b, CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sigma FROM nodes),
       |f0 AS (SELECT a, b, sigma FROM s0),
       |$rounds,
       |allp AS MATERIALIZED (SELECT * FROM s$BcRounds),
       |contrib AS (
       |  SELECT l.v, CAST((l.ssv * r.svt * 1000000) // st.sigma AS BIGINT) AS c_fp
       |  FROM (SELECT a AS s, b AS v, d AS dsv, sigma AS ssv FROM allp WHERE a <> b) l
       |  JOIN (SELECT a AS v, b AS t, d AS dvt, sigma AS svt FROM allp WHERE a <> b) r
       |    ON r.v = l.v
       |  JOIN allp st ON st.a = l.s AND st.b = r.t
       |  WHERE l.s < r.t AND l.v <> l.s AND l.v <> r.t
       |    AND l.dsv + r.dvt = st.d),
       |bc AS (SELECT v, CAST(sum(c_fp) AS BIGINT) AS bc_fp FROM contrib GROUP BY v),
       |reach AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS n_reach
       |          FROM allp WHERE d > 0 GROUP BY a)
       |SELECT CAST(n0.a AS BIGINT) AS nationkey, n.n_name,
       |       COALESCE(bc.bc_fp, 0) AS bc_fp, COALESCE(reach.n_reach, 0) AS n_reach
       |FROM nodes n0
       |LEFT JOIN bc ON bc.v = n0.a
       |LEFT JOIN reach ON reach.v = n0.a
       |JOIN nation n ON n.n_nationkey = n0.a
       |ORDER BY nationkey""".stripMargin
  }

  /* Three distributed staples still missing from
   * the suite — Luby's maximal independent set (THE symmetry-breaking
   * primitive behind distributed scheduling/coloring, here with fixed
   * hash priorities so the parallel peel is deterministic), the
   * Theil–Sen robust trend estimator (median of pairwise slopes — the
   * outlier-proof counterpart to q70's exact-moment OLS), and the AMS
   * tug-of-war F2 sketch (second frequency moment — the self-join-size
   * estimator that completes the sketch family next to CMS/Count-Sketch/
   * HLL/KMV/Bloom). All three are exact-integer constructions, so every
   * trained/estimated value is bit-identical across engines.
   * Elsewhere: x263 (StatsQueries); x264 (EngineOpsQueries).
   */

  /** Luby peel rounds. The 25-node trade graph settles in ≤3; extra
    * rounds are idempotent no-ops on empty live sets. The convergence
    * proof is the emitted `live_final` audit column (0 ⇒ the MIS is
    * maximal by construction). */
  private val MisRounds = 6

  /** Graph sparsification: keep each node's top-K heaviest trade edges
    * before the symmetric closure. */
  private val MisTopK = 3

  /** Deterministic node priority: v * K mod P with P prime — injective
    * on any node domain smaller than P/K differences, so ties are
    * impossible and the parallel local-max peel is fully determined. */
  private[queries] val MisMul = 2654435761L
  private[queries] val MisMod = 1000000007L

  // ---------------------------------------------------------------- x262

  /** x262: Luby's maximal independent set over the nation trade graph —
    * deterministic variant: node priority is a fixed injective hash; in
    * each synchronous round every live node whose priority exceeds ALL
    * live neighbors' joins the MIS, then it and its neighbors leave the
    * live set. With fixed priorities the parallel peel equals the
    * sequential greedy MIS in priority order, and it finishes in
    * O(log n) expected rounds — the classic symmetry-breaking result.
    * Emits MIS members with the round they joined plus audit columns
    * (node count, MIS size, live nodes after the last round — 0 proves
    * maximality).
    *
    * Spark: each round is two |E|-sized equi-joins (restrict edges to
    * live×live), one max-aggregate, and two anti-joins — no all-pairs
    * stage; frames after the trade aggregation are |V|-sized and
    * checkpointed per round. At entity scale the round count stays
    * O(log n) whp, each round the same keyed joins at |E| cost — the
    * published distributed-MIS recipe. Oracle: identical rounds
    * unrolled as CTEs on the shared trade-graph SQL. */
  def lubyMis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Sparsify to each nation's top-[[MisTopK]] heaviest trade partners
    // (symmetric closure) — the dense trade graph has diameter ≤3 so its
    // MIS is one node peeled in one round; the k-NN-shaped subgraph makes
    // the peel run several genuine rounds, like the entity graphs the
    // primitive is for. Rank tie-break (w DESC, dst) is total.
    val wTop = Window.partitionBy($"src").orderBy($"w".desc, $"dst")
    val top = tradeEdges(spark, dir)
      .select($"src".cast("long").as("src"), $"dst".cast("long").as("dst"), $"w")
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= MisTopK)
      .select($"src", $"dst")
    val edges = top.unionByName(top.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .localCheckpoint(true)
    val nodes = edges.select($"src".as("v")).distinct()
      .withColumn("p", ($"v" * lit(MisMul)) % lit(MisMod))
      .localCheckpoint(true)
    var live = nodes
    var mis = spark.range(0).select($"id".as("v"), $"id".as("p"),
      $"id".as("round_joined"))
    for (r <- 1 to MisRounds) {
      val nmax = edges
        .join(live.select($"v".as("src"), $"p".as("sp")), "src")
        .join(live.select($"v".as("dst")), "dst")
        .groupBy($"dst".as("v")).agg(max($"sp").as("nmax"))
      val misR = live.join(nmax, Seq("v"), "left")
        .filter($"nmax".isNull || $"p" > $"nmax")
        .select($"v", $"p").localCheckpoint(true)
      val rem = edges.join(misR.select($"v".as("src")), "src")
        .select($"dst".as("v")).distinct()
      mis = mis.unionByName(misR.withColumn("round_joined", lit(r).cast("long")))
      live = live.join(misR.select($"v"), Seq("v"), "left_anti")
        .join(rem, Seq("v"), "left_anti")
        .localCheckpoint(true)
    }
    val audit = nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(mis.agg(count(lit(1)).as("n_mis"))))
      .crossJoin(broadcast(live.agg(count(lit(1)).as("live_final"))))
    mis.join(broadcast(Tables.nation(spark, dir)), $"v" === $"n_nationkey")
      .crossJoin(broadcast(audit))
      .select($"v".as("nationkey"), $"n_name", $"p".as("priority"),
        $"round_joined", $"n_nodes", $"n_mis", $"live_final")
      .orderBy("nationkey")
  }

  private def misRoundSql(r: Int): String = {
    val prev = s"live${r - 1}"
    s"""nb$r AS (
       |  SELECT e.dst AS v, max(s.p) AS nmax
       |  FROM sedges e JOIN $prev s ON s.v = e.src JOIN $prev d ON d.v = e.dst
       |  GROUP BY e.dst),
       |mis$r AS MATERIALIZED (
       |  SELECT l.v, l.p FROM $prev l LEFT JOIN nb$r n ON n.v = l.v
       |  WHERE n.nmax IS NULL OR l.p > n.nmax),
       |rem$r AS (
       |  SELECT DISTINCT e.dst AS v FROM sedges e JOIN mis$r m ON m.v = e.src),
       |live$r AS MATERIALIZED (
       |  SELECT l.v, l.p FROM $prev l
       |  WHERE NOT EXISTS (SELECT 1 FROM mis$r m WHERE m.v = l.v)
       |    AND NOT EXISTS (SELECT 1 FROM rem$r x WHERE x.v = l.v))""".stripMargin
  }

  private val lubyMisOracle = {
    val rounds = (1 to MisRounds).map(misRoundSql).mkString(",\n")
    val unions = (1 to MisRounds)
      .map(r => s"SELECT v, p, CAST($r AS BIGINT) AS round_joined FROM mis$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${tradeCtes},
       |topk AS (
       |  SELECT src, dst FROM (
       |    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
       |           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
       |    FROM edges) WHERE rn <= $MisTopK),
       |sedges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM topk
       |    UNION ALL SELECT dst AS src, src AS dst FROM topk)),
       |live0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS v, (src * $MisMul) % $MisMod AS p
       |  FROM sedges),
       |$rounds,
       |allmis AS MATERIALIZED (
       |  $unions),
       |audit AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM live0) AS n_nodes,
       |         (SELECT CAST(count(*) AS BIGINT) FROM allmis) AS n_mis,
       |         (SELECT CAST(count(*) AS BIGINT) FROM live$MisRounds) AS live_final)
       |SELECT m.v AS nationkey, n.n_name, m.p AS priority, m.round_joined,
       |       n_nodes, n_mis, live_final
       |FROM allmis m JOIN nation n ON n.n_nationkey = m.v, audit
       |ORDER BY nationkey""".stripMargin
  }

  // ---------------------------------------------------------------- x301

  /** Katz attenuation 1/[[KatzAlphaDen]] and unrolled iteration count.
    * The trade graph has ≤ 24 out-edges per nation, so λmax ≤ 24 <
    * [[KatzAlphaDen]] guarantees convergence and the scaled-integer
    * trajectory stays far inside BIGINT (n_i ≤ 32^i · 32/8). */
  private val KatzAlphaDen = 32L
  private val KatzIters = 6

  /** x301: Katz centrality over the unweighted nation trade graph —
    * PageRank (x63) normalizes by out-degree, HITS (x77) by the
    * authority/hub split; Katz counts ALL walks into a node, length-k
    * walks attenuated by α^k: x = Σ_k α^k (Aᵀ)^k·1. Unrolled
    * [[KatzIters]] iterations of `x_{i+1} = 1 + α·Aᵀx_i` in EXACT
    * integers: n_i = x_i·32^i, so `n_{i+1}(v) = 32^{i+1} +
    * Σ_{u→v} n_i(u)` is pure BIGINT and the centrality ranking is
    * bit-stable cross-engine (the x63/x77 discipline, third member of
    * the family).
    *
    * Scale: k sparse matrix-vector joins, each a groupBy on dst —
    * iteration localCheckpoints so the unrolled lineage never
    * re-executes. */
  def katzCentrality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trade = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
    val edges = trade
      .unionByName(trade.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .localCheckpoint(true)
    val nodes = edges.select($"src".as("node")).distinct().localCheckpoint(true)
    val x0 = nodes.withColumn("n", lit(1L))
    val xFinal = (1 to KatzIters).foldLeft(x0) { (x, i) =>
      val scale = math.pow(KatzAlphaDen.toDouble, i).toLong
      val inc = edges.join(x.withColumnRenamed("node", "src"), "src")
        .groupBy($"dst".as("node")).agg(sum($"n").as("inc"))
      nodes.join(inc, Seq("node"), "left")
        .select($"node", (lit(scale) + coalesce($"inc", lit(0L))).as("n"))
        .localCheckpoint(true)
    }
    xFinal
      .join(broadcast(Tables.nation(spark, dir)), $"node" === $"n_nationkey")
      .select($"node".cast("long").as("nationkey"), $"n_name",
        $"n".as("katz_num"),
        QueryUtil.halfUp($"n".cast("double")
          / math.pow(KatzAlphaDen.toDouble, KatzIters), 6).as("katz"))
      .orderBy($"katz_num".desc, $"nationkey")
  }

  private val katzOracle = {
    def iter(prev: String, cur: String, i: Int): String = {
      val scale = math.pow(KatzAlphaDen.toDouble, i).toLong
      s"""$cur AS MATERIALIZED (
         |  SELECT n.node,
         |         $scale + COALESCE(s.inc, 0) AS n
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(x.n) AS BIGINT) AS inc
         |    FROM edges e JOIN $prev x ON x.node = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }
    val iters = (1 to KatzIters)
      .map(i => iter(s"x${i - 1}", s"x$i", i)).mkString(",\n")
    val denom = math.pow(KatzAlphaDen.toDouble, KatzIters)
    s"""WITH trade AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey <> s_nationkey),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM trade
       |  UNION SELECT dst, src FROM trade),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |x0 AS (SELECT node, CAST(1 AS BIGINT) AS n FROM nodes),
       |$iters
       |SELECT CAST(x.node AS BIGINT) AS nationkey, n_name,
       |       x.n AS katz_num,
       |       floor(CAST(x.n AS DOUBLE) / $denom * 1000000 + 0.5) / 1000000.0
       |         AS katz
       |FROM x$KatzIters x JOIN nation ON n_nationkey = x.node
       |ORDER BY katz_num DESC, nationkey""".stripMargin
  }

  /* Inverse-degree-weighted link prediction (the
   * resource-allocation index), single-changepoint detection by exact
   * SSE-gain binary segmentation, and the filtered-ANN pre-vs-post-filter
   * recall audit — the modern vector-search question "how much does
   * post-filtering a global top-K′ lose against filtering first?".
   * Elsewhere: x315 (TimeSeriesQueries); x316 (SimilarityQueries).
   */

  // ---------------------------------------------------------------- x314

  /** Part-degree cap shared with x66 (drops hub parts whose pair lists
    * explode quadratically and carry no affinity signal anyway). */
  private val RaDegCap = 20
  /** Fixed-point scale for the 1/deg weights (integer division keeps the
    * score a BIGINT both engines sum identically). */
  private val RaScale = 1000000000L

  /** x314: resource-allocation link prediction over the supplier–part
    * bipartite graph (Zhou–Lü–Zhang's RA index, the inverse-degree
    * counterpart of x66's raw shared-count Jaccard): a candidate
    * supplier pair scores Σ_z 1/deg(z) over shared parts z, so a part
    * supplied by few suppliers certifies affinity while a commodity
    * part contributes almost nothing. Weights are the EXACT integers
    * 10⁹ DIV deg(z) — the score is a BIGINT sum, order-free, and the
    * top-30 ranking never touches a double.
    *
    * Scale: same bounded projection as x66 — per-part pair lists are
    * ≤ cap² after the degree cap, the degree frames broadcast, and the
    * pair aggregation is one hash shuffle on (s1, s2). */
  def resourceAllocation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.lineitem(spark, dir)
      .select($"l_partkey".as("pk"), $"l_suppkey".as("sk")).distinct()
      .localCheckpoint(true) // referenced 3x: degree frame, both pair sides
    val pdeg = ps.groupBy($"pk").agg(count(lit(1)).as("d"))
      .filter($"d" <= RaDegCap)
      .select($"pk", expr(s"${RaScale}L DIV d").as("wq"))
    val ok = ps.join(broadcast(pdeg), "pk")
    ok.select($"pk", $"wq", $"sk".as("s1"))
      .join(ok.select($"pk", $"sk".as("s2")), "pk")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2")
      .agg(count(lit(1)).as("shared"), sum($"wq").as("ra_score"))
      .orderBy($"ra_score".desc, $"s1", $"s2")
      .limit(30)
  }

  private val resourceAllocationOracle =
    s"""WITH ps AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
       |pdeg AS (
       |  SELECT pk, $RaScale // count(*) AS wq FROM ps GROUP BY 1
       |  HAVING count(*) <= $RaDegCap),
       |ok AS MATERIALIZED (
       |  SELECT ps.pk, ps.sk, pdeg.wq FROM ps JOIN pdeg ON ps.pk = pdeg.pk)
       |SELECT a.sk AS s1, b.sk AS s2, CAST(count(*) AS BIGINT) AS shared,
       |       CAST(sum(a.wq) AS BIGINT) AS ra_score
       |FROM ok a JOIN ok b ON a.pk = b.pk AND a.sk < b.sk
       |GROUP BY 1, 2
       |ORDER BY ra_score DESC, s1, s2
       |LIMIT 30""".stripMargin

  /* The two classic subgraph-density operators
   * the graph suite still lacked — k-TRUSS decomposition (edge peeling by
   * triangle support; the community-core primitive one level finer than
   * x68's k-core) and DENSEST SUBGRAPH via the parallel peeling
   * 2(1+ε)-approximation of Bahmani, Kumar & Vassilvitskii (VLDB 2012),
   * the canonical MapReduce formulation. Both are fixed-round unrolled
   * fixpoints (the x63/x69 contract): every per-round census is BIGINT,
   * density comparisons are cross-multiplied exact rationals, and the
   * oracle walks the identical trajectory as materialized CTEs.
   */

  /** Truss parameter: edges must sit in ≥ k−2 = 2 triangles. */
  private val TrussK = 4
  /** Peeling rounds (fixture converges well within; spec asserts the
    * final edge set is an actual fixed point). */
  private val TrussRounds = 4
  /** Bahmani peeling rounds and the 2(1+ε) factor with ε = 0.5 → nodes
    * with deg < 3·m/n are removed each round (integer predicate
    * deg·n < 3m). */
  private val DsgRounds = 8

  /** The heavy-route nation trade graph (x65's edge rule): canonical
    * nation pairs whose lineitem count is ≥ the global mean pair count —
    * sparse enough that 4-truss peeling actually removes edges. */
  /** The weighted nation trade-pair census (a, b, w) — ONE copy shared by
    * x339's heavy-route filter and x355's MST costs (a third hand-rolled
    * copy was an r13 review finding). */
  private def nationPairCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select(least($"c_nationkey", $"s_nationkey").cast("long").as("a"),
        greatest($"c_nationkey", $"s_nationkey").cast("long").as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
  }

  /** Oracle-side rendering of [[nationPairCensus]] (a `pairs AS ...` CTE). */
  private val nationPairCensusSql =
    """pairs AS MATERIALIZED (
      |  SELECT least(c.c_nationkey, s.s_nationkey) AS a,
      |         greatest(c.c_nationkey, s.s_nationkey) AS b,
      |         CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2)""".stripMargin

  private def heavyTradeEdgesX339(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = nationPairCensus(spark, dir)
    val mean = pairs.agg((sum($"w") * 2L).as("w2"), count(lit(1)).as("np"))
    pairs.crossJoin(broadcast(mean))
      .filter($"w" * $"np" * 2L >= $"w2") // w >= mean, cross-multiplied
      .select($"a", $"b")
  }

  private val heavyTradeEdgesSql =
    s"""$nationPairCensusSql,
      |mean AS (SELECT CAST(sum(w) * 2 AS BIGINT) AS w2, CAST(count(*) AS BIGINT) AS np FROM pairs),
      |e0 AS MATERIALIZED (
      |  SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
      |  FROM pairs CROSS JOIN mean WHERE w * np * 2 >= w2)""".stripMargin

  // ---------------------------------------------------------------- x339

  /** x339: 4-truss of the heavy trade graph — repeatedly drop edges that
    * sit in fewer than 2 triangles among the SURVIVING edges, the
    * cohesion core one step stronger than k-core (every truss edge has
    * ≥ k−2 common neighbors inside the truss). Support per round comes
    * from the x64 ordered wedge join (a<b<c finds each triangle once;
    * all three sides are canonical pairs), exploded back to its three
    * edges. [[TrussRounds]] rounds unrolled; the emitted support is
    * RECOMPUTED on the final edge set so the fixed-point property
    * (all supports ≥ k−2) is visible — and spec-asserted.
    *
    * Scale: each round is two hash equi-joins (wedge + closure) and one
    * count — the standard distributed triangle shape; peeling only
    * shrinks the frame. Rounds are checkpointed so the plan stays
    * bounded (x63 rule). */
  def kTruss(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var edges = heavyTradeEdgesX339(spark, dir).localCheckpoint(true)
    def support(e: DataFrame): DataFrame = {
      val tri = e.select($"a", $"b")
        .join(e.select($"a".as("bj"), $"b".as("c")), $"b" === $"bj")
        .select($"a", $"b", $"c")
        .join(e.select($"a".as("ta"), $"b".as("tc")),
          $"a" === $"ta" && $"c" === $"tc")
        .select($"a", $"b", $"c")
      tri.select($"a", $"b")
        .unionByName(tri.select($"a", $"c".as("b")))
        .unionByName(tri.select($"b".as("a"), $"c".as("b")))
        .groupBy($"a", $"b").agg(count(lit(1)).as("cnt"))
    }
    (1 to TrussRounds).foreach { _ =>
      val sup = support(edges)
      edges = edges.join(sup, Seq("a", "b"))
        .filter($"cnt" >= (TrussK - 2).toLong)
        .select($"a", $"b")
        .localCheckpoint(true)
    }
    edges.join(support(edges), Seq("a", "b"), "left")
      .select($"a", $"b", coalesce($"cnt", lit(0L)).as("support"))
      .orderBy($"a", $"b")
  }

  private val kTrussOracle = {
    def round(i: Int): String = {
      val prev = s"e${i - 1}"
      s"""tri$i AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM $prev e1 JOIN $prev e2 ON e1.b = e2.a
         |  JOIN $prev e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sup$i AS (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT a, b FROM tri$i UNION ALL SELECT a, c FROM tri$i
         |        UNION ALL SELECT b, c FROM tri$i) GROUP BY 1, 2),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $prev e
         |  JOIN sup$i s ON s.a = e.a AND s.b = e.b
         |  WHERE s.cnt >= ${TrussK - 2})""".stripMargin
    }
    val rounds = (1 to TrussRounds).map(round).mkString(",\n")
    val fin = TrussRounds
    s"""WITH $heavyTradeEdgesSql,
       |$rounds,
       |triF AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM e$fin e1 JOIN e$fin e2 ON e1.b = e2.a
       |  JOIN e$fin e3 ON e3.a = e1.a AND e3.b = e2.b),
       |supF AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT a, b FROM triF UNION ALL SELECT a, c FROM triF
       |        UNION ALL SELECT b, c FROM triF) GROUP BY 1, 2)
       |SELECT e.a, e.b, coalesce(s.cnt, 0) AS support
       |FROM e$fin e LEFT JOIN supF s ON s.a = e.a AND s.b = e.b
       |ORDER BY e.a, e.b""".stripMargin
  }

  // ---------------------------------------------------------------- x340

  /** The part co-occurrence graph: canonical part pairs appearing in the
    * same order — sparse (orders hold a handful of parts) with genuine
    * degree skew from popular parts, so parallel peeling actually runs
    * several meaningful rounds (the near-complete co-SUPPLY graph is
    * regular: one round kills it). */
  private def coOccurEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val op = Tables.lineitem(spark, dir)
      .select($"l_orderkey".cast("long").as("o"), $"l_partkey".cast("long").as("p"))
      .distinct()
    op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
      .distinct()
  }

  private val coOccurEdgesSql =
    """op AS MATERIALIZED (
      |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS o, CAST(l_partkey AS BIGINT) AS p
      |  FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT x.p AS a, y.p AS b
      |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p)""".stripMargin

  /** x340: densest subgraph by parallel peeling (Bahmani et al., VLDB
    * 2012): each round removes EVERY node whose degree is below
    * 2(1+ε)·(m/n) — with ε = 0.5 the integer predicate deg·n < 3m — and
    * keeps the round whose edge/node ratio was highest. O(log n) rounds
    * suffice for the 2(1+ε) = 3-approximation; density ranking is done
    * with CROSS-MULTIPLIED BIGINTs (mᵣ·nₛ vs mₛ·nᵣ), never a double
    * division, so the argmax round (earliest on ties) is exact. Emits
    * the per-round (n, m) trace with the best round flagged.
    *
    * Scale: a round is one degree aggregation plus two semi-join
    * filters — no triangles, no sort; exactly the shape the paper ran
    * on MapReduce. Frames only shrink; rounds are checkpointed. */
  def densestSubgraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var edges = coOccurEdges(spark, dir).localCheckpoint(true)
    var trace: DataFrame = null
    (0 until DsgRounds).foreach { r =>
      // ONE degree pass per round doubles as the stats pass: n = |deg| (a
      // node appears iff it has an edge) and m = Σdeg/2 exactly (every edge
      // contributes 2 to Σdeg) — the separate edge-count and node-distinct
      // passes over the edge frame are gone. deg is checkpointed so the
      // stats scalar, the keep filter, and the trace row all read the tiny
      // per-round frame instead of re-scanning edges.
      val deg = edges.select($"a".as("node")).unionByName(edges.select($"b".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        coalesce(expr("sum(deg) DIV 2"), lit(0L)).as("m_edges"))
      val row = stats.select(lit(r.toLong).as("round"), $"n_nodes", $"m_edges")
      trace = if (trace == null) row else trace.unionByName(row)
      val keep = deg.crossJoin(broadcast(stats))
        .filter($"deg" * $"n_nodes" >= lit(3L) * $"m_edges")
        .select($"node")
      edges = edges
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "leftsemi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "leftsemi")
        .select($"a", $"b")
        .localCheckpoint(true)
    }
    val t = trace.filter($"n_nodes" > 0L).localCheckpoint(true)
    val flagged = t.as("r").join(t.as("s"), lit(true))
      .groupBy(col("r.round").as("round"), col("r.n_nodes").as("n_nodes"),
        col("r.m_edges").as("m_edges"))
      .agg(min(when(col("r.m_edges") * col("s.n_nodes") >=
        col("s.m_edges") * col("r.n_nodes"), 1L).otherwise(0L)).as("is_max"))
    val bestRound = flagged.filter($"is_max" === 1L)
      .agg(min($"round").as("best_round"))
    flagged.crossJoin(broadcast(bestRound))
      .select($"round", $"n_nodes", $"m_edges",
        QueryUtil.halfUp4($"m_edges".cast("double") / $"n_nodes".cast("double")).as("dens"),
        when($"round" === $"best_round", 1L).otherwise(0L).as("best"))
      .orderBy($"round")
  }

  private val densestSubgraphOracle = {
    val rounds = (0 until DsgRounds).map { r =>
      val e = s"e$r"
      s"""stat$r AS (
         |  SELECT CAST($r AS BIGINT) AS round,
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |            (SELECT DISTINCT node FROM
         |               (SELECT a AS node FROM $e UNION ALL SELECT b FROM $e))) AS n_nodes,
         |         (SELECT CAST(count(*) AS BIGINT) FROM $e) AS m_edges),
         |deg$r AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS node FROM $e UNION ALL SELECT b FROM $e) GROUP BY 1),
         |keep$r AS (
         |  SELECT d.node FROM deg$r d CROSS JOIN stat$r s
         |  WHERE d.deg * s.n_nodes >= 3 * s.m_edges),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $e e
         |  WHERE e.a IN (SELECT node FROM keep$r)
         |    AND e.b IN (SELECT node FROM keep$r))""".stripMargin
    }.mkString(",\n")
    val statUnion = (0 until DsgRounds).map(r => s"SELECT * FROM stat$r").mkString(" UNION ALL ")
    s"""WITH $coOccurEdgesSql,
       |$rounds,
       |trace AS (SELECT * FROM ($statUnion) WHERE n_nodes > 0),
       |flagged AS (
       |  SELECT r.round, r.n_nodes, r.m_edges,
       |         min(CASE WHEN r.m_edges * s.n_nodes >= s.m_edges * r.n_nodes
       |                  THEN 1 ELSE 0 END) AS is_max
       |  FROM trace r CROSS JOIN trace s
       |  GROUP BY 1, 2, 3),
       |best AS (SELECT min(round) AS best_round FROM flagged WHERE is_max = 1)
       |SELECT round, n_nodes, m_edges,
       |       floor(CAST(m_edges AS DOUBLE) / CAST(n_nodes AS DOUBLE) * 10000 + 0.5) / 10000.0 AS dens,
       |       CAST(CASE WHEN round = (SELECT best_round FROM best) THEN 1 ELSE 0 END AS BIGINT) AS best
       |FROM flagged ORDER BY round""".stripMargin
  }

  /* The minimum spanning tree — the one
   * classic graph family member (Kruskal/Prim/Borůvka; single-linkage
   * clustering's backbone) the graph suite still lacked. The engine side
   * runs BORŮVKA — the canonical distributed MST (each component picks
   * its minimum outgoing edge per round, components contract, O(log n)
   * rounds) — while the oracle runs PRIM as a one-row-state recursive CTE
   * (visited list + ORDER BY/LIMIT 1 step). They are comparable at all
   * because the edge costs are made STRICTLY DISTINCT (cost = w·4096 +
   * a·64 + b, a deterministic perturbation), and a graph with distinct
   * weights has a UNIQUE MST — so two completely different algorithms
   * must emit the identical edge set, which is exactly what the oracle
   * gate then proves.
   */

  /** Borůvka rounds (components at least halve per round; 25 nodes
    * converge in ≤ 5). */
  private val BoruvkaRounds = 5
  /** The full nation trade graph with traffic weights and the
    * distinct-cost perturbation. */
  private[graft] def tradeWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    nationPairCensus(spark, dir)
      .withColumn("d", $"w" * 4096L + $"a" * 64L + $"b")
  }

  private val tradeWeightedSql =
    s"""${nationPairCensusSql},
      |edges AS MATERIALIZED (
      |  SELECT a, b, w, w * 4096 + a * 64 + b AS d FROM pairs)""".stripMargin

  /** x355: MST of the trade graph by distributed Borůvka. Per round:
    * contract by labeling nodes with the connected components of the
    * tree built so far (the audited large-star/small-star fixpoint),
    * then every component ranks its outgoing edges by the distinct cost
    * and keeps rank 1 — chosen edges join the tree. Emits the tree edge
    * set (a, b, w); the oracle's sequential Prim must produce the same
    * rows because distinct costs make the MST unique.
    *
    * Scale: each round is one edge-label join, one per-component window
    * rank, and label-frame joins — all hash-partitioned, no global
    * structure; rounds are O(log n) and frames shrink. This is the
    * textbook MapReduce MST shape; the trade graph is nation-grain here
    * but the plan is the one you would run on a billion-edge graph. */
  def mstBoruvka(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = tradeWeighted(spark, dir).localCheckpoint(true)
    val nodes = edges.select($"a".as("node"))
      .unionByName(edges.select($"b".as("node"))).distinct()
      .localCheckpoint(true)
    val nNodes = nodes.count()
    var mst: DataFrame = null
    var round = 0
    var converged = false
    while (round < BoruvkaRounds && !converged) {
      round += 1
      // contraction = connected components of the tree-so-far: reuses the
      // audited large-star/small-star fixpoint instead of hand-rolled
      // pointer jumping (a first cut chained self-left-joins per jump —
      // Spark has no common-subplan reuse across a self-join, so the
      // EXECUTION tree doubled per jump: 2^k broadcast-subtree runs,
      // 140 s on a 25-node graph)
      val lab =
        if (mst == null) nodes.select($"node", $"node".as("component"))
        else graft.operators.Components.connectedComponentsStars(
          spark, nodes, mst.select($"a", $"b"), "node")
      val el = edges
        .join(lab.select($"node".as("a"), $"component".as("la")), "a")
        .join(lab.select($"node".as("b"), $"component".as("lb")), "b")
        .filter($"la" =!= $"lb")
      val cand = el.select($"la".as("comp"), $"d", $"a", $"b", $"w")
        .unionByName(el.select($"lb".as("comp"), $"d", $"a", $"b", $"w"))
      val pick = cand
        .withColumn("rn", row_number().over(Window.partitionBy($"comp").orderBy($"d")))
        .filter($"rn" === 1)
        .select($"a", $"b", $"w")
        .distinct()
        .localCheckpoint(true)
      mst = if (mst == null) pick
      else mst.unionByName(pick).localCheckpoint(true)
      // Standard Borůvka termination (r16): once the tree SPANS (n−1 edges,
      // connected case) or a round picks no edge (no inter-component edges
      // remain — disconnected case), every later round re-runs the whole
      // components fixpoint + edge-label join to add zero edges. Both
      // counts are one cheap scan of an already-checkpointed frame; the
      // emitted edge set is identical because converged rounds are no-ops
      // (an edge inside a component never passes the la ≠ lb filter).
      // PRECONDITION (see scaladoc): edge costs d are DISTINCT, which keeps
      // every per-round pick set acyclic (classic Borůvka) — so n−1 picked
      // edges can only mean a spanning tree. If duplicate costs were ever
      // allowed, count() == n−1 could be hit by a non-spanning multigraph
      // pick set and this early exit would be wrong.
      converged = pick.isEmpty || mst.count() == nNodes - 1
    }
    mst.select($"a", $"b", $"w").orderBy($"a", $"b")
  }

  private val mstOracle =
    s"""WITH RECURSIVE $tradeWeightedSql,
       |start AS (SELECT min(a) AS s FROM edges),
       |prim AS (
       |  SELECT 0 AS step, [CAST(s AS BIGINT)] AS visited,
       |         CAST(NULL AS BIGINT) AS ea, CAST(NULL AS BIGINT) AS eb,
       |         CAST(NULL AS BIGINT) AS ew
       |  FROM start
       |  UNION ALL
       |  (SELECT p.step + 1,
       |          list_append(p.visited,
       |            CASE WHEN list_contains(p.visited, e.a) THEN e.b ELSE e.a END),
       |          e.a, e.b, e.w
       |   FROM prim p JOIN edges e
       |     ON list_contains(p.visited, e.a) <> list_contains(p.visited, e.b)
       |   ORDER BY e.d LIMIT 1))
       |SELECT ea AS a, eb AS b, ew AS w FROM prim WHERE ea IS NOT NULL
       |ORDER BY a, b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
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
      tradeKCore, Some(kcoreOracle)),
    QueryDef("x134_label_spreading",
      "semi-supervised pseudo-labeling: 3-round clamped majority propagation over the symmetrized cosine top-5 graph, scored per class",
      labelSpreading, Some(labelSpreadingOracle)),
    QueryDef("x210_modularity",
      "weighted modularity of the nation partition over the x66 co-supply graph: per-community quantized terms plus replicated total",
      modularity, Some(modularityOracle)),
    QueryDef("x211_assortativity",
      "degree assortativity of the co-supply graph: exact integer moments over the symmetrized edge list, one IEEE sqrt",
      assortativity, Some(assortativityOracle)),
    QueryDef("x223_harmonic_closeness",
      "harmonic closeness centrality via all-pairs unrolled BFS on the nation trade graph: exact integer 1/d sums",
      harmonicCloseness, Some(harmonicOracle)),
    QueryDef("x224_morans_i",
      "Moran's I of mean acctbal over trade adjacency: integer deviations (N-scaled), one final double division",
      moransI, Some(moransOracle)),
    QueryDef("x247_label_propagation",
      "weighted synchronous LPA communities on the trade graph",
      labelPropagation, Some(labelPropagationOracle)),
    QueryDef("x250_betweenness",
      "exact betweenness centrality via all-pairs sigma-BFS",
      betweenness, Some(betweennessOracle)),
    QueryDef("x262_luby_mis",
      "Luby maximal independent set, deterministic hash priorities, convergence-audited",
      lubyMis, Some(lubyMisOracle)),
    QueryDef("x301_katz_centrality",
      "Katz centrality: unrolled attenuated walk counts in exact scaled integers (third of the x63/x77 family)",
      katzCentrality, Some(katzOracle)),
    QueryDef("x314_resource_allocation",
      "RA-index link prediction on the supplier-part bipartite graph: exact integer 1/deg weights, bounded projection, BIGINT ranking",
      resourceAllocation, Some(resourceAllocationOracle)),
    QueryDef("x339_ktruss",
      "4-truss edge peeling on the heavy trade graph: per-round triangle support via ordered wedge joins, fixed-point asserted",
      kTruss, Some(kTrussOracle)),
    QueryDef("x340_densest_subgraph",
      "Densest subgraph by Bahmani parallel peeling (VLDB'12) on the part co-occurrence graph: cross-multiplied exact density argmax",
      densestSubgraph, Some(densestSubgraphOracle)),
    QueryDef("x355_mst_boruvka",
      "MST by distributed Boruvka vs a sequential recursive-CTE Prim oracle: distinct perturbed costs make the unique MST the meeting point",
      mstBoruvka, Some(mstOracle)))
}
