package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation PLUS pointer jumping — the
  * step that turns near-dup PAIRS into dedup GROUPS (keep one canonical doc
  * per component).
  *
  * Each node starts labeled with its own id; every iteration each node
  * first takes the min of its label and its neighbors' labels (propagation,
  * +1 hop of reach), then jumps through the label map once more
  * (`L(u) := min(L(u), L_prev(L(u)))` — Shiloach–Vishkin-style shortcut,
  * which roughly DOUBLES the reach per round). At fixpoint every node
  * carries the min id of its component (deterministic canonical
  * representative).
  *
  * Why the jump preserves correctness: the invariant is that `L(u)` is
  * always the id of a node in u's component with `L(u) <= u` — true at
  * init, preserved by neighbor mins (neighbors share the component) and by
  * jumps (`L_prev(L(u))` is in `L(u)`'s = u's component). A state that is
  * a fixpoint of the NEIGHBOR step alone is already fully labeled: if some
  * edge (u,w) had `L(u) = m < L(w)`, w would still change — so the
  * exhaustion check below needs only the propagation condition.
  *
  * Scale: per iteration, the neighbor join + aggregate, a distinct-label
  * shortcut build, and the (AQE-broadcastable, skew-free) jump join — all
  * keyed shuffles; iterations needed = O(log diameter) — a 400-hop chain
  * labels in ~10 rounds where pure propagation needs 400 (ScaleSpec-proven).
  * `localCheckpoint` per iteration truncates the self-referential lineage,
  * the same hazard mergeIncremental documents.
  */
object Components {

  /** @param nodes  one column `idCol`
    * @param edges  two columns `a`, `b` (undirected, a < b convention fine)
    * @param maxIter iteration budget — a safety rail, NOT a silent
    *                truncation: the loop runs to fixpoint and THROWS if the
    *                budget is exhausted first (labels would be wrong for
    *                components with diameter > maxIter).
    * @return (idCol, component) where component = min id reachable */
  def connectedComponents(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                          idCol: String, maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(spark, nodes, edges, idCol, maxIter)._1

  /** [[connectedComponents]] plus the number of iterations the fixpoint
    * took — the observable ScaleSpec uses to compare convergence speed
    * across algorithms. */
  def connectedComponentsWithRounds(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                                    idCol: String, maxIter: Int = 50): (DataFrame, Int) = {
    // symmetric edge list: neighbor view in both directions. Materialized
    // once — the edge source may be an expensive pipeline (e.g. the LSH
    // candidate join) and every iteration references it again.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    var labels = nodes.select(col(idCol), col(idCol).as("component")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    // `changed` counts labels updated IN the iteration that just ran, so a
    // graph whose fixpoint lands exactly on the last budgeted iteration ends
    // the loop with changed > 0 despite correct labels. Budget exhaustion
    // therefore triggers one extra VERIFICATION pass (would any label still
    // change?) before declaring failure.
    while (changed > 0 && iter < maxIter) {
      // each node pulls the min label among its neighbors, then shortcuts
      // once through the previous label map (pointer jump); the convergence
      // flag rides along in the same projection, so the count of changed
      // rows is a cheap scan of the checkpointed result — one materializing
      // job per iteration instead of a second label-vs-label join.
      val neighborMin = sym
        .join(labels.withColumnRenamed(idCol, "dst"), Seq("dst"))
        .groupBy(col("src").as(idCol))
        .agg(min(col("component")).as("nmin"))
      // jump map, built from the ALREADY-CHECKPOINTED previous labels (not
      // this round's l1, which would need its own materialization to be
      // safe to reference twice): for each DISTINCT current label value v,
      // the shortcut v -> L_prev(v). Keying the row join on the label value
      // directly would concentrate a whole component onto one shuffle key
      // as labels converge (hot-key skew); the distinct() collapses the
      // duplicates in map-side partial aggregation first, and the shortcut
      // frame SHRINKS toward #components as convergence proceeds, so AQE
      // flips the row join to a broadcast — no big-side shuffle at exactly
      // the iterations where the skew would bite. Jumping through the
      // stale map still doubles reach per round.
      val shortcut = labels.select(col("component").as("__jid")).distinct()
        .join(labels.select(col(idCol).as("__jnode"), col("component").as("__jcomp")),
          col("__jid") === col("__jnode"))
        .select(col("__jid"), col("__jcomp"))
      val updated = labels.join(neighborMin, Seq(idCol), "left")
        .select(col(idCol), col("component").as("__prev"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("l1"))
        .join(shortcut, col("l1") === col("__jid"), "left")
        .select(col(idCol),
          least(col("l1"), coalesce(col("__jcomp"), col("l1"))).as("component"),
          col("__prev"))
        .select(col(idCol), col("component"),
          (col("component") < col("__prev")).cast("long").as("__chg"))
        .localCheckpoint(true)
      changed = updated.agg(coalesce(sum(col("__chg")), lit(0L))).first().getLong(0)
      labels = updated.drop("__chg")
      iter += 1
    }
    if (changed > 0) {
      val wouldChange = sym
        .join(labels.withColumnRenamed(idCol, "dst"), Seq("dst"))
        .groupBy(col("src").as(idCol))
        .agg(min(col("component")).as("nmin"))
        .join(labels, Seq(idCol))
        .filter(col("nmin") < col("component"))
        .count()
      if (wouldChange > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter iterations " +
            s"($wouldChange labels still changing) — raise maxIter " +
            s"(pointer jumping needs ~log2(diameter) iterations)")
    }
    (labels, iter)
  }

  /** Connected components by LARGE-STAR / SMALL-STAR alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the billion-edge-scale upgrade over [[connectedComponents]]'s
    * min-label + pointer-jumping loop.
    *
    * The state is an EDGE set (always oriented larger → smaller), not a
    * label table. Each round:
    *   - large-star: every node u connects its strictly-LARGER neighbors
    *     directly to `m = min(Γ(u) ∪ u)` — emit (v, m) for v ∈ Γ(u), v > u;
    *   - small-star: every node u (now seeing only smaller neighbors)
    *     rewires them all, and itself, to its minimum — emit (v, m) for
    *     v ∈ Γ⁻(u) \ {m} plus (u, m).
    * Both operations preserve connectivity (every emitted edge connects
    * nodes of the same original component, and every node keeps a path to
    * its component min), and the fixpoint is a STAR FOREST: each node
    * points directly at its component's min id. Detected structurally —
    * the edge set is a star forest iff no edge's head (`dst`) still has an
    * outgoing edge — rather than by an edge-set diff.
    *
    * Why it beats pointer jumping at extreme scale: the state never
    * exceeds the (deduplicated) edge count and provably SHRINKS
    * monotonically (paper Lemma 4: total edges never grow; stars collapse
    * whole neighborhoods per round), convergence is O(log² n) worst-case
    * and ~log n observed, and both phases are plain keyed aggregations +
    * equi-joins — no label-table join whose hot key is the converged
    * component id. The min-label loop stays the default for shallow
    * near-dup graphs (its per-round constant is smaller: one join vs two
    * phases); ScaleSpec proves the stars variant labels a 200-hop chain
    * in strictly fewer rounds.
    *
    * @return (labels, rounds) — labels as in [[connectedComponents]]:
    *         (idCol, component = min id of the component). */
  def connectedComponentsStarsWithRounds(spark: SparkSession, nodes: DataFrame,
                                         edges: DataFrame, idCol: String,
                                         maxIter: Int = 50): (DataFrame, Int) = {
    // canonical larger→smaller orientation, self-loops and duplicates out
    var e = edges
      .select(greatest(col("a"), col("b")).as("src"), least(col("a"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    var iter = 0
    // Fresh ExprIds for one side of every self-join below: both sides
    // sharing one LogicalRDD leaf with identical attribute ids trips an
    // internal "key not found: src#N" in DeduplicateRelations-under-AQE on
    // some graph shapes; an explicit re-alias sidesteps it determinately.
    def realias(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
    // star forest iff no dst is itself the src of a remaining edge AND
    // every src has exactly one parent. The second conjunct is NOT implied
    // by the first: edges (u→r1, u→r2) with r1, r2 both sinks pass the
    // chain check but leave u in two "components" that are really one —
    // the final label join then emits u twice with r1 ≠ r2 (hit on x179's
    // base-edge subset at sf0.01: 501 label rows for 500 nodes; one more
    // small-star round resolves it, the loop just has to keep going).
    //
    // Both conjuncts are counted in ONE aggregation pass over a per-node
    // (out-degree s, in-degree d) census: chains = Σ_{n: s>0} d (each edge
    // whose dst is also a src) and multiParent = #{n: s>1} — value-identical
    // to the former semi-join count + groupBy count, but one job and one
    // full exchange per round instead of two of each (r16: the check ran
    // 2× per round on every components consumer — x14/x179/x180/x185/x244/
    // x364 — and the edge state is checkpointed, so the extra pass was pure
    // convergence-probe overhead).
    def notStar(cur: DataFrame): Long =
      starCensusPending(cur).first().getLong(0)
    // SMALL-STAR attaches the per-node min via a window over the node's
    // partition instead of a groupBy + self-join + union (r17): same min,
    // ONE pass, and the large-star intermediate is then referenced exactly
    // once — so `ls` no longer needs its own localCheckpoint and a round
    // runs as two jobs (ss checkpoint + census probe) instead of three.
    // Small-star's group key is v (each rewired node, a FEW parents each)
    // — the hot key of a star graph is the VALUE m, never the window
    // partition key, so the sort adds no skew exposure. LARGE-STAR keeps
    // the groupBy + join: its group key IS the hot star center (measured
    // r17: the window variant regressed x179 +21% / x185 +17%, the
    // incremental-components star shapes, because one window partition
    // sorts the whole hot neighborhood that AQE used to skew-split).
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    var pending = notStar(e)
    while (pending > 0 && iter < maxIter) {
      // LARGE-STAR over symmetric neighborhoods: m reduces map-side (min
      // agg), the emit join keys on the node — star centers are hot keys,
      // which AQE skew-splits; the alternation is what bounds how long any
      // center stays hot (its large neighbors leave for m every round).
      val sym = e.unionByName(
        realias(e).select(col("dst").as("src"), col("src").as("dst")))
      val mn = realias(sym).groupBy("src").agg(min(col("dst")).as("nmin"))
        .select(col("src").as("u"), least(col("nmin"), col("src")).as("m"))
      val ls = sym.join(mn, col("src") === col("u"))
        .filter(col("dst") > col("src"))
        // v > u >= m, so the emitted (v, m) keeps the larger→smaller invariant
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // SMALL-STAR: every neighbor is smaller now; rewire them (and u) to
      // m = min(Γ⁻(u)) (≤ every dst < src). The one row per group whose dst
      // IS the min carries u's own rewire (u, m) — the same emission set as
      // the former mn2 join + union, row for row. distinct() collapses the
      // duplicate (v, m) emissions in map-side partial aggregation.
      val ss = ls
        .withColumn("m", min(col("dst")).over(wSrc))
        .select(when(col("dst") === col("m"), col("src")).otherwise(col("dst")).as("src"),
          col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true)
      e = ss
      pending = notStar(e)
      iter += 1
    }
    if (pending > 0)
      throw new IllegalStateException(
        s"connectedComponentsStars did not converge in $maxIter rounds " +
          s"($pending edges not yet star-shaped) — raise maxIter")
    // star forest → labels: edge (u, m) labels u with m; centers and
    // isolated nodes label themselves.
    val lab = e.select(col("src").as(idCol), col("dst").as("component"))
    val labels = nodes.select(col(idCol))
      .join(lab, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
    (labels, iter)
  }

  /** The stars loop's convergence probe as ONE plannable aggregation
    * (r16; the per-round driver action `notStar` above): a per-node
    * (out-degree s, in-degree d) census of the current edge state, reduced
    * to the single pending count chains + multiParent =
    * Σ_{n: s>0} d + #{n: s>1}. */
  private def starCensusPending(cur: DataFrame): DataFrame = {
    // fresh ExprIds for the second reference of `cur` — same
    // DeduplicateRelations-under-AQE hazard the loop's realias documents
    val dstSide = cur.select(cur.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
      .select(col("dst").as("n"), lit(0L).as("s"), lit(1L).as("d"))
    val census = cur.select(col("src").as("n"), lit(1L).as("s"), lit(0L).as("d"))
      .unionByName(dstSide)
      .groupBy(col("n"))
      .agg(sum(col("s")).as("s"), sum(col("d")).as("d"))
    census.agg(coalesce(sum(
        when(col("s") > 0, col("d")).otherwise(0L)
          + when(col("s") > 1, 1L).otherwise(0L)), lit(0L)).as("pending"))
  }

  /** See [[connectedComponentsStarsWithRounds]]. */
  def connectedComponentsStars(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                               idCol: String, maxIter: Int = 50): DataFrame =
    connectedComponentsStarsWithRounds(spark, nodes, edges, idCol, maxIter)._1

  /** Incremental component maintenance under INSERT-ONLY delta edges: the
    * old edge set is never rescanned — each labeled node contributes one
    * virtual (id → component) edge instead, which compresses every old
    * component to a star of diameter ≤ 2, so the fixpoint's round count
    * scales with the DELTA's structure, not the old graph's diameter
    * (spec-measured: a 200-node chain labels in ~9 rounds from scratch,
    * but re-labels in ≤ 4 after a delta edge when seeded this way).
    * Precondition: delta endpoints appear in `oldLabels` (label every node
    * up front — the x14 pipeline labels the whole corpus).
    *
    * Correctness: components(labelEdges ∪ ΔE) = components(E ∪ ΔE)
    * because the label edges connect exactly the node sets the old edges
    * connected — oracle-proven by `x179_incremental_components` (full
    * transitive-closure recompute over E ∪ ΔE). */
  def mergeDeltaEdges(spark: SparkSession, oldLabels: DataFrame,
                      deltaEdges: DataFrame, idCol: String,
                      maxIter: Int = 50): (DataFrame, Int) = {
    val labelEdges = oldLabels
      .filter(col(idCol) =!= col("component"))
      .select(col(idCol).as("a"), col("component").as("b"))
    connectedComponentsStarsWithRounds(spark,
      oldLabels.select(col(idCol)),
      labelEdges.unionByName(deltaEdges.select(col("a"), col("b"))),
      idCol, maxIter)
  }
}
