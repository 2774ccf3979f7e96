package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector-similarity operators over `ArrayType(FloatType)` embedding columns
  * (north star X3). The dot product is the native codegen'd `vec_dot`
  * expression (graft.functions.FloatVecDot) — element-wise double cast,
  * sequential sum, bit-identical to the declarative
  * `aggregate(zip_with(...))` it replaced but ~50× faster on pair joins
  * because the loop runs inside whole-stage codegen.
  *
  * Scale (100 TB): brute-force top-k = broadcast the (small) query set,
  * single corpus scan, per-query top-k; approximate path = sign-LSH
  * bucketing so the join only meets candidates in the same hyperoctant.
  * Precompute norms per row BEFORE any pair join (norm is O(dim) — doing it
  * per pair multiplies work by the candidate count).
  */
object Similarity {

  /** Requires GraftFunctions.register (done by EngineSession.create and by
    * SparkEntry for sessions a caller hands in). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Full cosine. On pair joins prefer `dot(a,b) / (normA * normB)` with
    * norms precomputed per side — identical doubles, O(dim) less work per
    * pair. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sign-projection LSH bucket: '0'/'1' string of the signs of the first
    * `bits` dimensions. (A fixed coordinate basis is a valid random-projection
    * family for unit vectors with no preferred axis — and keeps the bucket
    * exactly reproducible in SQL; a seeded random basis would go in a custom
    * Expression.) */
  def signBucket(v: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(v, i) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** Fixed-point scale for hash-stable centroid means: coordinates are
    * quantized HALF-UP (`floor(x * 1e6 + 0.5)`) to integer multiples of 1e-6
    * BEFORE summing, so the per-cluster sum is an exact BIGINT — identical
    * under any accumulation order and in any engine. Half-up (not plain
    * floor) so the quantization is unbiased: truncation toward -inf would
    * bias every mean coordinate downward by up to 1e-6. (A float/double mean
    * would depend on partition sum order and could never hash-match a
    * sequential oracle.) */
  val CentroidFixedPoint = 1000000.0

  /** Lloyd refinement for the IVF coarse quantizer: assign every vector to
    * its nearest centroid (cosine compared UNROUNDED — both engines hold
    * identical IEEE doubles, and a decimal round() would add a .5-boundary
    * divergence channel; deterministic tiebreak on cent_id), replace each
    * centroid with
    * the mean of its assigned vectors, repeat. The explode → groupBy(cent,
    * dim) → re-assemble shape keeps the whole iteration declarative: one
    * broadcast join + two keyed shuffles per iteration, no driver-side
    * vectors — at 100 TB the assignment scan dominates exactly as it should.
    *
    * HASH-STABLE BY CONSTRUCTION: each coordinate is quantized to fixed
    * point (`floor(x * 1e6 + 0.5)` as BIGINT, half-up) before the sum, so
    * the cluster mean is derived from an exact integer sum — independent of
    * partition count and accumulation order — then divided and cast to
    * float. A DuckDB oracle running the same integer arithmetic reproduces
    * the trained centroids bit-for-bit: x35_ivf_trained_topk runs this
    * training and hash-matches its oracle (float means were the round-3
    * blocker).
    *
    * @param emb (vec_id, embedding, nrm)
    * @param cents (cent_id, cv, cn)
    * @return refined (cent_id, cv, cn) */
  def refineCentroids(emb: org.apache.spark.sql.DataFrame,
                      cents: org.apache.spark.sql.DataFrame,
                      iters: Int): org.apache.spark.sql.DataFrame = {
    var cur = cents
    for (_ <- 0 until iters) {
      // argmax as a hash AGGREGATE, not a window: argmax_vec (graft
      // TypedImperativeAggregate → ObjectHashAggregate, map-side partials,
      // no sort) picks exactly the "ORDER BY ccos DESC, cent_id ASC LIMIT 1
      // per vec_id" row, NaN-above-all included.
      val assigned = emb.crossJoin(broadcast(cur))
        .groupBy(col("vec_id"))
        .agg(call_function("argmax_vec",
          dot(col("embedding"), col("cv")) / (col("nrm") * col("cn")),
          col("cent_id"), col("embedding")).as("a"))
        .select(col("a.id").as("cent_id"), col("a.vec").as("embedding"))
      // cluster means from ONE elementwise fixed-point aggregate (exact
      // integer sums, order-free) — same values as the posexplode →
      // groupBy(cent, dim) → sort_array re-assembly it replaces.
      val means = assigned
        .groupBy(col("cent_id"))
        .agg(call_function("vec_sum_fp", col("embedding"), lit(CentroidFixedPoint)).as("sx"),
          count(lit(1)).as("nx"))
        .select(col("cent_id"),
          transform(col("sx"), sxj =>
            (sxj.cast("double") / (col("nx").cast("double") * CentroidFixedPoint))
              .cast("float")).as("mv"))
        .withColumn("mn", norm(col("mv")))
      // keep the previous centroid when its cluster went empty (it would
      // silently vanish from the groupBy) or degenerated to the zero vector
      // (norm 0 → NaN cosines, which sort ABOVE every real value under
      // desc and would capture all assignments next iteration)
      cur = cur.select(col("cent_id"), col("cv").as("prev_cv"), col("cn").as("prev_cn"))
        .join(means, Seq("cent_id"), "left")
        .select(col("cent_id"),
          when(col("mn") > 0, col("mv")).otherwise(col("prev_cv")).as("cv"),
          when(col("mn") > 0, col("mn")).otherwise(col("prev_cn")).as("cn"))
        // pin each round (tiny frame): iteration k+1 references `cur`
        // twice (assignment join + empty-cell fallback), so a lazy chain
        // re-executes round k's full assignment 2-3x per further round —
        // multi-iteration training was paying ~2^iters plan blowup
        .localCheckpoint(true)
    }
    cur
  }

  /** Lloyd refinement for PQ sub-codebooks under SQUARED L2 — the actual
    * PQ training objective ([[refineCentroids]] is the spherical/cosine
    * variant for the IVF coarse quantizer; sub-vectors are not unit, so
    * cosine would be wrong here). Same cross-engine determinism recipe:
    * the assignment distance uses the three-dot expansion |s|² − 2·s·c +
    * |c|² UNROUNDED — the doubles are identical IEEE values in both
    * engines, so comparing them directly is engine-stable, while a
    * decimal round() would ADD a divergence channel (Spark rounds the
    * shortest decimal rendering half-up, DuckDB rounds the binary value;
    * they disagree exactly on .5-boundary renderings) — with a
    * deterministic tiebreak on the code, and
    * the cluster means are derived from HALF-UP 1e-6 fixed-point integer
    * sums — accumulation-order-free, so a sequential SQL oracle reproduces
    * the trained codebook bit-for-bit. Empty cells keep their previous
    * centroid (L2 has no zero-vector degeneracy beyond emptiness).
    *
    * @param sub (vec_id, s, sv) sub-vector per vector and subspace
    * @param cb  (s, c, cv) seed codebook
    * @return refined (s, c, cv) */
  def refinePqCodebook(sub: org.apache.spark.sql.DataFrame,
                       cb: org.apache.spark.sql.DataFrame,
                       iters: Int): org.apache.spark.sql.DataFrame = {
    var cur = cb
    for (_ <- 0 until iters) {
      // argmin as a hash AGGREGATE: argmin_vec (graft
      // TypedImperativeAggregate → ObjectHashAggregate, map-side partials,
      // no sort) picks exactly the "ORDER BY d2, c LIMIT 1 per (vec_id, s)"
      // row.
      val assigned = sub.join(broadcast(cur), "s")
        .groupBy(col("vec_id"), col("s"))
        .agg(call_function("argmin_vec",
          dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cv"))
            + dot(col("cv"), col("cv")),
          col("c"), col("sv")).as("a"))
        .select(col("s"), col("a.id").as("c"), col("a.vec").as("sv"))
      // cluster means from ONE elementwise fixed-point aggregate (exact
      // integer sums, order-free) — same values as the posexplode →
      // groupBy(s, c, dim) → sort_array re-assembly it replaces.
      val means = assigned
        .groupBy(col("s"), col("c"))
        .agg(call_function("vec_sum_fp", col("sv"), lit(CentroidFixedPoint)).as("sx"),
          count(lit(1)).as("nx"))
        .select(col("s"), col("c"),
          transform(col("sx"), sxj =>
            (sxj.cast("double") / (col("nx").cast("double") * CentroidFixedPoint))
              .cast("float")).as("mv"))
      cur = cur.select(col("s"), col("c"), col("cv").as("prev_cv"))
        .join(means, Seq("s", "c"), "left")
        .select(col("s"), col("c"), coalesce(col("mv"), col("prev_cv")).as("cv"))
        // pin each round — same 2-3x-per-round lineage blowup as
        // refineCentroids; the frame is M*K rows
        .localCheckpoint(true)
    }
    cur
  }
}
