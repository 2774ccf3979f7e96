package graft

import org.apache.spark.sql.functions._

/** Retrieval-tier invariants (x80 BM25, x81 RRF fusion): rank shape, score
  * monotonicity, and fusion membership/dominance. */
class RetrievalQueriesSpec extends SparkTestBase {
  import spark.implicits._

  test("x80/x81: BM25 output is well-formed and RRF fuses only member candidates") {
    import graft.queries.RetrievalQueries
    val bm = RetrievalQueries.bm25TopK(spark, sfDir).cache()
    // Dense ranks 1..5 per query, positive non-increasing scores, no self.
    val perQ = bm.groupBy($"q_id").agg(count(lit(1)).as("n"), max($"rk").as("mx"))
    assert(perQ.filter($"n" =!= 5 || $"mx" =!= 5).count() == 0)
    assert(bm.filter($"score" <= 0).count() == 0)
    assert(bm.filter($"q_id" === $"doc_id").count() == 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"q_id").orderBy($"rk")
    assert(bm.withColumn("prev", lag($"score", 1).over(w))
      .filter($"prev".isNotNull && $"score" > $"prev").count() == 0)
    // RRF: every fused id came from one of the two systems, and an id
    // ranked #1 by BOTH systems must win the fusion.
    val fused = RetrievalQueries.rrfFusion(spark, sfDir).cache()
    val dense = graft.queries.SimilarityQueries.cosineTopK(spark, sfDir)
      .select($"q_id", $"vec_id".as("id"))
    val sparse = bm.select($"q_id", $"doc_id".as("id"))
    assert(fused.select($"q_id", $"id")
      .except(dense.union(sparse)).count() == 0)
    val doubleTop = fused.filter($"dense_rk" === 1 && $"sparse_rk" === 1)
    assert(doubleTop.filter($"rk" =!= 1).count() == 0,
      "a candidate ranked #1 by both systems must fuse to #1")
  }
}
