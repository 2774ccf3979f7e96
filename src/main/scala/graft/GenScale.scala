package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (r10 verdict "Next round #2"): deterministically scale the
  * driver fixtures M× for the EMPIRICAL scale-proof sweep — the 100 TB
  * design claims are plan-audited but were never measured past sf0.1, so
  * this generates an "sf1" (M=10) from sf0.1 and `graft.Bench <names>`
  * measures t(sf1)/t(sf0.1) per query.
  *
  * Clone semantics (clone 0 is the untouched original, so the generated
  * directory strictly CONTAINS the source fixture):
  *  - every clone gets its own key space (keys shifted by clone × (max+1)),
  *    with foreign keys shifted consistently so join fan-outs per clone
  *    equal the original's;
  *  - nation/region stay fixed (naturally-bounded dims — real growth adds
  *    facts, not countries), and FK columns into them are untouched;
  *  - document TOKENS get a per-clone tag (`w` → `w_c<i>`), so the
  *    within-clone dup/near-dup structure is exactly the original's while
  *    clones share no shingles — dup mass scales linearly, the way a real
  *    corpus grows (constant dup rate), never quadratically (which cloning
  *    text verbatim would fake);
  *  - embeddings get a per-clone deterministic sign-flip + cyclic rotation
  *    (an orthogonal map: norms and within-clone distances preserved, so
  *    each clone's ANN neighborhood structure equals the original's, while
  *    cross-clone similarities scatter).
  *
  * Usage: `runMain graft.GenScale <srcDir> <outDir> <multiplier>`. */
object GenScale {

  private def clones(spark: SparkSession, df: DataFrame, m: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until m).map(c => f(df, c)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, mStr) = args.take(3)
    val spark = EngineSession.create()
    run(spark, srcDir, outDir, mStr.toInt)
    spark.stop()
  }

  /** The generator body, session-agnostic so GenScaleSpec can drive it
    * on the shared test session (main owns session lifecycle). */
  def run(spark: SparkSession, srcDir: String, outDir: String, m: Int): Unit = {
    import spark.implicits._

    def src(name: String): DataFrame = Tables.load(spark, srcDir, name)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[genscale] $name written")
    }
    // key shift base = max+1 of the SOURCE key, so clone key spaces are
    // disjoint and clone 0 is bit-identical to the source
    def keyBase(name: String, col: String): Long =
      src(name).agg(max(expr(col))).head().getLong(0) + 1L

    val ordBase = keyBase("orders", "o_orderkey")
    val custBase = keyBase("customer", "c_custkey")
    val partBase = keyBase("part", "p_partkey")
    val suppBase = keyBase("supplier", "s_suppkey")
    val evtBase = keyBase("events", "event_id")
    val userBase = keyBase("events", "user_id")
    val docBase = keyBase("documents", "doc_id")
    val vecBase = keyBase("embeddings", "vec_id")

    // fixed dims: copy untouched
    write(src("region"), "region")
    write(src("nation"), "nation")

    write(clones(spark, src("customer"), m) { (d, c) =>
      d.withColumn("c_custkey", $"c_custkey" + lit(c * custBase))
    }, "customer")
    write(clones(spark, src("supplier"), m) { (d, c) =>
      d.withColumn("s_suppkey", $"s_suppkey" + lit(c * suppBase))
    }, "supplier")
    write(clones(spark, src("part"), m) { (d, c) =>
      d.withColumn("p_partkey", $"p_partkey" + lit(c * partBase))
    }, "part")
    write(clones(spark, src("orders"), m) { (d, c) =>
      d.withColumn("o_orderkey", $"o_orderkey" + lit(c * ordBase))
        .withColumn("o_custkey", $"o_custkey" + lit(c * custBase))
    }, "orders")
    write(clones(spark, src("lineitem"), m) { (d, c) =>
      d.withColumn("l_orderkey", $"l_orderkey" + lit(c * ordBase))
        .withColumn("l_partkey", $"l_partkey" + lit(c * partBase))
        .withColumn("l_suppkey", $"l_suppkey" + lit(c * suppBase))
    }, "lineitem")
    write(clones(spark, src("events"), m) { (d, c) =>
      d.withColumn("event_id", $"event_id" + lit(c * evtBase))
        .withColumn("user_id", $"user_id" + lit(c * userBase))
    }, "events")

    write(clones(spark, src("documents"), m) { (d, c) =>
      val text =
        if (c == 0) $"text"
        else regexp_replace($"text", "(\\S+)", s"$$1_c$c")
      d.withColumn("doc_id", $"doc_id" + lit(c * docBase))
        .withColumn("text", text)
        .withColumn("n_chars", length($"text"))
    }, "documents")

    write(clones(spark, src("embeddings"), m) { (d, c) =>
      val emb =
        if (c == 0) $"embedding"
        else {
          // orthogonal per-clone map: rotate dims by c, flip signs by a
          // hash of (clone, dim) — norms and within-clone distances are
          // exactly preserved, cross-clone cosines scatter
          val n = size($"embedding")
          transform(sequence(lit(0), n - 1), i =>
            element_at($"embedding", (i + lit(c)) % n + 1) *
              when(pmod(hash(i, lit(c)), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
        }
      d.withColumn("vec_id", $"vec_id" + lit(c * vecBase))
        .withColumn("embedding", emb)
    }, "embeddings")
  }
}
