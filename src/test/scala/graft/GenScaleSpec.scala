package graft

import org.apache.spark.sql.functions._

/** Invariants of the r11 scale-sweep generator: the sweep's conclusions
  * are only as good as the generated data's structure, so pin it —
  * clone 0 is bit-identical to the source, counts scale exactly, FKs
  * stay closed per clone, document clones share no tokens with the
  * original (dup mass scales linearly, never quadratically), and the
  * embedding clone map is orthogonal (norms preserved exactly up to
  * float round-trip). */
class GenScaleSpec extends SparkTestBase {
  import spark.implicits._

  private val srcDir = sfDir
  private lazy val outDir: String = {
    val d = tmpDir("graft_genscale_spec")
    graft.GenScale.run(spark, srcDir, d, 2)
    d
  }

  private def out(name: String) = spark.read.parquet(s"$outDir/$name.parquet")
  private def src(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")

  test("counts scale by m for facts, stay fixed for nation/region") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))
      assert(out(t).count() == 2 * src(t).count(), s"table $t")
    for (t <- Seq("nation", "region"))
      assert(out(t).count() == src(t).count(), s"table $t")
  }

  test("clone 0 is bit-identical to the source") {
    for (t <- Seq("orders", "documents", "embeddings")) {
      val keyCol = t match {
        case "orders" => "o_orderkey"; case "documents" => "doc_id"
        case _ => "vec_id"
      }
      val maxKey = src(t).agg(max(col(keyCol))).head().getLong(0)
      val clone0 = out(t).filter(col(keyCol) <= maxKey)
      assert(clone0.exceptAll(src(t)).isEmpty && src(t).exceptAll(clone0).isEmpty,
        s"clone 0 of $t diverged from the source")
    }
  }

  test("foreign keys stay closed per clone (orders -> customer, lineitem -> part)") {
    val custKeys = out("customer").select($"c_custkey")
    assert(out("orders").join(custKeys, $"o_custkey" === $"c_custkey", "left_anti")
      .count() == 0)
    val partKeys = out("part").select($"p_partkey")
    assert(out("lineitem").join(partKeys, $"l_partkey" === $"p_partkey", "left_anti")
      .count() == 0)
  }

  test("document clones share NO tokens with clone 0 (linear dup mass)") {
    val docBase = src("documents").agg(max($"doc_id")).head().getLong(0) + 1
    val toks0 = out("documents").filter($"doc_id" < docBase)
      .select(explode(split($"text", " ")).as("tok")).distinct()
    val toks1 = out("documents").filter($"doc_id" >= docBase)
      .select(explode(split($"text", " ")).as("tok")).distinct()
    assert(toks0.join(toks1, "tok").count() == 0,
      "clone 1 shares tokens with the original — cross-clone dup mass")
    // n_chars recomputed to match the perturbed text
    assert(out("documents").filter(length($"text") =!= $"n_chars").count() == 0)
  }

  test("embedding clone map is orthogonal: norms preserved exactly") {
    val vecBase = src("embeddings").agg(max($"vec_id")).head().getLong(0) + 1
    // the clone of v has vec_id = v + vecBase; compare squared norms as
    // DOUBLE sums of FLOAT squares — sign flips and rotation permute the
    // same float values, so the sums are over identical multisets; only
    // summation order differs, so compare at 1e-3 relative tolerance
    val n0 = out("embeddings").filter($"vec_id" < vecBase)
      .select($"vec_id",
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("n2"))
    val n1 = out("embeddings").filter($"vec_id" >= vecBase)
      .select(($"vec_id" - vecBase).as("vec_id"),
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("m2"))
    val joined = n0.join(n1, "vec_id")
      .select((abs($"n2" - $"m2") / $"n2").as("rel"))
      .agg(max($"rel")).head().getDouble(0)
    assert(joined < 1e-3, s"norm drift $joined — clone map not orthogonal")
  }
}
