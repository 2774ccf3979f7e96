package graft

import org.apache.spark.sql.functions._

/** Batch source/format coverage beyond parquet: ORC and CSV round-trips
  * preserve the relational fixtures, and CSV parse modes mirror the
  * streaming source's PERMISSIVE/FAILFAST contract. (JSON is exercised by
  * the streaming specs and the paginated connector's envelope parse.) */
class FormatsSpec extends SparkTestBase {
  import spark.implicits._

  test("parquet schema evolution: mergeSchema unifies appended columns, old rows null-filled") {
    val path = tmpDir("evolve") + "/t"
    // v1 writer: (id, a); later writer adds column b (the additive
    // evolution the reference's fixed DDL can't do — SURVEY §1.2)
    Seq((1L, "x"), (2L, "y")).toDF("id", "a").write.parquet(path)
    Seq((3L, "z", 30L)).toDF("id", "a", "b").write.mode("append").parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.schema.fieldNames.sorted.toSeq == Seq("a", "b", "id"))
    val rows = merged.orderBy("id")
      .select($"id", $"a", $"b").as[(Long, String, Option[Long])].collect().toSeq
    assert(rows == Seq((1L, "x", None), (2L, "y", None), (3L, "z", Some(30L))))
    // without mergeSchema the footer-sampled schema may miss b — reading
    // with an EXPLICIT unified schema also works (the production pattern)
    val explicit = spark.read.schema(merged.schema).parquet(path)
    assert(explicit.count() == 3 && explicit.schema == merged.schema)
  }

  test("ORC round-trip preserves lineitem exactly") {
    val path = tmpDir("orc") + "/li"
    val li = Tables.lineitem(spark, sfDir)
    li.write.mode("overwrite").orc(path)
    val back = spark.read.orc(path)
    assert(back.schema == li.schema)
    assert(li.exceptAll(back).count() == 0 && back.exceptAll(li).count() == 0)
  }

  test("CSV round-trip preserves values under an explicit schema") {
    val path = tmpDir("csv") + "/nation"
    val nation = Tables.nation(spark, sfDir)
    nation.write.mode("overwrite").option("header", "true").csv(path)
    val back = spark.read.schema(nation.schema).option("header", "true").csv(path)
    assert(back.exceptAll(nation).count() == 0 && nation.exceptAll(back).count() == 0)
  }

  test("CSV parse modes: PERMISSIVE nulls a malformed row, FAILFAST throws") {
    val dir = tmpDir("csvmodes")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "rows.csv"),
      "1,alpha\nnot-a-number,beta\n3,gamma\n".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val permissive = spark.read.schema(schema).option("mode", "PERMISSIVE").csv(dir)
    assert(permissive.count() == 3)
    assert(permissive.filter(col("id").isNull).count() == 1)
    intercept[Exception] {
      spark.read.schema(schema).option("mode", "FAILFAST").csv(dir).collect()
    }
  }
}
