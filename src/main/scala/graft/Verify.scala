package graft
import java.nio.file.{Files, Paths}
import graft.sources.HttpPageClient.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.toSet // dev-only filter; driver passes exactly 2 args
    val spark = EngineSession.create()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // drop accumulated localCheckpoint blocks between queries — the
        // storage pool otherwise saturates over a 200+-query sweep and
        // late queries pay eviction/spill (see Bench for the measurement)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    // Null oracles are skipped loudly (not crashed on): one bad registry
    // entry must never erase the oracle file for the other ~200 queries —
    // round 8 lost its entire correctness artifact to exactly that (a
    // val-init-order capture put Some(null) in the registry and the dump
    // NPE'd after the parquets but before this file landed).
    try {
      val (bad, good) = SparkEntry.oracleSql.partition(_._2 == null)
      bad.keys.foreach(k =>
        System.err.println(s"[verify] $k has a NULL oracle — skipped"))
      val json = good
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] oracle dump failed: ${e.getMessage}")
      e.printStackTrace()
    }
    spark.stop()
  }
}
