package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide session,
  * built by [[EngineSession]] like every main's: UTC, natives registered). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // keep catalog artifacts (derby metastore, warehouse) out of the repo
    val scratch = java.nio.file.Files.createTempDirectory("graft_test").toString
    System.setProperty("derby.system.home", scratch)
    // local[4, 2]: allow ONE task retry — the sink's retried-task count
    // spec (SinksSpec "appendNew's count holds when a write task fails
    // once") injects a first-attempt task failure and needs Spark to
    // actually re-attempt it; suites that never fail tasks are unaffected.
    EngineSession.create(cores = 4, maxTaskFailures = 2,
      warehouseDir = Some(s"$scratch/warehouse"))
  }

  /** The fixture tables (FIXTURES.md) at scale factor 0.001, the suites'
    * default, and at 0.01. */
  val sfDir: String = "/root/testdata/sf0.001"
  val sf001Dir: String = "/root/testdata/sf0.01"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
