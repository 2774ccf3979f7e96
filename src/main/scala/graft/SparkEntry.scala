package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's entry points (SURVEY.md §7). All queries live in [[Registry]] (one
  * QueryDef per implemented operator family from SURVEY.md §2 plus the
  * north-star extensions X1–X7).
  *
  * A caller may hand in a session it built itself, so [[entry]] and every
  * function in [[queries]] first register the natives into the session
  * they are given (a no-op on a session that has them, like every
  * [[EngineSession]]). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's core ETL pipeline (P1+F1+F2+F4+D1) end to end. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    graft.queries.EtlQueries.etlLeadActivity(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { q =>
      q.name -> { (spark: SparkSession, dir: String) =>
        GraftFunctions.register(spark)
        q.fn(spark, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
