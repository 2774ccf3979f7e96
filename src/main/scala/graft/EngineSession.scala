package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine session is built. Bench, Verify, GenScale,
  * Smoke and the test base all take their session from [[create]], so
  * every one of them runs with the same settings:
  *
  *  - `local[cores]`, with `spark.sql.shuffle.partitions` = cores;
  *  - session time zone UTC: the events NTZ normalization
  *    ([[Tables.events]]) casts an instant timestamp through the session
  *    zone, so an unpinned session on a non-UTC host runs different plans;
  *  - Spark UI off, log level WARN;
  *  - the native functions and their ObjectHashAggregate fallback
  *    threshold ([[graft.functions.GraftFunctions.register]]).
  *
  * `SPARK_GRAFT_CPUS` sets the core count; unset, it is the machine's. */
object EngineSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** @param maxTaskFailures attempts per task before the job fails
    *                        (`local[n, f]`; Spark's local default is 1)
    * @param warehouseDir    the catalog's table directory, when it must
    *                        not be the working directory */
  def create(cores: Int = defaultCores, maxTaskFailures: Int = 1,
             warehouseDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores, $maxTaskFailures]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = warehouseDir
      .fold(builder)(builder.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
