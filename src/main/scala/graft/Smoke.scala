package graft
/** Dev smoke harness: runs the flagship entry (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = EngineSession.create()
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n")
    require(n > 0, "entry returned 0 rows")
    spark.stop()
  }
}
