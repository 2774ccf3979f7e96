package graft
import graft.sources.HttpPageClient.jstr

/** The repo's one way to time registry queries: each query is
  * materialized to the noop sink under the adaptive repeat rule
  * ([[measure]]) and the sweep prints ONE JSON line ([[line]]).
  *
  *  - `sbt 'runMain graft.Bench'` times every non-`benchSkip` query in
  *    registry order and also writes the line to `SPARK_GRAFT_BENCH_OUT`.
  *  - `sbt 'runMain graft.Bench <name>...'` times only the named queries
  *    (benchSkip or not) and prints the line; it never writes the file.
  *
  * `SPARK_GRAFT_SF_DIR` picks the fixture directory; the session comes
  * from [[EngineSession]] (`SPARK_GRAFT_CPUS` cores, default the
  * machine's). */
object Bench {

  /** Output-line stamp naming the repeat rule, so tooling can refuse to
    * diff sweeps taken under different rules. */
  val Policy = "adaptive-repeat"

  /** A first run longer than this (seconds) is recorded alone. */
  val SoloCutoff = 4.0

  /** The repeat rule. Expensive queries are work-dominated, least noisy
    * and costliest to repeat, so a first run over [[SoloCutoff]] is the
    * measurement. Otherwise run twice: a pair within 10% records its MIN
    * (both runs bound the true cost from above; the min sheds one-sided
    * noise), a pair further apart pays a third run and records the median.
    * `run` returns None when the query failed; any failed run fails the
    * measurement. */
  def measure(run: () => Option[Double]): Option[Double] =
    run().flatMap { first =>
      if (first > SoloCutoff) Some(first)
      else run().flatMap { second =>
        val (lo, hi) = (math.min(first, second), math.max(first, second))
        if ((hi - lo) / lo > 0.10) run().map(third => Seq(first, second, third).sorted.apply(1))
        else Some(lo)
      }
    }

  /** The one output line. `results` holds every timed query in sweep
    * order: Right(seconds), or Left(error message) for a failed query,
    * which is listed in "queries" as 0 and in "errors" with its message.
    * "total_s" is deliberately the LAST key: a log tail that truncates
    * the line still keeps the headline number. */
  def line(results: Seq[(String, Either[String, Double])], benchSkipped: Int,
           sfDir: String): String = {
    val qs = results.map { case (k, r) =>
      s"${jstr(k)}:${math.rint(r.getOrElse(0.0) * 10000) / 10000}"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2.getOrElse(0.0)).sum
    s"""{"metric":"total","value":$total,"unit":"sec","policy":"$Policy","bench_skipped":$benchSkipped,"queries":$qs,"errors":$errs,"sf":${jstr(sfDir)},"total_s":$total}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // Queries a still-timed query contains are verified by
    // Verify/selfcheck but not re-timed (benchSkip).
    val (timed, skipped) =
      if (args.nonEmpty) (args.toSeq.map(Registry.byName), Seq.empty[String])
      else (Registry.all.filterNot(_.benchSkip), Registry.all.filter(_.benchSkip).map(_.name))
    if (skipped.nonEmpty)
      System.err.println(s"[bench] benchSkip (verified, not timed): ${skipped.mkString(", ")}")

    val spark = EngineSession.create()
    // Materialize EVERY column: `.count()` would let Catalyst prune
    // computed projections that don't affect the row count, under-measuring
    // pure-projection queries. The noop sink consumes all rows/columns
    // (equivalent work to a write, minus IO) with no type restrictions.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Warm up session/codegen paths so the first timed query isn't charged
    // for JVM+Spark startup (measures queries, not initialization).
    try materialize(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    val benchOutPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_last.json")

    // A failing query must be VISIBLE, not a suspiciously-fast timing: its
    // message lands in the line's "errors" map (and stderr).
    val results = timed.map { q =>
      var error = ""
      def run1(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          materialize(q.fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            error = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            System.err.println(s"[bench] ${q.name} FAILED: $error")
            None
        } finally {
          // Drop this run's localCheckpoint blocks (UNTIMED). Without
          // this, ~80 checkpointing queries accumulate storage blocks
          // across the sweep until the unified-memory storage pool
          // saturates and every later heavy query pays eviction/spill
          // (x127 once ran 33 s late in a full idle-box sweep vs 11 s in
          // a fresh JVM). Each timed run starts with a clean pool.
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      }
      q.name -> measure(() => run1()).toRight(error)
    }

    val out = line(results, skipped.size, sfDir)
    println(out)
    // The stdout line can be cut by a log tail; the file copy is the
    // durable record of a full sweep. Best-effort: a write failure must
    // not fail the bench (the stdout line already carries the headline).
    if (args.isEmpty) {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(benchOutPath),
          (out + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $benchOutPath write FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
