package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryUtil.{halfUp4, md5IntSql}

/** Round-10 thirteenth tier: t-closeness (completing the k-anonymity →
  * l-diversity → t-closeness privacy triad), a reliability-diagram /
  * expected-calibration audit of the x99 quality classifier (completing
  * the ML-eval family beside AUC x113 and kappa x114), and stream-static
  * broadcast-join batch parity (the last join mode without an oracle
  * pair). */
object Round10Queries13 {

  /** q105: t-closeness screen — the distribution-level privacy property
    * k-anonymity (q65) and l-diversity (x154) cannot give: within each
    * quasi-identifier class (nation × market segment), the SENSITIVE
    * distribution (acctbal bands) must stay within total-variation
    * distance t of the global distribution (equal-ground-distance EMD =
    * TV). The distance is computed entirely in integers:
    * TV = Σ_b |bn·N − gb·n| / (2·n·N), and the t = 0.25 gate is the
    * cross-multiplied predicate 2·Σ|bn·N − gb·n| ≤ n·N — no float
    * boundary anywhere. Classes missing a global band contribute that
    * band's full global mass (the term the class-present-only join would
    * silently drop), so the class × global-band frame is completed first.
    *
    * Scale: one group-by over the table for class×band counts; the band
    * panel is value-bounded, so the completion cross join is O(classes ×
    * bands) metadata work. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cb = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_mktsegment",
        floor($"c_acctbal" / 1000).cast("long").as("band"))
      .groupBy($"n_name", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("bn"))
      .localCheckpoint(true) // feeds class totals, global bands, and the completion join
    val cls = cb.groupBy($"n_name", $"c_mktsegment").agg(sum($"bn").as("n"))
    val glob = cb.groupBy($"band").agg(sum($"bn").as("gb"))
    val total = cb.agg(sum($"bn").as("nn"))
    cls.crossJoin(broadcast(glob))
      .join(cb, Seq("n_name", "c_mktsegment", "band"), "left")
      .na.fill(0L, Seq("bn"))
      .crossJoin(broadcast(total))
      .groupBy($"n_name", $"c_mktsegment", $"n", $"nn")
      .agg(sum(abs($"bn" * $"nn" - $"gb" * $"n")).as("tv_fp"))
      .select($"n_name", $"c_mktsegment", $"n", $"tv_fp",
        halfUp4($"tv_fp".cast("double") / (lit(2.0) * $"n" * $"nn")).as("tv"),
        (lit(2) * $"tv_fp" <= $"n" * $"nn").cast("int").as("t_close_25"))
      .orderBy("n_name", "c_mktsegment")
  }

  private val tClosenessOracle =
    """WITH cb AS MATERIALIZED (
      |  SELECT n_name, c_mktsegment,
      |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
      |         CAST(count(*) AS BIGINT) AS bn
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3),
      |cls AS (SELECT n_name, c_mktsegment, CAST(sum(bn) AS BIGINT) AS n
      |        FROM cb GROUP BY 1, 2),
      |gband AS (SELECT band, CAST(sum(bn) AS BIGINT) AS gb FROM cb GROUP BY 1),
      |tot AS (SELECT CAST(sum(bn) AS BIGINT) AS nn FROM cb),
      |comp AS (
      |  SELECT cls.n_name, cls.c_mktsegment, cls.n, gband.band, gband.gb,
      |         coalesce(cb.bn, 0) AS bn
      |  FROM cls CROSS JOIN gband
      |  LEFT JOIN cb ON cb.n_name = cls.n_name
      |    AND cb.c_mktsegment = cls.c_mktsegment AND cb.band = gband.band)
      |SELECT comp.n_name, comp.c_mktsegment, comp.n,
      |       CAST(sum(abs(bn * tot.nn - gb * comp.n)) AS BIGINT) AS tv_fp,
      |       floor(CAST(sum(abs(bn * tot.nn - gb * comp.n)) AS DOUBLE)
      |             / (2.0 * comp.n * tot.nn) * 10000 + 0.5) / 10000.0 AS tv,
      |       CAST(2 * sum(abs(bn * tot.nn - gb * comp.n)) <= comp.n * tot.nn
      |            AS INTEGER) AS t_close_25
      |FROM comp, tot
      |GROUP BY comp.n_name, comp.c_mktsegment, comp.n, tot.nn
      |ORDER BY comp.n_name, comp.c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- x166

  /** x166's label threshold: "long document" ground truth (chars). */
  private val EceLabelChars = 300
  private val EceBins = 10

  /** x166: classifier calibration audit (reliability diagram + per-bin
    * expected-calibration-error contributions) for the x99 hashed quality
    * classifier against a score-independent ground truth (doc length ≥
    * 300 chars). Scores (in [−1, 1]) bin into 10 equal-width buckets; per
    * bin the mean predicted score and the observed positive rate are
    * compared. Determinism: the per-doc score is x99's half-up 1e-4
    * value, recovered to an exact integer (floor(score·10⁴ + ½)) BEFORE
    * the per-bin sum, so bin means are ratios of exact integers; the bin
    * index itself is integer arithmetic on that fixed-point score —
    * no float boundary can flip a bucket.
    *
    * Scale: x99's scorer is one token shuffle + a 64-row broadcast model;
    * the calibration rollup is one 10-row aggregate on top. */
  def calibrationEce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = CurationQueries.scoreDocs(Tables.documents(spark, dir))
      .join(Tables.documents(spark, dir).select($"doc_id", $"n_chars"), "doc_id")
      .select($"doc_id",
        floor($"score" * 10000 + lit(0.5)).cast("long").as("score_fp"),
        ($"n_chars" >= EceLabelChars).cast("long").as("label"))
      .withColumn("bin",
        least(floor(($"score_fp" + 10000) * EceBins / 20000).cast("long"),
          lit(EceBins - 1L)))
    scored.groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"label").as("n_pos"),
        sum($"score_fp").as("pred_fp_sum"))
      .select($"bin", $"n_docs", $"n_pos", $"pred_fp_sum",
        halfUp4($"n_pos".cast("double") / $"n_docs".cast("double")).as("obs_rate"),
        halfUp4($"pred_fp_sum".cast("double") / ($"n_docs".cast("double") * 10000.0))
          .as("pred_mean"),
        halfUp4(abs($"n_pos".cast("double") / $"n_docs".cast("double")
          - $"pred_fp_sum".cast("double") / ($"n_docs".cast("double") * 10000.0)))
          .as("gap"))
      .orderBy("bin")
  }

  private val calibrationEceOracle = {
    val nb = 64
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         CAST(${md5IntSql("concat_ws('|', 'qc', tok)", 4)} % $nb AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |w AS (SELECT CAST(range AS BIGINT) AS bucket,
       |        CAST(${md5IntSql("concat_ws('|', 'qw', CAST(range AS VARCHAR))", 4)} % 2001 - 1000 AS BIGINT) AS w
       |      FROM range($nb)),
       |sc AS (SELECT doc_id,
       |         CAST(floor((floor((CAST(sum(w) AS DOUBLE)
       |                / (CAST(count(*) AS DOUBLE) * 1000.0)) * 10000 + 0.5) / 10000.0)
       |                * 10000 + 0.5) AS BIGINT) AS score_fp
       |       FROM tok JOIN w USING (bucket)
       |       GROUP BY doc_id),
       |lab AS (SELECT sc.doc_id, sc.score_fp,
       |          CAST(d.n_chars >= $EceLabelChars AS BIGINT) AS label,
       |          least((sc.score_fp + 10000) * $EceBins // 20000, ${EceBins - 1}) AS bin
       |        FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
       |SELECT bin,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(label) AS BIGINT) AS n_pos,
       |       CAST(sum(score_fp) AS BIGINT) AS pred_fp_sum,
       |       floor(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
       |         / 10000.0 AS obs_rate,
       |       floor(CAST(sum(score_fp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0)
       |             * 10000 + 0.5) / 10000.0 AS pred_mean,
       |       floor(abs(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |                 - CAST(sum(score_fp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0))
       |             * 10000 + 0.5) / 10000.0 AS gap
       |FROM lab
       |GROUP BY bin
       |ORDER BY bin""".stripMargin
  }

  // ---------------------------------------------------------------- x167

  /** x148's cohort bound and chronological slice cuts (reused so the
    * staged stream is the proven x148 shape). */
  private val JoinUsers = 40
  private val SecCuts = Seq(1704931200L, 1705795200L)

  /** x167: stream-static broadcast-join batch parity — the one join mode
    * the streaming parity family (stream-stream x138, stream-dedup x145,
    * stateful x117/x148/x150/x151) had not driver-verified: each
    * micro-batch of a REAL file-source replay (3 chronological slices,
    * maxFilesPerTrigger=1) joins to a STATIC dimension (nation keyed by
    * user_id % 25 — the per-batch broadcast enrichment every streaming
    * ETL runs), and the appended union of enriched rows must aggregate to
    * exactly the batch join's result. Proves the static side is planned
    * once and applied identically per batch, and that batch boundaries
    * cannot change an enrichment.
    *
    * Scale: the dim broadcasts (it is static and small by definition);
    * each micro-batch is map-only — no shuffle in the streaming query at
    * all. */
  def streamStaticJoinParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_x167").toString
    val ev = Tables.events(spark, dir).filter($"user_id" < JoinUsers)
      .select($"user_id",
        expr("unix_timestamp(cast(date_trunc('second', ts) as timestamp))")
          .cast("long").as("sec"),
        $"event_id", $"event_type")
      .localCheckpoint(true) // r16: one scan for all staged slices
    val bounds = (Long.MinValue +: SecCuts) zip (SecCuts :+ Long.MaxValue)
    bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val f = ev.filter($"sec" >= lo && $"sec" < hi)
      f.coalesce(1).write.parquet(s"$base/src/s$i")
      val part = new java.io.File(s"$base/src/s$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.FileSystems.getDefault.getPath(s"$base/src/f$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val dim = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      .withColumn("nk", pmod($"user_id", lit(25)).cast("int"))
      .join(broadcast(dim), $"nk" === $"n_nationkey")
      .select($"n_name", $"event_type", $"event_id")
    // Executor-side parquet staging + temp-tree cleanup (r10 verdict #2).
    val emitted = QueryUtil.withStreamShuffle(spark) {
      QueryUtil.stageStream(spark, stream, base, "append")
    }
    QueryUtil.deleteRecursively(base)
    emitted
      .groupBy($"n_name", $"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"event_id").as("n_distinct"))
      .orderBy("n_name", "event_type")
  }

  private val streamStaticJoinParityOracle =
    s"""SELECT n_name, event_type,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
       |FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
       |WHERE user_id < $JoinUsers
       |GROUP BY n_name, event_type
       |ORDER BY n_name, event_type""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q105_t_closeness",
      "t-closeness privacy screen: exact-integer total-variation distance of class vs global sensitive distribution",
      tCloseness, Some(tClosenessOracle)),
    QueryDef("x166_calibration_ece",
      "reliability diagram for the x99 quality classifier: fixed-point score bins, observed vs predicted, per-bin ECE gaps",
      calibrationEce, Some(calibrationEceOracle)),
    QueryDef("x167_stream_static_parity",
      "stream-static broadcast-join parity: per-micro-batch dim enrichment over a real file replay == batch join",
      streamStaticJoinParity, Some(streamStaticJoinParityOracle)))
}
