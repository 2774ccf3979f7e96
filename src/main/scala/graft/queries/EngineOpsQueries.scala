package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Skew
import QueryUtil.{halfUp, halfUp4, md5Int}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Engine-ops family: table statistics and sketches (ANALYZE, HLL,
  * histograms, KMV, AMS, count sketch) audited against exact answers, plan
  * mechanics pinned against their plain forms (bucketed, partition-pruned,
  * salted, skew-split and runtime-filtered joins), and physical-layout
  * planning.
  *
  * Data-layout planning operators — the passes a
  * lakehouse runs when deciding HOW to physically arrange 100 TB so scans
  * can prune. Everything is exact integer arithmetic (bit interleaves,
  * integer division, min/max spans) with one final double division. */
object EngineOpsQueries {

  /** q53: column profiling — the ANALYZE-style statistics pass every
    * ingestion pipeline runs: per column, row/null/distinct counts and
    * min/max (numeric columns as rounded doubles, string/date columns as
    * strings; dates rendered through an explicit yyyy-MM-dd format so both
    * engines print identical keys). Scale: one pass per profiled column
    * over a columnar scan that prunes to just that column; the distinct
    * counts are the only shuffles. */
  def profileOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    def num(c: String) = o.agg(
      lit(c).as("col_name"), count(lit(1)).as("n"),
      sum(col(c).isNull.cast("long")).as("n_null"),
      countDistinct(col(c)).as("n_distinct"),
      round(min(col(c)).cast("double"), 2).as("min_num"),
      round(max(col(c)).cast("double"), 2).as("max_num"),
      lit(null).cast("string").as("min_str"),
      lit(null).cast("string").as("max_str"))
    def str(c: String, render: org.apache.spark.sql.Column) = o.agg(
      lit(c).as("col_name"), count(lit(1)).as("n"),
      sum(col(c).isNull.cast("long")).as("n_null"),
      countDistinct(col(c)).as("n_distinct"),
      lit(null).cast("double").as("min_num"),
      lit(null).cast("double").as("max_num"),
      min(render).as("min_str"),
      max(render).as("max_str"))
    num("o_orderkey")
      .unionByName(num("o_custkey"))
      .unionByName(num("o_totalprice"))
      .unionByName(str("o_orderpriority", col("o_orderpriority")))
      .unionByName(str("o_orderstatus", col("o_orderstatus")))
      .unionByName(str("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd")))
      .orderBy("col_name")
  }

  private val profileOrdersOracle = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  round(CAST(min($c) AS DOUBLE), 2) AS min_num,
         |  round(CAST(max($c) AS DOUBLE), 2) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    def str(c: String, render: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  min($render) AS min_str, max($render) AS max_str
         |FROM orders""".stripMargin
    Seq(num("o_orderkey"), num("o_custkey"), num("o_totalprice"),
      str("o_orderpriority", "o_orderpriority"),
      str("o_orderstatus", "o_orderstatus"),
      str("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d')"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Z-order resolution: both dimensions normalized to [0, 2^10). */
  private val ZBits = 10

  /** Bucket count for the layout comparison — both layouts are cut into
    * the SAME number of buckets so span comparisons are granularity-fair
    * (256 buckets ≈ parquet row-groups of a large file). */
  private val ZBuckets = 256

  private val ZMax = (1 << ZBits) - 1 // 1023
  private val ZCells = 1 << (2 * ZBits) // 2^20 morton codes

  /** Bit-interleave (Morton) of two [[ZBits]]-bit ints — generated from
    * the same loop as [[mortonSql]] so the two engines can't drift. */
  private def mortonCol(xi: Column, yi: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(xi, i).bitwiseAND(1), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(yi, i).bitwiseAND(1), 2 * i))
    }.reduce(_ bitwiseOR _)

  private def mortonSql(xi: String, yi: String): String =
    (0 until ZBits).map { i =>
      s"((($xi >> $i) & 1) << ${2 * i + 1}) | ((($yi >> $i) & 1) << ${2 * i})"
    }.mkString(" | ")

  /** q81: Z-order layout planner — the min/max-pruning evaluation a
    * lakehouse runs before choosing a sort key. Orders are mapped to a
    * 2-D grid (customer key × order day, both min-max normalized to
    * 10 bits with exact integer division), then cut into [[ZBuckets]]
    * equal-width "files" under two layouts: Morton (Z-order) interleave
    * vs single-key sort. Per layout: row-weighted average per-bucket
    * span of EACH dimension — the expected fraction of files a
    * single-dimension predicate can prune. Z-order balances both spans
    * (~2^5 each) where the single-key sort leaves the second dimension
    * unprunable (span ≈ full range) — the quantitative argument for
    * Z-ordering multi-predicate fact tables. Scale: two scans + two
    * tiny bucket aggregates; the bit interleave is 20 codegen'd integer
    * ops per row, no shuffle beyond the 256-row bucket frames. */
  /** The normalized-and-Morton-coded point frame (xi, yi, morton) —
    * q81's first stage, shared with q92's skip-rate estimator. */
  private def codedPoints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.orders(spark, dir).select($"o_custkey".as("x"),
      datediff($"o_orderdate", lit("1990-01-01").cast("date"))
        .cast("long").as("y"))
    val rng = pts.agg(min($"x").as("xmin"), max($"x").as("xmax"),
      min($"y").as("ymin"), max($"y").as("ymax"))
    def scale(c: Column, lo: Column, hi: Column) =
      call_function("div", (c - lo) * ZMax, hi - lo)
    pts.crossJoin(broadcast(rng))
      .select(scale($"x", $"xmin", $"xmax").as("xi"),
        scale($"y", $"ymin", $"ymax").as("yi"))
      .select($"xi", $"yi", mortonCol($"xi", $"yi").as("morton"))
  }

  /** SQL twin of [[codedPoints]], shared by the q81 and q92 oracles. */
  private val codedCtes =
    s"""WITH pts AS (
       |  SELECT o_custkey AS x,
       |         CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
       |  FROM orders),
       |rng AS (SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax FROM pts),
       |coded0 AS (
       |  SELECT ((x - xmin) * $ZMax) // (xmax - xmin) AS xi,
       |         ((y - ymin) * $ZMax) // (ymax - ymin) AS yi
       |  FROM pts, rng),
       |coded AS (
       |  SELECT xi, yi, (${mortonSql("xi", "yi")}) AS morton FROM coded0),
       |""".stripMargin

  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val coded = codedPoints(spark, dir)
    def layoutSummary(bucket: Column, name: String) =
      coded.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"), (max($"xi") - min($"xi")).as("xspan"),
          (max($"yi") - min($"yi")).as("yspan"))
        .agg(count(lit(1)).as("n_buckets"), sum($"n").as("n_rows"),
          QueryUtil.halfUp(sum($"xspan" * $"n").cast("double") / sum($"n"), 2)
            .as("avg_x_span"),
          QueryUtil.halfUp(sum($"yspan" * $"n").cast("double") / sum($"n"), 2)
            .as("avg_y_span"))
        .select(lit(name).as("layout"), $"n_buckets", $"n_rows",
          $"avg_x_span", $"avg_y_span")
    layoutSummary(call_function("div", $"morton", lit(ZCells / ZBuckets)), "zorder")
      .unionByName(layoutSummary(
        call_function("div", $"xi", lit((ZMax + 1) / ZBuckets)), "xsort"))
      .orderBy(desc("layout"))
  }

  private val zorderLayoutOracle =
    codedCtes +
      s"""zb AS (
       |  SELECT morton // ${ZCells / ZBuckets} AS bucket, count(*) AS n,
       |         max(xi) - min(xi) AS xspan, max(yi) - min(yi) AS yspan
       |  FROM coded GROUP BY 1),
       |xb AS (
       |  SELECT xi // ${(ZMax + 1) / ZBuckets} AS bucket, count(*) AS n,
       |         max(xi) - min(xi) AS xspan, max(yi) - min(yi) AS yspan
       |  FROM coded GROUP BY 1)
       |SELECT 'zorder' AS layout, count(*) AS n_buckets,
       |       CAST(sum(n) AS BIGINT) AS n_rows,
       |       floor((CAST(sum(xspan * n) AS DOUBLE) / sum(n)) * 100 + 0.5) / 100.0 AS avg_x_span,
       |       floor((CAST(sum(yspan * n) AS DOUBLE) / sum(n)) * 100 + 0.5) / 100.0 AS avg_y_span
       |FROM zb
       |UNION ALL
       |SELECT 'xsort', count(*), CAST(sum(n) AS BIGINT),
       |       floor((CAST(sum(xspan * n) AS DOUBLE) / sum(n)) * 100 + 0.5) / 100.0,
       |       floor((CAST(sum(yspan * n) AS DOUBLE) / sum(n)) * 100 + 0.5) / 100.0
       |FROM xb
       |ORDER BY layout DESC""".stripMargin

  /** Simulated input-file granularity: orderkey range per "file". */
  private val FileSpan = 200L

  /** Target rows per compacted output file. */
  private val CompactTarget = 2000L

  /** q83: small-file compaction planner — the maintenance pass a lakehouse
    * runs to rewrite many small files into few target-sized ones. Input
    * "files" are simulated as orderkey-range chunks of lineitem within
    * each l_returnflag partition (file size = row count). The plan is
    * greedy next-fit bin packing expressed relationally: files ordered by
    * file id, running row total BEFORE each file (window sum, 1
    * PRECEDING), bin = that total integer-divided by the target — so a
    * file starts a new bin exactly when the previous bins are full. Per
    * (partition, bin): file count, rows, id span, and fill ratio vs
    * target. All integer arithmetic; the only double is the final fill
    * division. Scale: one groupBy to size files (shuffle on partition ×
    * file id), a per-partition window over the FILE frame (thousands of
    * rows at 100 TB, not billions — windows run on file metadata, the
    * same cardinality the real table-format metadata layer holds), one
    * tiny final aggregate. */
  def compactionBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag".as("part"),
        call_function("div", $"l_orderkey", lit(FileSpan)).as("file_id"))
      .agg(count(lit(1)).as("f_rows"))
    binPack(files, CompactTarget).groupBy($"part", $"bin")
      .agg(count(lit(1)).as("n_files"), sum($"f_rows").as("n_rows"),
        min($"file_id").as("first_file"), max($"file_id").as("last_file"))
      .withColumn("fill",
        QueryUtil.halfUp($"n_rows".cast("double") / CompactTarget.toDouble, 4))
      .orderBy("part", "bin")
  }

  /** The greedy packer over any (part, file_id, f_rows) frame: bin =
    * rows-before-this-file integer-divided by the target, i.e. a bin
    * closes once it holds ≥ target rows (an oversized file spans bins by
    * advancing the count) — property-tested against a sequential
    * fold (PropertySpec). */
  private[graft] def binPack(files: DataFrame, target: Long): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"part").orderBy($"file_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum($"f_rows").over(w), lit(0L)))
      .withColumn("bin", call_function("div", $"cum_before", lit(target)))
  }

  private val compactionBinsOracle =
    s"""WITH files AS (
       |  SELECT l_returnflag AS part, l_orderkey // $FileSpan AS file_id,
       |         count(*) AS f_rows
       |  FROM lineitem GROUP BY 1, 2),
       |planned AS (
       |  SELECT part, file_id, f_rows,
       |         coalesce(sum(f_rows) OVER (PARTITION BY part ORDER BY file_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM files),
       |binned AS (SELECT part, CAST(cum_before // $CompactTarget AS BIGINT) AS bin, file_id, f_rows FROM planned)
       |SELECT part, bin, count(*) AS n_files, CAST(sum(f_rows) AS BIGINT) AS n_rows,
       |       min(file_id) AS first_file, max(file_id) AS last_file,
       |       floor((CAST(sum(f_rows) AS DOUBLE) / $CompactTarget) * 10000 + 0.5) / 10000.0 AS fill
       |FROM binned
       |GROUP BY part, bin
       |ORDER BY part, bin""".stripMargin

  /** Predicate workload width for q92: the [0, 2^[[ZBits]]) domain cut
    * into [[SkipPreds]] equal ranges per dimension. */
  private val SkipPreds = 16

  /** q92: zone-map skip-rate estimator — the data-skipping evaluation that
    * justifies (or rejects) a layout choice BEFORE rewriting 100 TB: for a
    * grid of [[SkipPreds]] equal-width range predicates per dimension, how
    * many "files" (the q81 buckets, each carrying its per-dimension
    * min/max zone map) must be scanned because their [min,max] intersects
    * the predicate range. Emits, per (layout, dimension): bucket count and
    * the average / best / worst scan fraction across the workload — exact
    * integer hit counts over the bucket frames, one final division each.
    * The Z-order layout shows balanced ~moderate scan fractions on BOTH
    * dimensions; the single-key sort shows ~1/256 on its sort key and ~1
    * (no skipping) on the other — q81's span argument, restated as the
    * fraction of a real scan a predicate actually pays. Scale: the
    * min/max frames ARE the table-format metadata layer (256 rows per
    * layout regardless of data size); the predicate grid is a broadcast
    * literal; only the bucket aggregation touches the fact table. */
  def zonemapSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val coded = codedPoints(spark, dir)
    def buckets(bucket: Column, name: String) =
      coded.groupBy(bucket.as("bucket"))
        .agg(min($"xi").as("dxmin"), max($"xi").as("dxmax"),
          min($"yi").as("dymin"), max($"yi").as("dymax"))
        .withColumn("layout", lit(name))
    val b = buckets(call_function("div", $"morton", lit(ZCells / ZBuckets)), "zorder")
      .unionByName(buckets(
        call_function("div", $"xi", lit((ZMax + 1) / ZBuckets)), "xsort"))
    val predWidth = (ZMax + 1) / SkipPreds
    val preds = spark.range(SkipPreds.toLong)
      .select($"id".as("p"), ($"id" * predWidth).as("pmin"),
        (($"id" + 1) * predWidth - 1).as("pmax"))
      .crossJoin(Seq("x", "y").toDF("dim"))
    val hits = b.crossJoin(broadcast(preds))
      .select($"layout", $"dim", $"p", $"bucket",
        when($"dim" === "x", $"pmin" <= $"dxmax" && $"pmax" >= $"dxmin")
          .otherwise($"pmin" <= $"dymax" && $"pmax" >= $"dymin")
          .cast("long").as("hit"))
    hits.groupBy($"layout", $"dim", $"p")
      .agg(count(lit(1)).as("nb"), sum($"hit").as("nh"))
      .groupBy($"layout", $"dim")
      .agg(max($"nb").as("n_buckets"), sum($"nh").as("total_hits"),
        min($"nh").as("min_hits"), max($"nh").as("max_hits"))
      .select($"layout", $"dim", $"n_buckets",
        QueryUtil.halfUp($"total_hits".cast("double")
          / (lit(SkipPreds.toDouble) * $"n_buckets".cast("double")), 4).as("avg_scan_frac"),
        QueryUtil.halfUp($"min_hits".cast("double") / $"n_buckets".cast("double"), 4)
          .as("best_scan_frac"),
        QueryUtil.halfUp($"max_hits".cast("double") / $"n_buckets".cast("double"), 4)
          .as("worst_scan_frac"))
      .orderBy(desc("layout"), $"dim")
  }

  private val zonemapSkipOracle = {
    val predWidth = (ZMax + 1) / SkipPreds
    codedCtes +
      s"""zb AS (
         |  SELECT morton // ${ZCells / ZBuckets} AS bucket,
         |         min(xi) AS dxmin, max(xi) AS dxmax, min(yi) AS dymin, max(yi) AS dymax
         |  FROM coded GROUP BY 1),
         |xb AS (
         |  SELECT xi // ${(ZMax + 1) / ZBuckets} AS bucket,
         |         min(xi) AS dxmin, max(xi) AS dxmax, min(yi) AS dymin, max(yi) AS dymax
         |  FROM coded GROUP BY 1),
         |b AS (SELECT 'zorder' AS layout, * FROM zb UNION ALL SELECT 'xsort', * FROM xb),
         |preds AS (
         |  SELECT p, dim, p * $predWidth AS pmin, (p + 1) * $predWidth - 1 AS pmax
         |  FROM (SELECT unnest(range($SkipPreds)) AS p),
         |       (SELECT unnest(['x', 'y']) AS dim)),
         |hits AS (
         |  SELECT b.layout, preds.dim, preds.p, b.bucket,
         |         CASE WHEN preds.dim = 'x'
         |              THEN CASE WHEN preds.pmin <= b.dxmax AND preds.pmax >= b.dxmin THEN 1 ELSE 0 END
         |              ELSE CASE WHEN preds.pmin <= b.dymax AND preds.pmax >= b.dymin THEN 1 ELSE 0 END
         |         END AS hit
         |  FROM b, preds),
         |perp AS (
         |  SELECT layout, dim, p, count(*) AS nb, sum(hit) AS nh
         |  FROM hits GROUP BY layout, dim, p)
         |SELECT layout, dim, CAST(max(nb) AS BIGINT) AS n_buckets,
         |       floor((CAST(sum(nh) AS DOUBLE) / ($SkipPreds.0 * max(nb))) * 10000 + 0.5) / 10000.0 AS avg_scan_frac,
         |       floor((CAST(min(nh) AS DOUBLE) / max(nb)) * 10000 + 0.5) / 10000.0 AS best_scan_frac,
         |       floor((CAST(max(nh) AS DOUBLE) / max(nb)) * 10000 + 0.5) / 10000.0 AS worst_scan_frac
         |FROM perp
         |GROUP BY layout, dim
         |ORDER BY layout DESC, dim""".stripMargin
  }

  /** q93: ANALYZE-style table statistics — the per-column stats a
    * cost-based optimizer collects before planning (exact NDV, null
    * count, min/max rendered engine-stably: integers as-is, money as
    * exact cents, dates as ISO strings): one pass over orders, one
    * aggregate row unpivoted to a row per column. Exact countDistinct
    * (no sketch) keeps the oracle comparable; at 100 TB a deployment
    * would swap HLL for the NDVs — q31 covers that surface. Scale: one
    * scan, one aggregate; the unpivot is 6 literal rows. */
  def analyzeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey",
      $"o_orderstatus",
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("price_cents"),
      $"o_orderdate".cast("date").as("o_orderdate"), $"o_orderpriority")
    // r16: the six countDistinct in ONE aggregate planned as a ×7 Expand
    // feeding a 7-key SortAggregate over a 19-column payload (two sorted
    // exchanges of |orders|·7 wide rows — measured 4.4 s at sf0.1). Split
    // instead: (a) the non-distinct stats stay one scalar hash aggregate
    // over the typed columns (min/max semantics untouched); (b) the six
    // NDVs come from ONE melt to injectively string-rendered values
    // (bigint/date casts are injective, strings identity — so distinct
    // string count == countDistinct) → two narrow hash shuffles with
    // map-side partial dedup, no Expand, no sort.
    def stats(c: String, render: Column => Column) = Seq(
      sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
      render(min(col(c))).as(s"${c}_min"), render(max(col(c))).as(s"${c}_max"))
    val asStr = (x: Column) => x.cast("string")
    val agg1 = o.agg(count(lit(1)).as("n_rows"),
      (stats("o_orderkey", asStr) ++ stats("o_custkey", asStr) ++
        stats("o_orderstatus", asStr) ++ stats("price_cents", asStr) ++
        stats("o_orderdate", asStr) ++ stats("o_orderpriority", asStr)): _*)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "price_cents", "o_orderdate", "o_orderpriority")
    // The melt-based NDV is exact ONLY while cast-to-string is injective
    // for every profiled column. Enforce the allowlist instead of just
    // documenting it: a double/timestamp/decimal column added to the
    // profile must fail fast here, not silently undercount NDV via
    // rendering collisions.
    locally {
      import org.apache.spark.sql.types._
      val injective: Set[DataType] = Set(LongType, IntegerType, ShortType,
        ByteType, BooleanType, StringType, DateType)
      val bad = o.schema.fields
        .filter(f => cols.contains(f.name) && !injective.contains(f.dataType))
      require(bad.isEmpty,
        s"analyzeStats melt-NDV needs injective cast-to-string; non-injective: " +
          bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
    }
    val meltExpr = cols.map(c => s"'$c', cast($c as string)").mkString(", ")
    val ndv = o.selectExpr(
        s"stack(${cols.size}, $meltExpr) AS (col_name, v)")
      .filter($"v".isNotNull) // countDistinct ignores NULLs
      .select($"col_name", $"v").distinct()
      .groupBy($"col_name").agg(count(lit(1)).as("ndv"))
    val stackExpr = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_min, ${c}_max").mkString(", ")
    agg1.select($"n_rows", expr(
        s"stack(${cols.size}, $stackExpr) AS (col_name, n_nulls, min_s, max_s)"))
      .join(ndv, Seq("col_name"), "left")
      .select($"col_name", $"n_rows", coalesce($"ndv", lit(0L)).as("ndv"),
        $"n_nulls", $"min_s", $"max_s")
      .orderBy("col_name")
  }

  private val analyzeStatsOracle = {
    val specs = Seq(
      ("o_orderkey", "CAST(o_orderkey AS VARCHAR)", "o_orderkey"),
      ("o_custkey", "CAST(o_custkey AS VARCHAR)", "o_custkey"),
      ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
      ("price_cents", "CAST(price_cents AS VARCHAR)", "price_cents"),
      ("o_orderdate", "CAST(o_orderdate AS VARCHAR)", "o_orderdate"),
      ("o_orderpriority", "o_orderpriority", "o_orderpriority"))
    val rows = specs.map { case (nm, _, c) =>
      s"""SELECT '$nm' AS col_name, (SELECT count(*) FROM o) AS n_rows,
         |       count(DISTINCT $c) AS ndv,
         |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |       CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
         |FROM o""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
       |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
       |             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
       |           FROM orders)
       |$rows
       |ORDER BY col_name""".stripMargin
  }

  /** q94: join-cardinality estimation audit — the CBO textbook formula
    * |A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)) evaluated against the
    * TRUE join count for the schema's three core equi-joins. Estimate
    * numerators/denominators are exact integers (one double division,
    * half-up); the per-join error ratio is the calibration signal a
    * planner derives its confidence from (the FK joins here are the
    * formula's best case — ratio ≈ 1 — which is itself the point: the
    * audit proves the stats pipeline supports the estimate). Scale: the
    * stats side is q93's one-pass aggregates; the truth side is the
    * three audited join counts. */
  def joinCardEst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    def audit(name: String, a: DataFrame, ak: String, b: DataFrame, bk: String) = {
      val sa = a.agg(count(lit(1)).as("n_left"), countDistinct(col(ak)).as("ndv_left"))
      val sb = b.agg(count(lit(1)).as("n_right"), countDistinct(col(bk)).as("ndv_right"))
      val actual = a.join(b, col(ak) === col(bk)).agg(count(lit(1)).as("actual_rows"))
      sa.crossJoin(sb).crossJoin(actual)
        .select(lit(name).as("join_name"), $"n_left", $"n_right",
          $"ndv_left", $"ndv_right",
          QueryUtil.halfUp($"n_left".cast("double") * $"n_right".cast("double")
            / greatest($"ndv_left", $"ndv_right").cast("double"), 2).as("est_rows"),
          $"actual_rows",
          QueryUtil.halfUp($"actual_rows".cast("double")
            / ($"n_left".cast("double") * $"n_right".cast("double")
               / greatest($"ndv_left", $"ndv_right").cast("double")), 4).as("err_ratio"))
    }
    audit("orders_customer", o, "o_custkey", c, "c_custkey")
      .unionByName(audit("lineitem_orders", l, "l_orderkey", o, "o_orderkey"))
      .unionByName(audit("lineitem_part", l, "l_partkey", p, "p_partkey"))
      .orderBy("join_name")
  }

  private val joinCardEstOracle = {
    def audit(name: String, a: String, ak: String, b: String, bk: String) =
      s"""SELECT '$name' AS join_name,
         |       (SELECT count(*) FROM $a) AS n_left,
         |       (SELECT count(*) FROM $b) AS n_right,
         |       (SELECT count(DISTINCT $ak) FROM $a) AS ndv_left,
         |       (SELECT count(DISTINCT $bk) FROM $b) AS ndv_right,
         |       floor((CAST((SELECT count(*) FROM $a) AS DOUBLE) * CAST((SELECT count(*) FROM $b) AS DOUBLE)
         |              / CAST(greatest((SELECT count(DISTINCT $ak) FROM $a), (SELECT count(DISTINCT $bk) FROM $b)) AS DOUBLE)) * 100 + 0.5) / 100.0 AS est_rows,
         |       (SELECT count(*) FROM $a JOIN $b ON $a.$ak = $b.$bk) AS actual_rows,
         |       floor((CAST((SELECT count(*) FROM $a JOIN $b ON $a.$ak = $b.$bk) AS DOUBLE)
         |              / (CAST((SELECT count(*) FROM $a) AS DOUBLE) * CAST((SELECT count(*) FROM $b) AS DOUBLE)
         |                 / CAST(greatest((SELECT count(DISTINCT $ak) FROM $a), (SELECT count(DISTINCT $bk) FROM $b)) AS DOUBLE))) * 10000 + 0.5) / 10000.0 AS err_ratio""".stripMargin
    s"""${audit("orders_customer", "orders", "o_custkey", "customer", "c_custkey")}
       |UNION ALL
       |${audit("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${audit("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")}
       |ORDER BY join_name""".stripMargin
  }

  /** q95: statistics MERGEABILITY — the property that decides whether a
    * metadata layer can maintain table stats incrementally from
    * per-partition stats or must rescan: count/min/max merged across the
    * five priority partitions are proven EQUAL to the global one-pass
    * stats (mergeable_match = 1), while summed per-partition NDVs
    * overcount the global NDV by the measured inflation factor — the
    * quantified reason real systems keep NDV as a mergeable sketch (HLL,
    * q31's surface) instead of exact per-partition counts. Scale: stats
    * frames are |partitions| rows; the only data-sized work is the two
    * aggregation passes the comparison is ABOUT. */
  def statsMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderpriority",
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"), $"o_custkey")
    val per = o.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("cnt"), min($"cents").as("mn"), max($"cents").as("mx"),
        countDistinct($"o_custkey").as("ndv"))
    val merged = per.agg(count(lit(1)).as("n_parts"), sum($"cnt").as("rows_merged"),
      min($"mn").as("mn_m"), max($"mx").as("mx_m"), sum($"ndv").as("ndv_sum"))
    val global = o.agg(count(lit(1)).as("rows_global"),
      min($"cents").as("mn_g"), max($"cents").as("mx_g"),
      countDistinct($"o_custkey").as("ndv_global"))
    merged.crossJoin(broadcast(global))
      .select($"n_parts", $"rows_merged", $"rows_global",
        ($"rows_merged" === $"rows_global" && $"mn_m" === $"mn_g"
          && $"mx_m" === $"mx_g").cast("int").as("mergeable_match"),
        $"ndv_sum", $"ndv_global",
        QueryUtil.halfUp($"ndv_sum".cast("double") / $"ndv_global".cast("double"), 4)
          .as("ndv_inflation"))
  }

  private val statsMergeOracle =
    """WITH o AS (SELECT o_orderpriority,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |             o_custkey
      |           FROM orders),
      |per AS (SELECT o_orderpriority, count(*) AS cnt, min(cents) AS mn,
      |               max(cents) AS mx, count(DISTINCT o_custkey) AS ndv
      |        FROM o GROUP BY o_orderpriority),
      |m AS (SELECT count(*) AS n_parts, CAST(sum(cnt) AS BIGINT) AS rows_merged,
      |             min(mn) AS mn_m, max(mx) AS mx_m, CAST(sum(ndv) AS BIGINT) AS ndv_sum
      |      FROM per),
      |g AS (SELECT count(*) AS rows_global, min(cents) AS mn_g, max(cents) AS mx_g,
      |             count(DISTINCT o_custkey) AS ndv_global
      |      FROM o)
      |SELECT m.n_parts, m.rows_merged, g.rows_global,
      |       CAST(m.rows_merged = g.rows_global AND m.mn_m = g.mn_g
      |            AND m.mx_m = g.mx_g AS INTEGER) AS mergeable_match,
      |       m.ndv_sum, g.ndv_global,
      |       floor((CAST(m.ndv_sum AS DOUBLE) / CAST(g.ndv_global AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS ndv_inflation
      |FROM m, g""".stripMargin

  /** AQP sampling modulus (keep 1 in [[AqpMod]] orders). */
  private val AqpMod = 100L

  /** q91: approximate query processing — the sampled GROUP BY an engine
    * answers dashboards with when the full fact is too big, HONESTLY
    * audited: per priority, the revenue estimate from a deterministic 1%
    * hash sample (md5 of the key — the x36/x57 sampling recipe, so the
    * sample is reproducible and the oracle draws the identical rows),
    * scaled by the sampling rate, with a CLT standard error from the
    * sample's exact integer moments, next to the TRUE value and relative
    * error. Exact-moment recipe throughout: sample sums/squares are
    * int64/decimal, SE's sqrt is IEEE-exact, and the error ratio divides
    * exact integers. Scale: the estimate path scans 1% of rows (at 100 TB
    * the sample predicate pushes to the scan and with hash-bucketed
    * layout prunes files); the audit path is the one full pass a real
    * deployment runs offline to calibrate. */
  def aqpGroupBy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val o = Tables.orders(spark, dir).select($"o_orderpriority",
      QueryUtil.md5Int(concat_ws("|", lit("aqp"), $"o_orderkey"), 4).as("h"),
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
    val sample = o.filter($"h" % AqpMod === 0)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("m"), sum($"c").as("sc"),
        sum($"c".cast(dec) * $"c".cast(dec)).as("scc"))
    val exact = o.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_true"), sum($"c").as("c_true"))
    val svar = ($"scc".cast("double") / $"m".cast("double")
      - ($"sc".cast("double") / $"m".cast("double"))
      * ($"sc".cast("double") / $"m".cast("double")))
    sample.join(exact, "o_orderpriority")
      .select($"o_orderpriority", $"n_true", $"m",
        ($"sc" * AqpMod).as("est_c"), $"c_true",
        QueryUtil.halfUp(
          abs(($"sc" * AqpMod - $"c_true").cast("double"))
            / $"c_true".cast("double"), 4).as("rel_err"),
        QueryUtil.halfUp(
          lit(AqpMod.toDouble) * sqrt(greatest(svar, lit(0.0))
            * $"m".cast("double")) / 100.0, 2).as("se_dollars"))
      .orderBy("o_orderpriority")
  }

  private val aqpGroupByOracle = {
    val hInt = QueryUtil.md5IntSql("concat_ws('|', 'aqp', CAST(o_orderkey AS VARCHAR))", 4)
    s"""WITH o AS (
       |  SELECT o_orderpriority, $hInt AS h,
       |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
       |  FROM orders),
       |s AS (
       |  SELECT o_orderpriority, count(*) AS m, sum(c) AS sc,
       |         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS scc
       |  FROM o WHERE h % $AqpMod = 0 GROUP BY o_orderpriority),
       |e AS (
       |  SELECT o_orderpriority, count(*) AS n_true, CAST(sum(c) AS BIGINT) AS c_true
       |  FROM o GROUP BY o_orderpriority)
       |SELECT s.o_orderpriority, e.n_true, s.m,
       |       CAST(s.sc * $AqpMod AS BIGINT) AS est_c, e.c_true,
       |       floor((abs(CAST(s.sc * $AqpMod - e.c_true AS DOUBLE)) / CAST(e.c_true AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS rel_err,
       |       floor(($AqpMod.0 * sqrt(greatest(CAST(s.scc AS DOUBLE) / CAST(s.m AS DOUBLE)
       |                - (CAST(s.sc AS DOUBLE) / CAST(s.m AS DOUBLE))
       |                  * (CAST(s.sc AS DOUBLE) / CAST(s.m AS DOUBLE)), 0.0)
       |              * CAST(s.m AS DOUBLE)) / 100.0) * 100 + 0.5) / 100.0 AS se_dollars
       |FROM s JOIN e ON s.o_orderpriority = e.o_orderpriority
       |ORDER BY s.o_orderpriority""".stripMargin
  }

  /* Opens with the two artifacts VERDICT r9 asked for:
   * the mergeable-sketch NDV that q95's inflation finding motivates (q96)
   * and the driver-visible batch-parity proof for the DSv2 paginated
   * MicroBatchStream (x132, closing the spec-only gap the same way x117
   * closed the streaming top-k's).
   * Elsewhere: x132 (StreamingQueries).
   */

  /** Sketch precision for q96 — log2 of the register count, passed
    * explicitly to BOTH the per-partition and the global sketch so the
    * union merges register-compatible states. */
  private val NdvLgK = 12

  /** q96: mergeable-NDV table statistics — the scale-correct answer to
    * q95's measured finding (exact per-partition NDVs overcount under
    * merge): per-partition Apache DataSketches HLL sketches
    * (`hll_sketch_agg`) are UNIONED (`hll_union_agg`) and the merged
    * estimate is compared against the exact NDV AND against the SAME
    * data merged under a COMPLETELY DIFFERENT partitioning. Sketch
    * internals can't hash-match across engines (q31's rule), so the
    * emitted columns are engine-stable: exact values, the q95 inflation
    * ratio as the counterfactual, and booleans —
    *
    *   - `merge_match`: estimate(∪ sketches by o_orderpriority) agrees
    *     with estimate(∪ sketches by custkey-hash buckets) within 2.5%
    *     of the exact NDV. The REGISTER merge is a pointwise max —
    *     associative, commutative, partition-shape-free — but the
    *     ESTIMATE is not a pure function of the registers in the
    *     DataSketches implementation: a sketch/union still fed only by
    *     coupon-mode inputs keeps the HIP estimator, whose accumulator
    *     depends on update ORDER, while a union that absorbed a dense
    *     sketch falls back to the order-free composite estimator — so
    *     exact cross-partitioning equality is unachievable by
    *     construction (measured: by-priority 1488 vs by-bucket 1505 vs
    *     one-pass 1492 at sf0.01, true 1500; max spread 1.13% of NDV).
    *     2.5% asserts the mergeability property with headroom ~2× the
    *     worst measured spread while staying well inside the 5%
    *     accuracy envelope.
    *   - `merged_within_bound`: the merged estimate is within 5% of the
    *     exact NDV (lgK=12 ⇒ RSE ≈ 1.6%, 5% ≈ 3σ).
    *
    * Scale: this is the ANALYZE-stats path (q93) a 100 TB metadata
    * layer actually ships — per-partition sketch state is O(2^lgK)
    * bytes regardless of partition size, merges are pointwise max, and
    * stats maintenance becomes incremental instead of a rescan. */
  def sketchNdv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderpriority", $"o_custkey")
    val per = o.groupBy($"o_orderpriority")
      .agg(hll_sketch_agg($"o_custkey", lit(NdvLgK)).as("sk"),
        countDistinct($"o_custkey").as("ndv_exact"))
    val merged = per.agg(count(lit(1)).as("n_parts"),
      hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est_merged"),
      sum($"ndv_exact").as("ndv_sum"))
    // the same rows partitioned a different way (64 hash buckets of the
    // VALUE column itself — maximally unlike the 5 priority partitions)
    val alt = o.groupBy(pmod(hash($"o_custkey"), lit(64)))
      .agg(hll_sketch_agg($"o_custkey", lit(NdvLgK)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est_alt"))
    val global = o.agg(countDistinct($"o_custkey").as("ndv_global"))
    merged.crossJoin(broadcast(alt)).crossJoin(broadcast(global))
      .select($"n_parts", $"ndv_global",
        (abs($"est_merged" - $"est_alt") <= $"ndv_global" * 0.025)
          .cast("int").as("merge_match"),
        (abs($"est_merged" - $"ndv_global") <= $"ndv_global" * 0.05)
          .cast("int").as("merged_within_bound"),
        QueryUtil.halfUp($"ndv_sum".cast("double") / $"ndv_global".cast("double"), 4)
          .as("exact_sum_inflation"))
  }

  private val sketchNdvOracle =
    """WITH per AS (SELECT o_orderpriority, count(DISTINCT o_custkey) AS ndv
      |             FROM orders GROUP BY o_orderpriority),
      |g AS (SELECT count(DISTINCT o_custkey) AS ndv_global FROM orders)
      |SELECT (SELECT count(*) FROM per) AS n_parts, g.ndv_global,
      |       1 AS merge_match, 1 AS merged_within_bound,
      |       floor((CAST((SELECT sum(ndv) FROM per) AS DOUBLE)
      |              / CAST(g.ndv_global AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS exact_sum_inflation
      |FROM g""".stripMargin

  /* The table-statistics family that q95/q96 opened
   * (mergeable histograms, MCV-aware cardinality estimation, incremental
   * ANALYZE), completing the metadata layer a 100 TB lakehouse keeps per
   * partition — every statistic here is either exactly mergeable or
   * sketch-mergeable, so stats maintenance is an O(partitions-touched)
   * incremental job, never a table rescan.
   * Elsewhere: x135 and x136 (DedupQueries); x133 and x138
   * (StreamingQueries); x134 (GraphQueries).
   */

  /** Fixed equi-width bin for q97 — bin edges are CONSTANTS (the two-pass
    * ANALYZE convention: min/max first, then bin), so per-partition
    * histograms are register-compatible under any partitioning. */
  private val HistWidth = 25000.0

  /** q97: mergeable equi-width histograms — the q96 counterpart for value
    * DISTRIBUTIONS. Per-partition histograms with shared constant bin
    * edges merge EXACTLY (bin counts sum — associative, commutative,
    * partition-shape-free), unlike exact NDV (q95's inflation) and unlike
    * the HLL estimate (q96's 2.5% cross-partitioning wobble). Two
    * maximally-different partitionings (5 priority groups vs 64 orderkey
    * hash buckets) are each histogrammed per-partition then merged; the
    * per-bin `merge_exact` flag asserts bitwise equality of the two merged
    * histograms. The histogram's own p50 estimate (linear interpolation
    * inside the median bin) lands within one bin width of the exact
    * interpolated median — `p50_within_bin` (the error bound a
    * histogram-based optimizer quotes).
    *
    * Scale: the per-partition state is O(bins) integers regardless of
    * partition size; the merge is one |bins|-row shuffle. This is the
    * selectivity-estimation stat (q94's input) maintained incrementally. */
  def histogramMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        floor($"o_totalprice" / HistWidth).cast("long").as("bin"))
    // partitioning A: 5 priority partitions -> per-partition histograms -> merge
    val mergedA = o.groupBy($"o_orderpriority", $"bin")
      .agg(count(lit(1)).as("c"))
      .groupBy($"bin").agg(sum($"c").as("cnt_a"))
    // partitioning B: 64 hash buckets of the key -> same merge
    val mergedB = o.groupBy(pmod(hash($"o_orderkey"), lit(64)).as("bk"), $"bin")
      .agg(count(lit(1)).as("c"))
      .groupBy($"bin").agg(sum($"c").as("cnt_b"))
    val n = o.agg(count(lit(1)).as("n"),
      percentile($"o_totalprice", lit(0.5)).as("p50_exact"))
    val w = Window.orderBy($"bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = mergedA.join(mergedB, Seq("bin"), "full_outer")
      .select($"bin",
        coalesce($"cnt_a", lit(0L)).as("cnt_a"),
        coalesce($"cnt_b", lit(0L)).as("cnt_b"))
      .withColumn("cum", sum($"cnt_a").over(w))
      .crossJoin(broadcast(n))
    // median bin: first bin whose cumulative count reaches n/2
    // (all arithmetic in DOUBLE, same op order as the oracle)
    val est = hist
      .filter(($"cum" - $"cnt_a") < $"n".cast("double") * 0.5 &&
        $"cum" >= $"n".cast("double") * 0.5)
      .select((lit(HistWidth) * $"bin" +
        lit(HistWidth) * (($"n".cast("double") * 0.5 - ($"cum" - $"cnt_a")) / $"cnt_a"))
        .as("p50_est"))
    hist.crossJoin(broadcast(est))
      .select($"bin", $"cnt_a", $"cnt_b",
        ($"cnt_a" === $"cnt_b").cast("int").as("merge_exact"),
        $"cum",
        halfUp4($"p50_est").as("p50_est"),
        (abs($"p50_est" - $"p50_exact") <= lit(HistWidth)).cast("int").as("p50_within_bin"))
      .orderBy("bin")
  }

  private val histogramMergeOracle =
    s"""WITH h AS (SELECT CAST(floor(o_totalprice / $HistWidth) AS BIGINT) AS bin,
       |                  CAST(count(*) AS BIGINT) AS cnt
       |           FROM orders GROUP BY 1),
       |c AS (SELECT bin, cnt,
       |        CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
       |        (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n
       |      FROM h),
       |med AS (SELECT $HistWidth * bin + $HistWidth * ((CAST(n AS DOUBLE) * 0.5 - (cum - cnt)) / cnt) AS p50_est
       |        FROM c WHERE (cum - cnt) < CAST(n AS DOUBLE) * 0.5 AND cum >= CAST(n AS DOUBLE) * 0.5),
       |ex AS (SELECT quantile_cont(o_totalprice, 0.5) AS p50_exact FROM orders)
       |SELECT c.bin, c.cnt AS cnt_a, c.cnt AS cnt_b, 1 AS merge_exact, c.cum,
       |       floor(med.p50_est * 10000 + 0.5) / 10000.0 AS p50_est,
       |       CAST(abs(med.p50_est - ex.p50_exact) <= $HistWidth AS INTEGER) AS p50_within_bin
       |FROM c, med, ex
       |ORDER BY c.bin""".stripMargin

  /** q98: MCV-aware join-cardinality estimation — the q94 estimator
    * upgraded with the most-common-values statistic every real optimizer
    * keeps (Postgres MCV lists, Spark CBO histogram stats). On the skewed
    * `documents.lang` self-equi-join (en is ~3x any other language), the
    * naive |R|·|S|/NDV uniform formula underestimates badly; pulling the
    * top-2 MCVs out (their contribution f² is exact) and applying the
    * uniform formula only to the residual cuts the relative error from
    * ~26% to under 1% at sf0.01. Emits both estimates, the true
    * cardinality, and the win flag — the evidence a planner needs to
    * justify the extra stats bytes.
    *
    * Scale: the MCV list is a top-K aggregate (map-side partial, K rows
    * kept per partition); the estimate itself is O(K) arithmetic on the
    * driver-side stats row, never touching data. */
  def mcvJoinCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("f"))
    val ranked = freq.withColumn("rk",
      row_number().over(Window.orderBy($"f".desc, $"lang")))
    val stats = ranked.agg(
      sum($"f").as("n"),
      count(lit(1)).as("ndv"),
      sum($"f" * $"f").as("actual"),
      sum(when($"rk" <= 2, $"f" * $"f").otherwise(0L)).as("mcv_sq"),
      sum(when($"rk" <= 2, $"f").otherwise(0L)).as("mcv_n"))
    stats.select(
      $"n", $"ndv", $"actual",
      halfUp4($"n".cast("double") * $"n" / $"ndv").as("naive_est"),
      halfUp4($"mcv_sq" +
        ($"n" - $"mcv_n").cast("double") * ($"n" - $"mcv_n") / ($"ndv" - 2)).as("mcv_est"),
      halfUp4(abs($"n".cast("double") * $"n" / $"ndv" - $"actual") / $"actual").as("naive_rel_err"),
      halfUp4(abs($"mcv_sq" +
        ($"n" - $"mcv_n").cast("double") * ($"n" - $"mcv_n") / ($"ndv" - 2) - $"actual") / $"actual")
        .as("mcv_rel_err"))
      .withColumn("mcv_wins", ($"mcv_rel_err" < $"naive_rel_err").cast("int"))
      .orderBy("n")
  }

  private val mcvJoinCardOracle =
    """WITH f AS (SELECT lang, CAST(count(*) AS BIGINT) AS f FROM documents GROUP BY 1),
      |r AS (SELECT lang, f, row_number() OVER (ORDER BY f DESC, lang) AS rk FROM f),
      |s AS (SELECT CAST(sum(f) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS ndv,
      |             CAST(sum(f * f) AS BIGINT) AS actual,
      |             CAST(sum(CASE WHEN rk <= 2 THEN f * f ELSE 0 END) AS BIGINT) AS mcv_sq,
      |             CAST(sum(CASE WHEN rk <= 2 THEN f ELSE 0 END) AS BIGINT) AS mcv_n
      |      FROM r),
      |e AS (SELECT n, ndv, actual,
      |        CAST(n AS DOUBLE) * n / ndv AS naive_raw,
      |        mcv_sq + CAST(n - mcv_n AS DOUBLE) * (n - mcv_n) / (ndv - 2) AS mcv_raw
      |      FROM s)
      |SELECT n, ndv, actual,
      |       floor(naive_raw * 10000 + 0.5) / 10000.0 AS naive_est,
      |       floor(mcv_raw * 10000 + 0.5) / 10000.0 AS mcv_est,
      |       floor(abs(naive_raw - actual) / actual * 10000 + 0.5) / 10000.0 AS naive_rel_err,
      |       floor(abs(mcv_raw - actual) / actual * 10000 + 0.5) / 10000.0 AS mcv_rel_err,
      |       CAST(floor(abs(mcv_raw - actual) / actual * 10000 + 0.5) / 10000.0
      |            < floor(abs(naive_raw - actual) / actual * 10000 + 0.5) / 10000.0 AS INTEGER) AS mcv_wins
      |FROM e
      |ORDER BY n""".stripMargin

  /** q99: incremental ANALYZE — the maintenance identity the q95–q97
    * family builds to: for a base partition T (orders before 1996) and a
    * delta Δ (1996 onward), merge(stats(T), stats(Δ)) must equal
    * stats(T ∪ Δ) per group WITHOUT rescanning T. count/sum/min/max merge
    * exactly (emitted as per-group equality flags, computed by really
    * running both sides); NDV merges through the q96 HLL union and lands
    * within the 5% sketch bound of the exact union NDV. This is the stats
    * refresh a 100 TB table runs on every ingest batch: O(|Δ|) scan plus
    * an O(groups) merge, where the naive recompute is O(|T|+|Δ|).
    *
    * Scale: both stats frames are tiny (|groups| rows); the merge is a
    * broadcast join. The delta scan partition-prunes on the date predicate
    * (o_orderdate >= cut reaches the parquet scan). */
  def incrementalStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cut = "1996-01-01"
    val o = Tables.orders(spark, dir).select($"o_orderpriority", $"o_custkey",
      $"o_orderdate", floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    def stats(df: DataFrame, tag: String): DataFrame =
      df.groupBy($"o_orderpriority").agg(
        count(lit(1)).as(s"cnt_$tag"),
        sum($"cents").as(s"sum_$tag"),
        min($"cents").as(s"min_$tag"),
        max($"cents").as(s"max_$tag"),
        hll_sketch_agg($"o_custkey", lit(12)).as(s"sk_$tag"))
    val t = stats(o.filter($"o_orderdate" < cut), "t")
    val d = stats(o.filter($"o_orderdate" >= cut), "d")
    val full = o.groupBy($"o_orderpriority").agg(
      count(lit(1)).as("n_full"),
      sum($"cents").as("sum_full"),
      min($"cents").as("min_full"),
      max($"cents").as("max_full"),
      countDistinct($"o_custkey").as("ndv_exact"))
    t.join(d, Seq("o_orderpriority"), "full_outer")
      .select($"o_orderpriority",
        (coalesce($"cnt_t", lit(0L)) + coalesce($"cnt_d", lit(0L))).as("cnt_m"),
        (coalesce($"sum_t", lit(0L)) + coalesce($"sum_d", lit(0L))).as("sum_m"),
        least($"min_t", $"min_d").as("min_m"), // least/greatest skip nulls
        greatest($"max_t", $"max_d").as("max_m"),
        hll_sketch_estimate(hll_union($"sk_t", $"sk_d", allowDifferentLgConfigK = true)).as("ndv_m"))
      .join(full, Seq("o_orderpriority"))
      .select($"o_orderpriority", $"n_full", $"sum_full", $"min_full", $"max_full",
        ($"cnt_m" === $"n_full").cast("int").as("cnt_merge_eq"),
        ($"sum_m" === $"sum_full").cast("int").as("sum_merge_eq"),
        ($"min_m" === $"min_full").cast("int").as("min_merge_eq"),
        ($"max_m" === $"max_full").cast("int").as("max_merge_eq"),
        $"ndv_exact",
        (abs($"ndv_m" - $"ndv_exact") <= $"ndv_exact" * 0.05).cast("int").as("ndv_within"))
      .orderBy("o_orderpriority")
  }

  private val incrementalStatsOracle =
    """WITH o AS (SELECT o_orderpriority, o_custkey,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |           FROM orders)
      |SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_full,
      |       CAST(sum(cents) AS BIGINT) AS sum_full,
      |       min(cents) AS min_full,
      |       max(cents) AS max_full,
      |       1 AS cnt_merge_eq, 1 AS sum_merge_eq, 1 AS min_merge_eq, 1 AS max_merge_eq,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact,
      |       1 AS ndv_within
      |FROM o
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** x137: bucketed co-located join — the storage-layout answer to the
    * fact-fact join shuffle (the single most expensive exchange pattern
    * at 100 TB). Both sides are written ONCE as bucketed+sorted tables
    * (8 buckets on the join key, the write's one-time shuffle), after
    * which every future join on that key is exchange-free: the
    * sort-merge join reads matching buckets directly (plan-asserted in
    * OperatorsSpec — no Exchange on either join key; the only exchange
    * left in the query is the final small aggregate's; a LOCAL per-bucket
    * sort remains because Spark only trusts write-time sortedness behind
    * the legacy one-file-per-bucket conf). The
    * `merge` hint pins SMJ so the demo can't degrade to a broadcast at
    * small SF. The oracle verifies the joined result itself.
    *
    * Scale: this is the bucketing contract Spark ships for exactly this
    * case — co-partitioned storage amortizes the shuffle across every
    * downstream join/aggregate on the bucket key; bucket count is chosen
    * per-table at write time (here 8; a 100 TB fact table would use
    * thousands, matched between co-joined tables). */
  def bucketJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_x137_wh").toString
    spark.sql("DROP TABLE IF EXISTS graft_x137_orders")
    spark.sql("DROP TABLE IF EXISTS graft_x137_lineitem")
    Tables.orders(spark, dir).select($"o_orderkey", $"o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders").saveAsTable("graft_x137_orders")
    Tables.lineitem(spark, dir).select($"l_orderkey", $"l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem").saveAsTable("graft_x137_lineitem")
    // eager localCheckpoint so the bucketed tables + warehouse dir can be
    // dropped before returning — repeated runs must not accumulate
    // bucketed copies on disk (the plan-shape assertion lives in
    // OperatorsSpec against bucketJoinOn, not this fn's return)
    val out = bucketJoinOn(spark)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(floor($"l_extendedprice" * 100 + 0.5).cast("long")).as("cents"))
      .localCheckpoint()
    spark.sql("DROP TABLE IF EXISTS graft_x137_orders")
    spark.sql("DROP TABLE IF EXISTS graft_x137_lineitem")
    QueryUtil.deleteRecursively(wh)
    out.orderBy("o_orderpriority")
  }

  /** The exchange-free join core, exposed for the plan-shape spec. */
  private[graft] def bucketJoinOn(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.table("graft_x137_orders").hint("merge")
      .join(spark.table("graft_x137_lineitem"), $"o_orderkey" === $"l_orderkey")
  }

  private val bucketJoinOracle =
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** x139: partition-pruned scan — the layout twin of x137. Orders are
    * written ONCE partitioned by order year (the standard date-partition
    * layout of every 100 TB fact table); a year-filtered aggregate then
    * reads exactly one directory: the filter binds to the partition
    * column at PLANNING time, so pruning happens in the file index — no
    * data file of any other year is even opened (plan-asserted in
    * OperatorsSpec: `PartitionFilters` carries the year predicate and
    * the scan selects 1 of 7 partitions). q92 ESTIMATES what layouts
    * save; this demonstrates the physical mechanism on disk.
    *
    * Scale: partition pruning is O(|partitions|) metadata work
    * regardless of data size — the difference between scanning 1/84th
    * of 100 TB and all of it for a month-bounded query. */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_x139").toString
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        year($"o_orderdate".cast("date")).as("o_year"))
      .write.partitionBy("o_year").parquet(s"$base/orders")
    // eager localCheckpoint so the partitioned copy can be deleted before
    // returning (plan assertion lives in OperatorsSpec via partitionPruneOn)
    val out = partitionPruneOn(spark, base)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
      .localCheckpoint()
    QueryUtil.deleteRecursively(base)
    out.orderBy("o_orderpriority")
  }

  /** The pruned-scan core, exposed for the plan-shape spec (returns the
    * filtered read; the spec asserts PartitionFilters + partition count). */
  private[graft] def partitionPruneOn(spark: SparkSession, base: String): DataFrame =
    spark.read.parquet(s"$base/orders").filter(col("o_year") === 1995)

  private val partitionPruneOracle =
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |WHERE year(CAST(o_orderdate AS DATE)) = 1995
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /* The remaining scale mechanics that had operators or
   * specs but no driver-visible oracle pair (salted aggregation, dynamic
   * partition pruning), plus three new capabilities a 100 TB lakehouse /
   * training-corpus platform needs — KMV-sketch join discovery over column
   * key-sets, per-domain frequency caps for corpus balancing, and the
   * change-data-feed APPLY that proves a snapshot diff is a lossless delta.
   * Elsewhere: x142 (CurationQueries); x144 (EtlQueries).
   */

  // ---------------------------------------------------------------- x140

  /** Salt fan-out for x140 — enough splits that the hot key's partials
    * spread across the 32 local cores; a 1000-executor deployment would
    * size this to a small multiple of the reducer count. */
  private val SaltBuckets = 16

  /** x140: hot-key salted aggregation parity — the driver-visible oracle
    * pair for `Skew.saltedSumCount` (spec-only in ScaleSpec until now).
    * ~70% of events are collapsed onto one degenerate group key (the
    * one-user-with-10⁹-events shape), then aggregated as
    * partial-on-(key,salt) → final-on-key. The oracle recomputes the
    * plain single-stage GROUP BY: for the exact integer aggregates
    * (cents sum, count) the two-stage rewrite must be result-identical —
    * that identity is exactly what the hash match certifies.
    *
    * Scale: AQE rebalances skewed JOINS but not skewed aggregations; the
    * salt splits the hot key across `SaltBuckets` partial groups so no
    * single reducer owns 70% of the data. Both shuffles move only
    * (key, salt) partial rows — O(keys × salts), not O(rows). Cents are
    * summed as BIGINT so the rewrite is exact (double sums would only
    * reassociate). */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select(
      when($"user_id" % 10 < 7, lit(-1L)).otherwise($"user_id").as("grp"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"),
      $"event_id")
    Skew.saltedSumCount(ev, "grp", "cents", "event_id", salts = SaltBuckets)
      .orderBy("grp")
  }

  private val saltedAggOracle =
    """SELECT CASE WHEN user_id % 10 < 7 THEN -1 ELSE user_id END AS grp,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events
      |GROUP BY 1
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------- x141

  /** KMV sketch size. k=256 ⇒ RSE ≈ 1/√(k−2) ≈ 6.3%; the emitted bound
    * checks 15% (~2.4σ). */
  private val KmvK = 256

  /** (k−1)·2⁴⁸ — the KMV estimator numerator over 48-bit hash space;
    * integer arithmetic end to end so both engines derive bit-identical
    * estimates (no float division). */
  private val KmvM: Long = (KmvK - 1).toLong << 48

  /** 48-bit hash of a key value: first 12 hex nibbles of md5 of the
    * decimal rendering — deterministic and implementable identically in
    * DuckDB (strpos nibble parse), so the SKETCH itself is oracle-exact. */
  private def kmvHash(v: Column): Column =
    md5Int(v.cast("string"), 12)

  /** x141: KMV-sketch join discovery — the data-lake "which columns join?"
    * primitive (inclusion-dependency / FK-candidate detection à la
    * Aurum/Lazo): per-column k-minimum-values sketches over md5-hashed key
    * sets give mergeable NDV, union-NDV, and containment ESTIMATES that
    * are pure integer functions of the deterministic sketch — so unlike
    * HLL (q96), the oracle reproduces every estimate bit-for-bit, and the
    * exact NDV/containment computed next to them grade the estimator
    * in-result (`ndv_ok`, `cont_ok` at a 15% ≈ 2.4σ bound).
    *
    * Four column pairs stage the realistic outcomes: a true FK
    * (lineitem.partkey ⊆ part), a reverse-range false candidate
    * (part.partkey ⊇ supplier.suppkey — containment 0.05), a numeric-
    * coincidence false FK (events.user_id ⊆ customer.c_custkey only
    * because both are small dense integer ranges — exactly the candidate
    * a discovery tool must surface for human review), and a dense
    * bidirectional key (customer ↔ orders).
    *
    * Scale: each sketch is one scan + a k-row TakeOrdered per column —
    * O(k) state per column regardless of cardinality, mergeable by
    * union-then-truncate, so a catalog maintains sketches per
    * column-partition incrementally and join discovery across ALL column
    * pairs becomes k-row sketch intersections, never data joins. The
    * exact columns here are the audit, not the production path. */
  def kmvInclusion(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Seq(
      ("p1_lineitem_part", Tables.lineitem(spark, dir), "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      ("p2_part_supplier", Tables.part(spark, dir), "p_partkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      ("p3_events_customer", Tables.events(spark, dir), "user_id",
        Tables.customer(spark, dir), "c_custkey"),
      ("p4_customer_orders", Tables.customer(spark, dir), "c_custkey",
        Tables.orders(spark, dir), "o_custkey"))
    pairs.map { case (label, dfA, colA, dfB, colB) =>
      kmvPair(spark, label, dfA, colA, dfB, colB)
    }.reduce(_ unionByName _).orderBy("pair")
  }

  private def kmvPair(spark: SparkSession, label: String,
      dfA: DataFrame, colA: String, dfB: DataFrame, colB: String): DataFrame = {
    import spark.implicits._
    def vals(df: DataFrame, c: String) = df.select(col(c).cast("long").as("v")).distinct()
    def sketch(v: DataFrame) =
      v.select(kmvHash($"v").as("h")).distinct().orderBy("h").limit(KmvK)
    val va = vals(dfA, colA); val vb = vals(dfB, colB)
    val sa = sketch(va); val sb = sketch(vb)
    val su = sa.union(sb).distinct().orderBy("h").limit(KmvK)
    val row = va.agg(count(lit(1)).as("ndv_a"))
      .crossJoin(vb.agg(count(lit(1)).as("ndv_b")))
      .crossJoin(va.join(vb, "v").agg(count(lit(1)).as("n_ab")))
      .crossJoin(sa.agg(max($"h").as("hk_a"), count(lit(1)).as("nk_a")))
      .crossJoin(sb.agg(max($"h").as("hk_b"), count(lit(1)).as("nk_b")))
      .crossJoin(su.agg(max($"h").as("hk_u"), count(lit(1)).as("nk_u")))
      .crossJoin(su.join(sa, "h").join(sb, "h").agg(count(lit(1)).as("n_both")))
    def est(nk: String, hk: String) =
      expr(s"CASE WHEN $nk < $KmvK THEN $nk ELSE CAST($KmvM AS BIGINT) DIV $hk END")
    row.select(lit(label).as("pair"), $"ndv_a", $"ndv_b", $"n_ab",
        est("nk_a", "hk_a").as("est_a"), est("nk_b", "hk_b").as("est_b"),
        est("nk_u", "hk_u").as("est_u"), $"n_both", $"nk_u")
      .withColumn("est_ab", expr("n_both * est_u DIV nk_u"))
      .select($"pair", $"ndv_a", $"ndv_b", $"n_ab",
        $"est_a", $"est_b", $"est_u", $"est_ab",
        halfUp4($"n_ab".cast("double") / $"ndv_a".cast("double")).as("cont_exact"),
        halfUp4($"est_ab".cast("double") / $"est_a".cast("double")).as("cont_est"))
      .withColumn("ndv_ok",
        ((abs($"est_a".cast("double") - $"ndv_a".cast("double")) <=
            $"ndv_a".cast("double") * 0.15) &&
          (abs($"est_b".cast("double") - $"ndv_b".cast("double")) <=
            $"ndv_b".cast("double") * 0.15)).cast("int"))
      .withColumn("cont_ok", (abs($"cont_est" - $"cont_exact") <= 0.15).cast("int"))
  }

  /** DuckDB 48-bit nibble parse of an md5 column `m` (the repo's standard
    * strpos pattern, Horner form). */
  private[queries] def h48Sql(m: String): String =
    (1 to 12).foldLeft("CAST(0 AS BIGINT)")((acc, i) =>
      s"($acc * 16 + (strpos('0123456789abcdef', substr($m, $i, 1)) - 1))")

  private def kmvPairSql(p: String, label: String,
      tblA: String, colA: String, tblB: String, colB: String): (String, String) = {
    val ctes =
      s"""${p}va AS (SELECT DISTINCT CAST($colA AS BIGINT) AS v FROM $tblA),
         |${p}vb AS (SELECT DISTINCT CAST($colB AS BIGINT) AS v FROM $tblB),
         |${p}ha AS (SELECT DISTINCT ${h48Sql("m")} AS h
         |           FROM (SELECT md5(CAST(v AS VARCHAR)) AS m FROM ${p}va)),
         |${p}hb AS (SELECT DISTINCT ${h48Sql("m")} AS h
         |           FROM (SELECT md5(CAST(v AS VARCHAR)) AS m FROM ${p}vb)),
         |${p}sa AS (SELECT h FROM ${p}ha ORDER BY h LIMIT $KmvK),
         |${p}sb AS (SELECT h FROM ${p}hb ORDER BY h LIMIT $KmvK),
         |${p}su AS (SELECT h FROM (SELECT h FROM ${p}sa UNION SELECT h FROM ${p}sb)
         |           ORDER BY h LIMIT $KmvK),
         |${p}row AS (SELECT
         |  (SELECT count(*) FROM ${p}va) AS ndv_a,
         |  (SELECT count(*) FROM ${p}vb) AS ndv_b,
         |  (SELECT count(*) FROM ${p}va a JOIN ${p}vb b ON a.v = b.v) AS n_ab,
         |  (SELECT max(h) FROM ${p}sa) AS hk_a, (SELECT count(*) FROM ${p}sa) AS nk_a,
         |  (SELECT max(h) FROM ${p}sb) AS hk_b, (SELECT count(*) FROM ${p}sb) AS nk_b,
         |  (SELECT max(h) FROM ${p}su) AS hk_u, (SELECT count(*) FROM ${p}su) AS nk_u,
         |  (SELECT count(*) FROM ${p}su u
         |     JOIN ${p}sa a ON u.h = a.h JOIN ${p}sb b ON u.h = b.h) AS n_both)""".stripMargin
    def est(nk: String, hk: String) =
      s"CASE WHEN $nk < $KmvK THEN $nk ELSE CAST($KmvM AS BIGINT) // $hk END"
    val select =
      s"""SELECT '$label' AS pair,
         |  CAST(ndv_a AS BIGINT) AS ndv_a, CAST(ndv_b AS BIGINT) AS ndv_b,
         |  CAST(n_ab AS BIGINT) AS n_ab, est_a, est_b, est_u, est_ab,
         |  floor(CAST(n_ab AS DOUBLE) / CAST(ndv_a AS DOUBLE) * 10000 + 0.5) / 10000.0 AS cont_exact,
         |  floor(CAST(est_ab AS DOUBLE) / CAST(est_a AS DOUBLE) * 10000 + 0.5) / 10000.0 AS cont_est,
         |  CAST(abs(CAST(est_a AS DOUBLE) - CAST(ndv_a AS DOUBLE)) <= CAST(ndv_a AS DOUBLE) * 0.15
         |       AND abs(CAST(est_b AS DOUBLE) - CAST(ndv_b AS DOUBLE)) <= CAST(ndv_b AS DOUBLE) * 0.15
         |       AS INTEGER) AS ndv_ok,
         |  CAST(abs((floor(CAST(est_ab AS DOUBLE) / CAST(est_a AS DOUBLE) * 10000 + 0.5) / 10000.0) -
         |           (floor(CAST(n_ab AS DOUBLE) / CAST(ndv_a AS DOUBLE) * 10000 + 0.5) / 10000.0))
         |       <= 0.15 AS INTEGER) AS cont_ok
         |FROM (SELECT *, CAST(n_both * est_u AS BIGINT) // nk_u AS est_ab
         |      FROM (SELECT *, ${est("nk_a", "hk_a")} AS est_a, ${est("nk_b", "hk_b")} AS est_b,
         |                      ${est("nk_u", "hk_u")} AS est_u
         |            FROM ${p}row))""".stripMargin
    (ctes, select)
  }

  private lazy val kmvInclusionOracle: String = {
    val parts = Seq(
      kmvPairSql("k1", "p1_lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      kmvPairSql("k2", "p2_part_supplier", "part", "p_partkey", "supplier", "s_suppkey"),
      kmvPairSql("k3", "p3_events_customer", "events", "user_id", "customer", "c_custkey"),
      kmvPairSql("k4", "p4_customer_orders", "customer", "c_custkey", "orders", "o_custkey"))
    s"""WITH ${parts.map(_._1).mkString(",\n")}
       |${parts.map(_._2).mkString("\nUNION ALL\n")}
       |ORDER BY pair""".stripMargin
  }

  // ---------------------------------------------------------------- x143

  /** x143: dynamic partition pruning — the runtime counterpart of x139's
    * static pruning and THE join optimization for partitioned fact tables:
    * the fact side is written once partitioned by year, the dim side is a
    * separately-stored calendar table; a selective dim filter
    * (`in_season = 1`, 3 of the 7 fixture years 1995–2001) reaches the FACT SCAN as a
    * `dynamicpruning` subquery on the partition column (plan-asserted in
    * OperatorsSpec), so only the 3 matching directories are read even
    * though the year set is unknowable at plan time. The oracle verifies
    * the joined aggregate itself.
    *
    * Scale: at 100 TB the fact table is date-partitioned into thousands of
    * directories; DPP reuses the dim side's broadcast to skip all
    * non-qualifying partitions at the SOURCE — I/O proportional to the
    * dim selectivity, not the table. Without it, every fact partition is
    * scanned and the filter applies post-join. */
  def dynPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_x143").toString
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        year($"o_orderdate".cast("date")).as("o_year"))
      .write.partitionBy("o_year").parquet(s"$base/orders")
    spark.range(1995, 2002)
      .select($"id".cast("int").as("d_year"), ($"id" % 3 === 0).cast("int").as("in_season"))
      .write.parquet(s"$base/dim")
    // eager localCheckpoint so the staged fact/dim copies can be deleted
    // before returning (plan assertion lives in OperatorsSpec via
    // dynPartitionPruneOn over its own staging dir)
    val out = dynPartitionPruneOn(spark, base).localCheckpoint()
    QueryUtil.deleteRecursively(base)
    out.orderBy("o_orderpriority")
  }

  /** The pruned-join query alone, over already-written fact/dim dirs —
    * split out so the spec can assert the dynamicpruning plan shape. */
  private[graft] def dynPartitionPruneOn(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    val fact = spark.read.parquet(s"$base/orders")
    val dim = spark.read.parquet(s"$base/dim").filter(col("in_season") === 1)
    fact.join(dim, fact("o_year") === dim("d_year"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
      .orderBy("o_orderpriority")
  }

  private val dynPartitionPruneOracle =
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |WHERE year(CAST(o_orderdate AS DATE)) % 3 = 0
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- x146

  /** x146: AQE skew-join split parity — the JOIN-side twin of x140: the
    * same 70%-hot-key distribution is sort-merge-joined (merge hint — the
    * demo must not degrade to broadcast) against a per-key dim table, with
    * the skew thresholds lowered so AQE's OptimizeSkewedJoin actually
    * fires at fixture scale: the hot partition is split into
    * advisory-sized chunks, each joined against a DUPLICATED copy of the
    * matching dim partition (spec-asserted `skew=true` in the executed
    * plan). The query is forced eagerly inside the conf window and the
    * confs restored, so the lowered thresholds never leak to other
    * queries; the oracle recomputes the join + rollup single-stage.
    *
    * Scale: this is the mechanism that saves the 100 TB fact-fact join
    * when one key owns a double-digit share of the rows — no salting
    * rewrite needed on the query side; AQE re-plans from runtime map
    * statistics. x140 covers the aggregation case AQE does not. */
  def skewJoinSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_x146_dim").toString
    // the dim is STORED, not derived inline: OptimizeSkewedJoin only
    // matches SMJ(Sort(stage), Sort(stage)) — a distinct() under the dim
    // Sort would break the pattern and silently disable the optimization
    skewEvents(spark, dir).select($"grp").distinct()
      .select($"grp", (abs($"grp") % 3).as("cat"))
      .write.parquet(s"$base/dim")
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    // scale thresholds with the fixture: a fixed 1 KB advisory splits the
    // sf0.1 hot partition into ~300 near-empty tasks (measured 9.5 s —
    // scheduling, not work). Thresholds only shape the PLAN, never the
    // result, so sizing them off the input file is safe; a real cluster
    // uses the defaults (256 MB / 64 MB) for the same reason.
    val srcBytes = new java.io.File(s"$dir/events.parquet").length()
    val advisory = math.max(1024L, srcBytes / 128).toString
    try {
      conf.set(keys(0), advisory)
      conf.set(keys(1), "2")
      conf.set(keys(2), advisory)
      // eager localCheckpoint forces execution HERE so the conf window
      // applies — result stays in executor block storage, not the driver
      skewJoinPlan(spark, dir, s"$base/dim").localCheckpoint()
        .orderBy("cat")
    } finally {
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
      // the checkpoint no longer references the staged dim — clean up
      QueryUtil.deleteRecursively(base)
    }
  }

  private[graft] def skewEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the round-robin repartition gives the join's map side real task
    // parallelism: the fixture is one small parquet file = ONE map task,
    // and AQE splits a skewed reduce partition by grouping MAP outputs —
    // with a single mapper there is nothing to group and the skew handling
    // silently no-ops. A production fact table always has many input
    // splits; this stands in for that.
    Tables.events(spark, dir).select(
      when($"user_id" % 10 < 7, lit(-1L)).otherwise($"user_id").as("grp"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .repartition(8)
  }

  /** The join alone (no conf window / no forced execution) — split out so
    * the spec can assert the skew-split plan shape after running it under
    * the same lowered thresholds. */
  private[graft] def skewJoinPlan(spark: SparkSession, dir: String, dimPath: String): DataFrame = {
    import spark.implicits._
    val ev = skewEvents(spark, dir)
    val dim = spark.read.parquet(dimPath)
    ev.hint("merge").join(dim.hint("merge"), "grp")
      .groupBy($"cat")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
  }

  private val skewJoinSplitOracle =
    """WITH ev AS (SELECT CASE WHEN user_id % 10 < 7 THEN -1 ELSE user_id END AS grp,
      |                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |            FROM events),
      |dim AS (SELECT grp, abs(grp) % 3 AS cat FROM (SELECT DISTINCT grp FROM ev))
      |SELECT dim.cat AS cat,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(ev.cents) AS BIGINT) AS sum_cents
      |FROM ev JOIN dim ON ev.grp = dim.grp
      |GROUP BY dim.cat
      |ORDER BY cat""".stripMargin

  /* The row-level runtime-filter join optimization
   * (the sibling of x143's partition-level DPP) and the l-diversity
   * privacy screen that completes q65's k-anonymity governance pass.
   * Elsewhere: x154 (AnalyticsQueries).
   */

  // ---------------------------------------------------------------- x153

  /** x153: runtime bloom-filter join pruning — the ROW-level sibling of
    * x143's DPP, for join columns that are NOT the partition key: the
    * optimizer's InjectRuntimeFilter plants a bloom filter built from the
    * selective dim side (`p_size > 47`, ~6% of parts) as a
    * `might_contain` bloom predicate on the fact scan, so
    * non-matching lineitem rows die at the source instead of crossing the
    * join shuffle (plan-asserted in OperatorsSpec). The merge hint keeps
    * the demo on SMJ — with a broadcast join the filter is moot; the
    * application-side threshold (default 10 GB — a no-inject guard, not a
    * semantics knob) is lowered inside the forced-execution conf window
    * and restored, like x146. The oracle recomputes the join + rollup.
    *
    * Scale: at 100 TB this is the difference between shuffling the whole
    * fact table and shuffling the ~6% that can possibly match — the same
    * I/O story as DPP but applicable to any equi-join column. False
    * positives only cost spill, never correctness. */
  def runtimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(keys(0), "true")
      conf.set(keys(1), "1024")
      // a broadcast-able dim disables injection (isProbablyShuffleJoin is
      // false when the join can plan as BHJ); at fixture scale every dim
      // broadcasts, so the window forces the shuffle-join planning a
      // 100 TB fact-fact join would have naturally
      conf.set(keys(2), "-1")
      // eager localCheckpoint forces execution HERE so the conf window
      // applies — result stays in executor block storage, not the driver
      runtimeFilterPlan(spark, dir).localCheckpoint()
        .orderBy("p_brand")
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private[graft] def runtimeFilterPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey",
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"))
    val p = Tables.part(spark, dir).filter($"p_size" > 47)
      .select($"p_partkey", $"p_brand")
    li.hint("merge").join(p.hint("merge"), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
  }

  private val runtimeFilterOracle =
    """SELECT p_brand,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size > 47
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** x162 HLL precision (same lgK as q96). */
  private val WinLgK = 12

  /** x162: sliding-window distinct actives from mergeable day-sketches —
    * the sketch answer to q46's exact 7-day WAU: one HLL sketch per day
    * (built once, O(2^lgK) bytes of state each), every window answered by
    * UNIONING the 7 day-sketches instead of rescanning raw events. The
    * exact WAU is computed alongside (trailing join over distinct
    * (user, day) pairs) and the estimate must land within 5% — the lgK=12
    * envelope q96 established. This is the pattern that makes "distinct
    * users over ANY trailing window" an O(days × sketch) query at 100 TB
    * instead of an O(events) rescan per window.
    *
    * Scale: raw events are touched exactly twice (day-sketch build, exact
    * audit — the audit drops in production); window assembly is a banded
    * join on the tiny day panel. */
  def windowHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(datediff(to_date($"ts"), lit("2024-01-01")).as("dayn"), $"user_id")
    val daySk = ev.groupBy($"dayn")
      .agg(hll_sketch_agg($"user_id", lit(WinLgK)).as("sk"))
      .localCheckpoint(true) // both sides of the trailing-window join
    val est = daySk.select($"dayn").join(
        daySk.select($"dayn".as("p_dayn"), $"sk"),
        $"p_dayn" >= $"dayn" - 6 && $"p_dayn" <= $"dayn")
      .groupBy($"dayn")
      .agg(count(lit(1)).as("window_days"),
        hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est"))
    val ud = ev.distinct().localCheckpoint(true)
    val exact = ud.select($"dayn").distinct().join(
        ud.select($"dayn".as("p_dayn"), $"user_id"),
        $"p_dayn" >= $"dayn" - 6 && $"p_dayn" <= $"dayn")
      .groupBy($"dayn")
      .agg(countDistinct($"user_id").as("wau_exact"))
    est.join(exact, "dayn")
      .select($"dayn", $"window_days", $"wau_exact",
        (abs($"est" - $"wau_exact") <= $"wau_exact" * 0.05)
          .cast("int").as("sketch_within_5pct"))
      .orderBy("dayn")
  }

  private val windowHllOracle =
    """WITH ud AS MATERIALIZED (
      |  SELECT DISTINCT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dayn,
      |         user_id
      |  FROM events),
      |days AS (SELECT DISTINCT dayn FROM ud)
      |SELECT d.dayn,
      |       CAST(count(DISTINCT p.dayn) AS BIGINT) AS window_days,
      |       CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau_exact,
      |       1 AS sketch_within_5pct
      |FROM days d JOIN ud p
      |  ON p.dayn >= d.dayn - 6 AND p.dayn <= d.dayn
      |GROUP BY d.dayn
      |ORDER BY d.dayn""".stripMargin

  /** x163 histogram bin width (shared with q97) and the audited range
    * predicates — deliberately NOT aligned to bin edges so the estimate
    * must interpolate inside bins. */
  private val HistW = 25000L
  private val SelRanges: Seq[(Int, Long, Long)] =
    (0 until 8).map(r => (r, 20000L + r * 40000L, 50000L + r * 40000L))

  /** x163: range-predicate selectivity estimation from the equi-width
    * histogram — the scan-side completion of the stats loop (q93 builds
    * stats, q94/q98 audit JOIN cardinality, this audits RANGE selectivity):
    * estimated rows = Σ_bins cnt · overlap(bin, range)/W under the
    * uniform-within-bin assumption. The overlap widths are exact integers
    * (all edges are integer), so est_fp = Σ cnt·overlap_w is an
    * order-free integer sum and the single division by W happens once at
    * the end — no float accumulation. True counts come from ONE
    * conditional-aggregate pass over the table (no per-range rescan);
    * the per-range error column is what a CBO regression suite tracks.
    *
    * Scale: the histogram is O(bins) state; estimation is O(bins·ranges)
    * arithmetic on stats, touching no data; the truth pass is one scan
    * with 8 conditional sums (audit-only — production trusts the stats). */
  def histogramSelectivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_totalprice", floor($"o_totalprice" / HistW).cast("long").as("bin"))
    val hist = o.groupBy($"bin").agg(count(lit(1)).as("cnt"))
    val ranges = SelRanges.toDF("range_id", "lo", "hi")
    val est = hist.crossJoin(broadcast(ranges))
      .select($"range_id", $"lo", $"hi", ($"cnt" *
        greatest(lit(0L),
          least($"hi", ($"bin" + 1) * HistW) - greatest($"lo", $"bin" * HistW)))
        .as("contrib"))
      .groupBy($"range_id", $"lo", $"hi")
      .agg(sum($"contrib").as("est_fp"))
    val truthRow = o.agg(
      SelRanges.map { case (r, lo, hi) =>
        sum(when($"o_totalprice" >= lo && $"o_totalprice" < hi, 1L).otherwise(0L)).as(s"t$r")
      }.head,
      SelRanges.map { case (r, lo, hi) =>
        sum(when($"o_totalprice" >= lo && $"o_totalprice" < hi, 1L).otherwise(0L)).as(s"t$r")
      }.tail: _*)
    val truth = truthRow.selectExpr(
      s"stack(${SelRanges.size}, " +
        SelRanges.map { case (r, _, _) => s"$r, t$r" }.mkString(", ") +
        ") as (range_id, true_rows)")
    est.join(truth, "range_id")
      .select($"range_id", $"lo", $"hi", $"est_fp",
        QueryUtil.halfUp4($"est_fp" / lit(HistW.toDouble)).as("est_rows"),
        $"true_rows",
        QueryUtil.halfUp4($"est_fp" / lit(HistW.toDouble) - $"true_rows").as("err"))
      .orderBy("range_id")
  }

  private val histogramSelectivityOracle = {
    val rangeValues = SelRanges
      .map { case (r, lo, hi) => s"($r, $lo, $hi)" }.mkString(", ")
    s"""WITH h AS (SELECT CAST(floor(o_totalprice / $HistW) AS BIGINT) AS bin,
       |                  CAST(count(*) AS BIGINT) AS cnt
       |           FROM orders GROUP BY 1),
       |r(range_id, lo, hi) AS (VALUES $rangeValues),
       |est AS (
       |  SELECT r.range_id, r.lo, r.hi,
       |         CAST(sum(h.cnt * greatest(0, least(r.hi, (h.bin + 1) * $HistW)
       |                                      - greatest(r.lo, h.bin * $HistW))) AS BIGINT) AS est_fp
       |  FROM h CROSS JOIN r
       |  GROUP BY r.range_id, r.lo, r.hi)
       |SELECT range_id, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi, est_fp,
       |       floor(est_fp / $HistW.0 * 10000 + 0.5) / 10000.0 AS est_rows,
       |       (SELECT CAST(count(*) AS BIGINT) FROM orders
       |        WHERE o_totalprice >= lo AND o_totalprice < hi) AS true_rows,
       |       floor((est_fp / $HistW.0
       |              - (SELECT count(*) FROM orders
       |                 WHERE o_totalprice >= lo AND o_totalprice < hi)) * 10000 + 0.5)
       |         / 10000.0 AS err
       |FROM est
       |ORDER BY range_id""".stripMargin
  }

  /* Quantile-sketch guarantee audit (the
   * mergeable-quantile counterpart of q96's HLL bound check), CBO join-order
   * cost comparison (the decision layer on top of q94/q98's estimators),
   * and a CSV round-trip through the oracle gate (formats were spec-only).
   * Elsewhere: x168 (EtlQueries).
   */

  /** q106 audited quantiles and sketch accuracy (ε = 1/Acc). */
  private val QAcc = 1000
  private val Quants = Seq(0.25, 0.5, 0.75, 0.95)

  /** q106: percentile_approx guarantee audit — Spark's quantile sketch
    * (Greenwald–Khanna family) promises every returned element's RANK is
    * within ε·N of the target (ε = 1/accuracy). The estimate itself
    * depends on partial-merge order, so the oracle-stable output is the
    * GUARANTEE, not the value: for each q, the exact ranks
    * count(x < est) and count(x ≤ est) must bracket (q ± 3ε)·N (3× the
    * contract for merge-order headroom; the q96/q31 bounded-error
    * pattern). A sketch whose merge violated its invariant fails the
    * flag — this is the regression test a 100 TB percentile service
    * needs, where exact ranks are a luxury the audit pays once.
    *
    * Scale: one sketch pass (mergeable, O(1/ε·log εN) state per
    * partition) + one rank-audit pass with the 4 estimates broadcast. */
  def quantileSketchBound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_totalprice")
    val ests = o.agg(percentile_approx($"o_totalprice",
        array(Quants.map(lit): _*), lit(QAcc)).as("ests"),
        count(lit(1)).as("n"))
      .select(posexplode($"ests").as(Seq("i", "est")), $"n")
    o.crossJoin(broadcast(ests))
      .groupBy($"i", $"n")
      .agg(sum(when($"o_totalprice" < $"est", 1L).otherwise(0L)).as("rank_lt"),
        sum(when($"o_totalprice" <= $"est", 1L).otherwise(0L)).as("rank_le"))
      .withColumn("q", element_at(array(Quants.map(lit): _*), ($"i" + 1).cast("int")))
      .select($"i".cast("int").as("i"), $"q", $"n",
        ($"rank_le".cast("double") >= ($"q" - 3.0 / QAcc) * $"n" &&
          $"rank_lt".cast("double") <= ($"q" + 3.0 / QAcc) * $"n")
          .cast("int").as("within_bound"))
      .orderBy("i")
  }

  private val quantileSketchBoundOracle = {
    val rows = Quants.zipWithIndex
      .map { case (q, i) => s"($i, ${q})" }.mkString(", ")
    s"""SELECT i, CAST(q AS DOUBLE) AS q,
       |       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n,
       |       1 AS within_bound
       |FROM (VALUES $rows) AS t(i, q)
       |ORDER BY i""".stripMargin
  }

  /** q107 selective dim filter (makes the two join orders genuinely
    * different in cost). */
  private val JoinSeg = "BUILDING"

  /** q107: join-order cost comparison — the DECISION layer on top of the
    * q94/q98 cardinality estimators: for the filtered 3-table chain
    * lineitem ⋈ orders ⋈ customer[mktsegment = BUILDING], cost the two
    * left-deep orders by their estimated intermediate size (the textbook
    * |A|·|B|/max(ndv) on base-table stats), measure the TRUE intermediate
    * sizes, and flag whether the estimator picks the truly cheaper order.
    * Starting from the filtered dim ((O⋈C')⋈L) should beat starting from
    * the fact join ((L⋈O)⋈C') — the exact reordering Catalyst's CBO
    * performs when stats exist; here the decision is derived from the
    * engine's OWN q93-style stats and auditable.
    *
    * Scale: estimates touch only stats aggregates; the truth pass runs
    * each intermediate once (audit-only). */
  def joinOrderCost(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir).select($"l_orderkey")
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val cf = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === JoinSeg).select($"c_custkey")
    val stats = l.agg(count(lit(1)).as("n_l"), countDistinct($"l_orderkey").as("ndv_l_ok"))
      .crossJoin(o.agg(count(lit(1)).as("n_o"),
        countDistinct($"o_orderkey").as("ndv_o_ok"),
        countDistinct($"o_custkey").as("ndv_o_ck")))
      .crossJoin(cf.agg(count(lit(1)).as("n_c"), countDistinct($"c_custkey").as("ndv_c_ck")))
    val trueLO = l.join(o, $"l_orderkey" === $"o_orderkey").agg(count(lit(1)).as("true_lo"))
    val trueOC = o.join(broadcast(cf), $"o_custkey" === $"c_custkey")
      .agg(count(lit(1)).as("true_oc"))
    stats.crossJoin(trueLO).crossJoin(trueOC)
      .withColumn("est_lo", $"n_l".cast("double") * $"n_o"
        / greatest($"ndv_l_ok", $"ndv_o_ok").cast("double"))
      .withColumn("est_oc", $"n_o".cast("double") * $"n_c"
        / greatest($"ndv_o_ck", $"ndv_c_ck").cast("double"))
      .selectExpr(
        """stack(2,
          |  'fact_first_LO', est_lo, CAST(true_lo AS DOUBLE),
          |  'dim_first_OC', est_oc, CAST(true_oc AS DOUBLE)) as (plan, est_inter, true_inter)""".stripMargin,
        "CAST(est_oc < est_lo AS INT) = CAST(true_oc < true_lo AS INT) as agree_raw")
      .select($"plan", halfUp($"est_inter", 2).as("est_inter"),
        $"true_inter".cast("long").as("true_inter"),
        $"agree_raw".cast("int").as("est_picks_true_winner"))
      .orderBy("plan")
  }

  private val joinOrderCostOracle =
    s"""WITH s AS (
       |  SELECT (SELECT count(*) FROM lineitem) AS n_l,
       |         (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_l_ok,
       |         (SELECT count(*) FROM orders) AS n_o,
       |         (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_o_ok,
       |         (SELECT count(DISTINCT o_custkey) FROM orders) AS ndv_o_ck,
       |         (SELECT count(*) FROM customer WHERE c_mktsegment = '$JoinSeg') AS n_c,
       |         (SELECT count(DISTINCT c_custkey) FROM customer
       |          WHERE c_mktsegment = '$JoinSeg') AS ndv_c_ck,
       |         (SELECT count(*) FROM lineitem JOIN orders
       |          ON l_orderkey = o_orderkey) AS true_lo,
       |         (SELECT count(*) FROM orders JOIN customer
       |          ON o_custkey = c_custkey
       |          WHERE c_mktsegment = '$JoinSeg') AS true_oc),
       |e AS (SELECT *,
       |        CAST(n_l AS DOUBLE) * n_o / CAST(greatest(ndv_l_ok, ndv_o_ok) AS DOUBLE) AS est_lo,
       |        CAST(n_o AS DOUBLE) * n_c / CAST(greatest(ndv_o_ck, ndv_c_ck) AS DOUBLE) AS est_oc
       |      FROM s)
       |SELECT t.plan,
       |       floor(t.est_inter * 100 + 0.5) / 100.0 AS est_inter,
       |       CAST(t.true_inter AS BIGINT) AS true_inter,
       |       CAST((e.est_oc < e.est_lo) = (e.true_oc < e.true_lo) AS INTEGER)
       |         AS est_picks_true_winner
       |FROM e, LATERAL (VALUES
       |  ('fact_first_LO', e.est_lo, CAST(e.true_lo AS DOUBLE)),
       |  ('dim_first_OC', e.est_oc, CAST(e.true_oc AS DOUBLE)))
       |  AS t(plan, est_inter, true_inter)
       |ORDER BY t.plan""".stripMargin

  // ---------------------------------------------------------------- x183

  /** x183: AMS (Alon–Matias–Szegedy) second-frequency-moment sketch,
    * audited against the exact F2 = Σ_k count(k)². Sixteen independent
    * estimators; estimator i assigns each key a deterministic ±1 sign
    * (hash parity) and keeps the running signed row count Z_i — then
    * E[Z_i²] = F2. The estimate is the mean of the 16 squares; the
    * audit emits exact, estimate, and a generous 3× two-sided bound
    * flag (theoretical rel. std. is √(2/16) ≈ 0.35). Key: l_partkey.
    *
    * Scale: the sketch is a 16-long integer vector with map-side
    * partial sums — mergeable across partitions and across days, which
    * is the point vs computing exact F2 (a full groupBy on the key).
    * The exact side here exists only as the audit's ground truth. */
  def amsF2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_partkey".cast("long").as("k"))
    // Sign hash MUST be nonlinear: a pure multiplicative-congruential map
    // (first attempt) leaves adjacent keys with near-alternating signs —
    // antithetic structure that CANCELS the signed sums and biased the
    // estimate ~40x LOW at every SF (measured). Two xor-shift rounds
    // between the multiplies break the linearity; all intermediates stay
    // under 2^62 so ANSI-mode arithmetic is overflow-safe in both engines.
    val h1 = pmod(pmod($"k" * 7919L + $"i" * 104729L, lit(1048576L)) * 2654435761L,
      lit(2147483648L))
    val h3 = pmod(h1.bitwiseXOR(shiftright(h1, 13)) * 2246822519L, lit(2147483648L))
    val sgn = when(pmod(h3.bitwiseXOR(shiftright(h3, 16)), lit(2L)) === 0L, 1L)
      .otherwise(-1L)
    val est = li.crossJoin(broadcast(spark.range(16).select($"id".as("i"))))
      .select($"i", sgn.as("sgn"))
      .groupBy($"i").agg(sum($"sgn").as("z"))
      .agg(expr("(sum(z * z)) div count(*)").as("f2_est"))
    val exact = li.groupBy($"k").agg(count(lit(1)).as("c"))
      .agg(sum($"c" * $"c").as("f2_exact"))
    est.crossJoin(exact).select(
      $"f2_exact", $"f2_est",
      ($"f2_est" >= expr("f2_exact div 3") && $"f2_est" <= $"f2_exact" * 3)
        .cast("int").as("within_3x"))
  }

  private val amsOracle =
    """WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS k FROM lineitem),
      |ests AS (SELECT i, CAST(sum(sgn) AS BIGINT) AS z FROM (
      |    SELECT i, CASE WHEN xor(h3, h3 >> 16) % 2 = 0 THEN 1 ELSE -1 END AS sgn
      |    FROM (
      |      SELECT i, (xor(h1, h1 >> 13) * 2246822519) % 2147483648 AS h3
      |      FROM (
      |        SELECT i, ((k * 7919 + i * 104729) % 1048576 * 2654435761)
      |                    % 2147483648 AS h1
      |        FROM li, (SELECT unnest(range(16)) AS i) ix) ha) hb) t0 GROUP BY i),
      |est AS (SELECT CAST(sum(z * z) // count(*) AS BIGINT) AS f2_est FROM ests),
      |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM
      |         (SELECT count(*) AS c FROM li GROUP BY k) cs)
      |SELECT f2_exact, f2_est,
      |       CAST(f2_est >= f2_exact // 3 AND f2_est <= f2_exact * 3 AS INTEGER)
      |         AS within_3x
      |FROM est, ex""".stripMargin

  /* Top-k as a real AGGREGATE — the
   * TypedImperativeAggregate `topk_pairs` (functions/TopKAggregate)
   * exercised against the window-function formulation it replaces. */

  /** x192: grouped top-k via the bounded-buffer aggregate. The window
    * formulation (`row_number() OVER (PARTITION BY g ORDER BY v DESC)`
    * then `rk <= k`) shuffles EVERY row to its group's partition and
    * sorts it, just to throw all but k away; `topk_pairs` is a
    * TypedImperativeAggregate, so each map task ships at most k pairs
    * per group into the exchange (ObjectHashAggregate partial → final,
    * plan-asserted in OperatorsSpec) — the same contract as a partial
    * sum, which is what makes grouped top-k tractable at 100 TB. Ties
    * are impossible by construction (id is unique and the buffer's
    * total order is v DESC, id ASC), so the result is deterministic
    * under any merge order; the oracle recomputes it with the window
    * formulation in DuckDB.
    *
    * Scale: exchange volume is groups × k rows, independent of input
    * size — vs the window's full-input shuffle + sort. */
  def topkAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderpriority".as("pri"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        $"o_orderkey".cast("long").as("k"))
      .groupBy($"pri")
      .agg(expr("topk_pairs(cents, k, 3)").as("top"))
      .select($"pri", posexplode($"top"))
      .select($"pri", ($"pos" + 1).as("rk"),
        $"col.id".as("o_orderkey"), $"col.v".as("cents"))
      .orderBy($"pri", $"rk")
  }

  private val topkOracle =
    """SELECT pri, CAST(rk AS INTEGER) AS rk, o_orderkey, cents FROM (
      |  SELECT o_orderpriority AS pri,
      |         CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         row_number() OVER (
      |           PARTITION BY o_orderpriority
      |           ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
      |                    o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY pri, rk""".stripMargin

  /** Count-Sketch geometry: d rows × w buckets, top-K audit terms. */
  private val CsRows = 5
  private val CsBuckets = 256L
  private val CsTopK = 20

  // ---------------------------------------------------------------- x258

  /** x258: Count-Sketch heavy-hitter estimation (Charikar, Chen &
    * Farach-Colton 2002) over whitespace unigrams — the SIGNED cousin
    * of x24's count-min: d = [[CsRows]] hash rows × w = [[CsBuckets]]
    * buckets, each term contributes sign(r,t)·c_t to bucket b(r,t), and
    * a term's estimate is the MEDIAN over rows of sign·bucket_sum —
    * unbiased (collisions cancel in expectation where count-min only
    * over-counts). Audited on the top-[[CsTopK]] exact terms: estimate
    * vs true count and absolute error. Sign and bucket come from
    * disjoint slices of ONE md5 per (row, term); all arithmetic is
    * exact BIGINT, and the 5-way median is the literal 3rd-smallest via
    * row_number — no engine median() semantics in play.
    *
    * Scale: one corpus explode + hash agg for term counts; the sketch
    * itself is vocab-sized input aggregated to d×w = 1280 cells — and
    * because Count-Sketch is LINEAR, Spark's map-side partial sums ARE
    * the published sketch-merge operation, so the same plan at 1000
    * executors builds per-partition sketches and adds them. Estimation
    * touches only the broadcast top-K join. */
  def countSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val hashed = counts
      .select($"term", $"c", explode(sequence(lit(0), lit(CsRows - 1))).as("r"))
      .withColumn("md", md5(concat_ws("|", lit("cs"), $"r", $"term")))
      .withColumn("b", conv(substring($"md", 1, 5), 16, 10).cast("long") % CsBuckets)
      .withColumn("sgn",
        when(conv(substring($"md", 6, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L))
    val sketch = hashed.groupBy($"r", $"b").agg(sum($"sgn" * $"c").as("sv"))
    val top = counts.orderBy($"c".desc, $"term").limit(CsTopK)
    val est = hashed.join(broadcast(top.select($"term")), Seq("term"))
      .join(broadcast(sketch), Seq("r", "b"))
      .select($"term", $"c", $"r", ($"sgn" * $"sv").as("est"))
    est
      .withColumn("rn", row_number().over(
        Window.partitionBy($"term").orderBy($"est", $"r")))
      .filter($"rn" === (CsRows + 1) / 2)
      .select($"term", $"c", $"est".as("est_med"), abs($"est" - $"c").as("abs_err"))
      .orderBy($"c".desc, $"term")
  }

  private val countSketchOracle = {
    val b = PipelineQueries.hexSql("md", 1, 5)
    val sgn = PipelineQueries.hexSql("md", 6, 1)
    s"""WITH counts AS MATERIALIZED (
       |  SELECT term, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY term),
       |hb AS MATERIALIZED (
       |  SELECT term, c, r, $b % $CsBuckets AS b,
       |         CASE WHEN $sgn % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT term, c, s AS r,
       |               md5(concat_ws('|', 'cs', CAST(s AS VARCHAR), term)) AS md
       |        FROM counts, (SELECT unnest(range(0, $CsRows)) AS s))),
       |sketch AS MATERIALIZED (
       |  SELECT r, b, CAST(sum(sgn * c) AS BIGINT) AS sv FROM hb GROUP BY r, b),
       |top AS (SELECT term FROM counts ORDER BY c DESC, term LIMIT $CsTopK),
       |est AS (
       |  SELECT h.term, h.c, h.r, h.sgn * s.sv AS est
       |  FROM hb h JOIN top USING (term) JOIN sketch s ON s.r = h.r AND s.b = h.b),
       |med AS (
       |  SELECT term, c, est,
       |         row_number() OVER (PARTITION BY term ORDER BY est, r) AS rn
       |  FROM est)
       |SELECT term, c, est AS est_med, abs(est - c) AS abs_err
       |FROM med WHERE rn = ${(CsRows + 1) / 2}
       |ORDER BY c DESC, term""".stripMargin
  }

  /** Selection histogram bucket width (cents) — ~1.3k buckets over the
    * l_extendedprice domain. */
  private val SelBucket = 8192L

  // ---------------------------------------------------------------- x260

  /** x260: exact rank selection WITHOUT a global sort — the two-phase
    * histogram drill-down every distributed engine uses for exact
    * quantiles at scale: phase 1 is one hash aggregation into
    * fixed-width value buckets (map-side partials, no shuffle of raw
    * rows beyond the tiny histogram); a cumulative scan over the
    * |buckets|-row histogram locates the bucket holding the target
    * rank; phase 2 sorts ONLY that bucket (~n/1300 rows) to read off
    * the exact order statistic. Run here for the median and p99 of
    * l_extendedprice in integer cents, with the scan fraction audited —
    * versus a naive exact quantile whose global sort shuffles the whole
    * corpus. All arithmetic is BIGINT (integer division pinned to
    * DIV / `//` on both sides).
    *
    * Scale: at 100 TB phase 1 is a 1.3k-group aggregate and phase 2
    * touches ~0.08% of rows — this is how you get EXACT percentiles
    * where percentile_approx's merge-order error (q106) is not
    * acceptable. */
  def histogramSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .select(floor($"l_extendedprice" * 100.0 + 0.5).cast("long").as("ic"))
      .withColumn("b", expr(s"ic DIV $SelBucket"))
    val hist = base.groupBy($"b").agg(count(lit(1)).as("c")).localCheckpoint(true)
    val ranks = hist.agg(sum($"c").as("n"))
      .select($"n", explode(array(
        struct(lit("p50").as("rk"), expr("(n + 1) DIV 2").as("k")),
        struct(lit("p99").as("rk"), (expr("(99 * n) DIV 100") + 1L).as("k")))).as("r"))
      .select($"n", $"r.rk".as("rk"), $"r.k".as("k"))
    val cum = hist.withColumn("cum",
      sum($"c").over(Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, 0)))
    val chosen = ranks.join(broadcast(cum),
        $"cum" - $"c" < $"k" && $"cum" >= $"k")
      .select($"rk", $"n", $"k", $"b", $"c".as("bucket_rows"),
        ($"k" - ($"cum" - $"c")).as("koff"))
    base.join(broadcast(chosen), Seq("b"))
      .withColumn("rn", row_number().over(Window.partitionBy($"rk").orderBy($"ic")))
      .filter($"rn" === $"koff")
      .select($"rk", $"n".as("n_rows"), $"k".as("target_rank"),
        $"b".as("probe_bucket"), $"bucket_rows",
        $"ic".as("sel_cents"), ($"ic" / 100.0).as("sel_price"),
        QueryUtil.halfUp4($"bucket_rows".cast("double") / $"n".cast("double")).as("scan_frac"))
      .orderBy($"rk")
  }

  private val histogramSelectOracle =
    s"""WITH base AS MATERIALIZED (
       |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS ic,
       |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) // $SelBucket AS b
       |  FROM lineitem),
       |hist AS MATERIALIZED (
       |  SELECT b, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY b),
       |ranks AS (
       |  SELECT n, rk, k FROM (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
       |  LATERAL (SELECT * FROM (VALUES ('p50', (n + 1) // 2),
       |                                 ('p99', (99 * n) // 100 + 1)) t(rk, k))),
       |cum AS (
       |  SELECT b, c, sum(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM hist),
       |chosen AS (
       |  SELECT rk, n, k, b, c AS bucket_rows, k - (cum - c) AS koff
       |  FROM ranks JOIN cum ON cum - c < k AND cum >= k),
       |sel AS (
       |  SELECT rk, n, k, ch.b AS probe_bucket, bucket_rows, ic, koff,
       |         row_number() OVER (PARTITION BY rk ORDER BY ic) AS rn
       |  FROM base JOIN chosen ch USING (b))
       |SELECT rk, n AS n_rows, k AS target_rank, probe_bucket, bucket_rows,
       |       ic AS sel_cents, ic / 100.0 AS sel_price,
       |       floor(CAST(bucket_rows AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5)
       |         / 10000.0 AS scan_frac
       |FROM sel WHERE rn = koff
       |ORDER BY rk""".stripMargin

  /** AMS sketch width: 128 sign counters in 8 groups of 16 (median of
    * group means — chi²₁₆-tight, measured ~10-22% rel. error on the
    * fixture vs ~90% for a naive affine hash, see amsSignSql). */
  private val AmsCounters = 128
  private val AmsGroups = 8

  /** AMS ±1 hash, rendered ONCE as SQL and used verbatim by BOTH
    * engines (Spark via expr()): a degree-3 polynomial over Z_p in the
    * user id with per-counter coefficients — the 4-wise-independent
    * family the AMS variance bound requires. Affine mixes (u*A + i*B
    * mod p) looked random but left neighboring user ids sign-correlated
    * and the estimate 10× low; the cubic restores E[c²]=F2 empirically.
    * Horner with a mod after every multiply keeps all intermediates
    * < 1e18 (DuckDB BIGINT overflow THROWS rather than wraps). */
  private val amsSignSql: String = {
    def coef(k: Int): String =
      s"(((i + 1) * ${GraphQueries.MisMul} + ${(k + 1) * 97531L} * (i + 7)) % ${GraphQueries.MisMod})"
    val v = s"(u % ${GraphQueries.MisMod})"
    val h = (1 to 3).foldLeft(coef(0)) { (acc, k) =>
      s"(($acc * $v + ${coef(k)}) % ${GraphQueries.MisMod})"
    }
    s"(CASE WHEN $h % 2 = 0 THEN 1 ELSE -1 END)"
  }

  // ---------------------------------------------------------------- x264

  /** x264: AMS tug-of-war F2 sketch — estimates the second frequency
    * moment Σ f(u)² of per-user event counts (= the self-join size that
    * drives shuffle-cost estimates) from [[AmsCounters]] signed
    * counters: counter i accumulates `sign_i(user) * f(user)` where
    * `sign_i` is a fixed ±1 hash, so each counter² is an unbiased F2
    * estimate; variance is tamed by median-of-[[AmsGroups]]-group-means.
    * Every counter is an exact integer sum (order-free); group means
    * share one fixed denominator, so the median-of-means is selected
    * by ranking the integer group SUMS — no floating point until the
    * final audit ratio. The exact F2 is computed alongside and the
    * relative error emitted.
    *
    * Scale: one hash-agg to per-user counts, then a 64-way explode of
    * the (small) user frame into partial integer sums — mergeable
    * across partitions/shards by construction, the property that lets
    * 1000 executors sketch 100 TB and combine 64 longs. */
  def amsF2X264(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Tables.events(spark, dir)
      .groupBy($"user_id".cast("long").as("u")).agg(count(lit(1)).as("f"))
      .localCheckpoint(true)
    val signed = freq
      .select($"u", $"f",
        explode(sequence(lit(0L), lit((AmsCounters - 1).toLong))).as("i"))
      .withColumn("s", expr(amsSignSql).cast("long"))
    val counters = signed.groupBy($"i").agg(sum($"s" * $"f").as("c"))
    val groups = counters
      .withColumn("g", expr(s"i DIV ${AmsCounters / AmsGroups}"))
      .groupBy($"g").agg(sum($"c" * $"c").as("gsum"))
    val med = groups
      .withColumn("rn", row_number().over(Window.orderBy($"gsum", $"g")))
      .filter($"rn" === lit((AmsGroups + 1) / 2))
      .select($"gsum")
    val exact = freq.agg(count(lit(1)).as("n_users"), sum($"f").as("n_events"),
      sum($"f" * $"f").as("exact_f2"))
    exact.crossJoin(broadcast(med))
      .select($"n_events", $"n_users", $"exact_f2", $"gsum".as("med_group_sum"),
        ($"gsum".cast("double") / lit((AmsCounters / AmsGroups).toDouble)).as("est_f2"),
        QueryUtil.halfUp4(
          abs($"gsum".cast("double") / lit((AmsCounters / AmsGroups).toDouble)
            - $"exact_f2".cast("double")) / $"exact_f2".cast("double")).as("rel_err"))
  }

  private val amsF2Oracle = {
    val gw = AmsCounters / AmsGroups
    s"""WITH freq AS MATERIALIZED (
       |  SELECT CAST(user_id AS BIGINT) AS u, CAST(count(*) AS BIGINT) AS f
       |  FROM events GROUP BY 1),
       |sgn AS (
       |  SELECT i, $amsSignSql * f AS sf
       |  FROM freq, (SELECT CAST(unnest(range($AmsCounters)) AS BIGINT) AS i)),
       |counters AS (SELECT i, CAST(sum(sf) AS BIGINT) AS c FROM sgn GROUP BY i),
       |gsums AS (
       |  SELECT i // $gw AS g, CAST(sum(c * c) AS BIGINT) AS gsum
       |  FROM counters GROUP BY 1),
       |med AS (
       |  SELECT gsum FROM (
       |    SELECT gsum, row_number() OVER (ORDER BY gsum, g) AS rn FROM gsums)
       |  WHERE rn = ${(AmsGroups + 1) / 2}),
       |exact AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_users,
       |         CAST(sum(f) AS BIGINT) AS n_events,
       |         CAST(sum(f * f) AS BIGINT) AS exact_f2
       |  FROM freq)
       |SELECT n_events, n_users, exact_f2, gsum AS med_group_sum,
       |       CAST(gsum AS DOUBLE) / $gw.0 AS est_f2,
       |       floor(abs(CAST(gsum AS DOUBLE) / $gw.0 - CAST(exact_f2 AS DOUBLE))
       |             / CAST(exact_f2 AS DOUBLE) * 10000 + 0.5) / 10000.0 AS rel_err
       |FROM exact, med""".stripMargin
  }

  /* The attribute-value-independence (AVI)
   * audit — the assumption every textbook cardinality estimator makes
   * and the single biggest source of optimizer misestimates. For five
   * canonical lineitem predicates, ONE scan produces all marginal and
   * pairwise-conjunction counts (0/1 flag sums + flag-product sums);
   * per pair we emit the independence estimate `c_i·c_j/n` against the
   * true conjunction count and the q-error — exactly the signal a CBO
   * (q107) needs to know when to distrust its own selectivity math.
   */

  /** The audited predicates, shared verbatim with the oracle. */
  private val Preds: Seq[(String, String)] = Seq(
    ("rf_r", "l_returnflag = 'R'"),
    ("ls_f", "l_linestatus = 'F'"),
    ("qty_low", "l_quantity <= 25.0"),
    ("disc_hi", "l_discount >= 0.05"),
    ("pre98", "year(l_shipdate) < 1998"))

  // ---------------------------------------------------------------- x284

  /** x284: AVI / independence audit. All C(5,2)=10 predicate pairs from
    * one aggregation pass: each predicate becomes a 0/1 flag column,
    * marginals are flag sums, conjunctions are flag-product sums — no
    * second scan, no per-pair jobs. The q-error
    * `max(est, act)/min(est, act)` is the standard optimizer-quality
    * metric; est is the rational `c_i·c_j/n` (doubles from identical
    * integers).
    *
    * Scale: one corpus scan into an 16-column aggregate; the pair
    * report is O(pairs) arithmetic. This is how you audit AVI on
    * 100 TB without 10 separate count(*) jobs. */
  def aviAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flagged = Preds.foldLeft(Tables.lineitem(spark, dir)) {
      case (df, (name, sql)) =>
        df.withColumn(s"f_$name", when(expr(sql), 1L).otherwise(0L))
    }
    val pairs = Preds.combinations(2).toSeq.map { case Seq((a, _), (b, _)) => (a, b) }
    val aggs =
      Seq(count(lit(1)).as("n")) ++
        Preds.map { case (name, _) => sum(col(s"f_$name")).as(s"c_$name") } ++
        pairs.map { case (a, b) =>
          sum(col(s"f_$a") * col(s"f_$b")).as(s"c_${a}__$b")
        }
    val cells = flagged.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("pred_i"), lit(b).as("pred_j"),
        col(s"c_$a").as("ci"), col(s"c_$b").as("cj"),
        col(s"c_${a}__$b").as("cij"))
    }
    cells.select($"n", explode(array(rows: _*)).as("p"))
      .select($"p.pred_i".as("pred_i"), $"p.pred_j".as("pred_j"), $"n",
        $"p.ci".as("ci"), $"p.cj".as("cj"), $"p.cij".as("cij"))
      .withColumn("est",
        $"ci".cast("double") * $"cj".cast("double") / $"n".cast("double"))
      .select($"pred_i", $"pred_j", $"n", $"ci", $"cj", $"cij",
        QueryUtil.halfUp4($"est").as("est_rows"),
        QueryUtil.halfUp4(
          greatest($"est", $"cij".cast("double"))
            / least($"est", $"cij".cast("double"))).as("q_error"))
      .orderBy($"pred_i", $"pred_j")
  }

  private val aviAuditOracle = {
    val flagCols = Preds.map { case (name, sql) =>
      s"CASE WHEN $sql THEN 1 ELSE 0 END AS f_$name"
    }.mkString(",\n|         ")
    val pairList = Preds.combinations(2).toSeq.map { case Seq((a, _), (b, _)) => (a, b) }
    val cellAggs =
      (Preds.map { case (name, _) =>
        s"CAST(sum(f_$name) AS BIGINT) AS c_$name"
      } ++ pairList.map { case (a, b) =>
        s"CAST(sum(f_$a * f_$b) AS BIGINT) AS c_${a}__$b"
      }).mkString(",\n|         ")
    val branches = pairList.map { case (a, b) =>
      s"SELECT '$a' AS pred_i, '$b' AS pred_j, n, c_$a AS ci, c_$b AS cj, c_${a}__$b AS cij FROM cells"
    }.mkString("\n|  UNION ALL ")
    s"""WITH flagged AS (
       |  SELECT $flagCols
       |  FROM lineitem),
       |cells AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         $cellAggs
       |  FROM flagged),
       |pairs AS (
       |  $branches)
       |SELECT pred_i, pred_j, n, ci, cj, cij,
       |       floor(CAST(ci AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE)
       |             * 10000 + 0.5) / 10000.0 AS est_rows,
       |       floor(greatest(CAST(ci AS DOUBLE) * CAST(cj AS DOUBLE)
       |                        / CAST(n AS DOUBLE), CAST(cij AS DOUBLE))
       |             / least(CAST(ci AS DOUBLE) * CAST(cj AS DOUBLE)
       |                       / CAST(n AS DOUBLE), CAST(cij AS DOUBLE))
       |             * 10000 + 0.5) / 10000.0 AS q_error
       |FROM pairs
       |ORDER BY pred_i, pred_j""".stripMargin
  }

  // ---------------------------------------------------------------- x329

  /** Deterministic sample stride and target partition count. */
  private val RangeStride = 101L
  private val RangeParts = 8

  /** x329: range-partitioner boundary audit — Spark's RangePartitioner
    * contract made inspectable: draw a deterministic sample (orderkey ≡
    * 0 mod [[RangeStride]]), cut [[RangeParts]]−1 boundaries at equal
    * sample ranks, then measure the EXACT row count each range bucket
    * receives (bucket = #boundaries < value, the partitioner's rule).
    * Emits per-bucket counts, their fraction of the table, and whether
    * the worst bucket stays within 2× of ideal — the skew bound a
    * sample-based global sort actually delivers (the engine-ops
    * counterpart of x140's salted-agg and x146's AQE skew split).
    *
    * Scale: the sample is stride-bounded (|sample| = rows/101 — the
    * collect_list is the same bounded-model shape as the IVF centroid
    * tables); the audit pass is one broadcast of 7 boundaries + a
    * map-side bucket classification. */
  def rangeBoundaries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Tables.orders(spark, dir)
      .select($"o_orderkey",
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val sample = cents.filter($"o_orderkey" % RangeStride === 0L)
      .agg(sort_array(collect_list($"cents")).as("s"))
      .select($"s", size($"s").cast("long").as("slen"))
    // greatest(1, ·): a sample smaller than the partition count must
    // yield duplicated boundaries (skewed but defined, parity-consistent),
    // not element_at(s, 0), which Spark rejects while DuckDB s[0] returns
    // NULL — divergent failure modes (r13 code-review catch).
    val withB = sample.select((1 until RangeParts).map(i =>
      expr(s"element_at(s, CAST(greatest(1, ($i * slen) DIV $RangeParts) AS INT))")
        .as(s"b$i")): _*)
    val bucketed = cents.crossJoin(broadcast(withB))
      .select($"cents",
        (1 until RangeParts).map(i =>
          when($"cents" > col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _).as("bucket"))
    val counts = bucketed.groupBy($"bucket").agg(count(lit(1)).as("cnt"))
    val tot = Window.partitionBy(lit(1))
    counts
      .withColumn("total", sum($"cnt").over(tot))
      .select($"bucket", $"cnt",
        QueryUtil.halfUp($"cnt".cast("double") / $"total".cast("double"), 6)
          .as("frac"),
        // exact 2x-of-ideal bound: cnt * parts <= 2 * total
        when($"cnt" * RangeParts.toLong <= $"total" * 2L, 1L).otherwise(0L)
          .as("within_2x"))
      .orderBy($"bucket")
  }

  private val rangeBoundariesOracle = {
    val bDefs = (1 until RangeParts).map(i =>
      s"s[CAST(greatest(1, ($i * slen) // $RangeParts) AS INT)] AS b$i").mkString(",\n       |         ")
    val bucketExpr = (1 until RangeParts).map(i =>
      s"CASE WHEN cents > b$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH cents AS MATERIALIZED (
       |  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |sample AS (
       |  SELECT list(cents ORDER BY cents) AS s,
       |         CAST(count(*) AS BIGINT) AS slen
       |  FROM cents WHERE o_orderkey % $RangeStride = 0),
       |bnd AS (
       |  SELECT $bDefs
       |  FROM sample),
       |bucketed AS (
       |  SELECT CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM cents, bnd),
       |counts AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM bucketed GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
       |SELECT bucket, cnt,
       |       floor(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 + 0.5)
       |         / 1000000.0 AS frac,
       |       CAST(CASE WHEN cnt * $RangeParts <= total * 2 THEN 1 ELSE 0 END
       |            AS BIGINT) AS within_2x
       |FROM counts, tot
       |ORDER BY bucket""".stripMargin
  }

  /* Materialized-view selection over the cube
   * lattice — the greedy algorithm of Harinarayan, Rajaraman & Ullman
   * ("Implementing Data Cubes Efficiently", SIGMOD 1996), the classic
   * OLAP answer to "which k cuboids should we precompute?". The lattice
   * is the 2³ subsets of (returnflag, linestatus, shipyear); every view's
   * exact row count derives from ONE corpus pass (the base cuboid), and
   * the greedy rounds run as pure integer algebra on the 8-row lattice
   * frame, unrolled identically in both engines.
   */

  /** Greedy rounds (views selected beyond the always-materialized top). */
  private val GreedyK = 3

  /** x337: HRU greedy view selection. Views are 3-bit masks (1 = flag,
    * 2 = status, 4 = year); |view| = distinct masked tuples of the
    * ≤ 42-row base cuboid, so all eight sizes cost one corpus scan.
    * cost(w) = size of the smallest materialized ancestor (w ⊆ v ⟺
    * w & v = w); benefit(v) = Σ_{w ⊆ v} max(0, cost(w) − |v|). Each
    * round picks the max-benefit unpicked view (ties → lowest mask,
    * deterministic), updates every descendant's cost, and reports the
    * pick plus the lattice's total query cost after the pick — the
    * monotone trace the HRU paper's 0.63-approximation guarantee is
    * stated over. All counts/benefits BIGINT; no doubles anywhere.
    *
    * Scale: the corpus pass is a map-side-combinable distinct on three
    * low-cardinality dims; the lattice algebra is 8×8 joins on
    * broadcast-sized frames, checkpointed per round so the plan stays
    * bounded. At 100 TB the base cuboid is still ≤ |domain product|
    * rows — the whole point of lattice-based view selection. */
  def viewSelection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("f"), $"l_linestatus".as("s"),
        year($"l_shipdate").cast("long").as("y"))
      .distinct()
    val masks = (0L to 7L).toDF("mask")
    val sizes = base.crossJoin(masks)
      .select($"mask",
        when($"mask".bitwiseAND(lit(1L)) === 1L, $"f").as("mf"),
        when($"mask".bitwiseAND(lit(2L)) === 2L, $"s").as("ms"),
        when($"mask".bitwiseAND(lit(4L)) === 4L, $"y").as("my"))
      .distinct()
      .groupBy($"mask").agg(count(lit(1)).as("vrows"))
    val top = sizes.filter($"mask" === 7L).select($"vrows".as("s7"))
    var state = sizes.crossJoin(broadcast(top))
      .select($"mask", $"vrows", $"s7".as("cost"), ($"mask" === 7L).as("picked"))
      .localCheckpoint(true)
    var out: DataFrame = null
    (1 to GreedyK).foreach { i =>
      val ben = state.filter(!$"picked").as("v")
        .join(state.as("c"), expr("(c.mask & v.mask) = c.mask"))
        .groupBy(col("v.mask").as("vmask"), col("v.vrows").as("vsize"))
        .agg(sum(greatest(lit(0L), col("c.cost") - col("v.vrows"))).as("benefit"))
      val pick = ben
        .withColumn("rn", row_number().over(Window.orderBy($"benefit".desc, $"vmask")))
        .filter($"rn" === 1).select($"vmask", $"vsize", $"benefit")
      state = state.crossJoin(broadcast(pick))
        .select($"mask", $"vrows",
          when(($"mask".bitwiseAND($"vmask")) === $"mask" && $"vsize" < $"cost", $"vsize")
            .otherwise($"cost").as("cost"),
          ($"picked" || ($"mask" === $"vmask")).as("picked"))
        .localCheckpoint(true)
      val tot = state.agg(sum($"cost").as("total_cost"))
      val row = pick.crossJoin(broadcast(tot))
        .select(lit(i.toLong).as("iter"), $"vmask".as("mask"),
          $"vsize".as("view_rows"), $"benefit", $"total_cost")
      out = if (out == null) row else out.unionByName(row)
    }
    out.orderBy($"iter")
  }

  private val viewSelectionOracle = {
    val rounds = (1 to GreedyK).map { i =>
      val prev = s"state${i - 1}"
      s"""ben$i AS (
         |  SELECT v.mask AS vmask, v.vrows AS vsize,
         |         CAST(sum(greatest(0, c.cost - v.vrows)) AS BIGINT) AS benefit
         |  FROM $prev v JOIN $prev c ON (c.mask & v.mask) = c.mask
         |  WHERE NOT v.picked GROUP BY 1, 2),
         |pick$i AS (SELECT * FROM ben$i ORDER BY benefit DESC, vmask LIMIT 1),
         |state$i AS (
         |  SELECT s.mask, s.vrows,
         |         CASE WHEN (s.mask & p.vmask) = s.mask AND p.vsize < s.cost
         |              THEN p.vsize ELSE s.cost END AS cost,
         |         s.picked OR s.mask = p.vmask AS picked
         |  FROM $prev s CROSS JOIN pick$i p),
         |tot$i AS (SELECT CAST(sum(cost) AS BIGINT) AS total_cost FROM state$i)""".stripMargin
    }.mkString(",\n")
    val selects = (1 to GreedyK).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS iter, CAST(vmask AS BIGINT) AS mask,
         |       vsize AS view_rows, benefit,
         |       (SELECT total_cost FROM tot$i) AS total_cost
         |FROM pick$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS MATERIALIZED (
       |  SELECT DISTINCT l_returnflag AS f, l_linestatus AS s,
       |         CAST(year(l_shipdate) AS BIGINT) AS y
       |  FROM lineitem),
       |masks AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) m(mask)),
       |proj AS (
       |  SELECT DISTINCT mask,
       |         CASE WHEN mask & 1 = 1 THEN f END AS mf,
       |         CASE WHEN mask & 2 = 2 THEN s END AS ms,
       |         CASE WHEN mask & 4 = 4 THEN y END AS my
       |  FROM base CROSS JOIN masks),
       |sizes AS (SELECT mask, CAST(count(*) AS BIGINT) AS vrows FROM proj GROUP BY 1),
       |state0 AS (
       |  SELECT mask, vrows, (SELECT vrows FROM sizes WHERE mask = 7) AS cost,
       |         mask = 7 AS picked
       |  FROM sizes),
       |$rounds
       |$selects
       |ORDER BY iter""".stripMargin
  }

  /* The column-encoding advisor — the engine-ops
   * decision every columnar writer (parquet/ORC) makes per column chunk:
   * PLAIN vs DICTIONARY vs RLE, from exact census statistics (row count,
   * NDV, value-run count, byte widths). Companion to x328 (posting-list
   * compression sizing) and q92/x163 (zone maps / selectivity): together
   * they cover the storage-layout advisor surface.
   */

  /** Rows per "page" (by orderkey bucket): runs are counted WITHIN pages
    * only, because real columnar encodings reset per page — and it makes
    * the run-count window partitionable instead of a global sort. */
  private val PageOrders = 1000L

  /** x338: encoding advisor over five lineitem columns, melted to
    * (column, value-as-string) under the deterministic (orderkey,
    * linenumber) file order. Census per column: n, Σlen, max len, NDV,
    * Σ distinct len, and page-local runs (lag within (column, page)).
    * Sizing model (bytes, all integer): PLAIN = Σlen + 4n (length
    * prefixes); DICT = Σdlen + 4·NDV + ⌈n·bw/8⌉ with the bit width from
    * a log-free threshold CASE (x328 convention); RLE = runs·(maxlen+4)
    * (worst-case run literals). best = argmin with the fixed tie order
    * dict ≺ rle ≺ plain. Doubles appear nowhere.
    *
    * Scale: one melt pass (5× scan width), run counting parallelizes by
    * (column, page) partitions — no global sort; the NDV census is a
    * distinct + count per column. At 100 TB pages map to row groups and
    * the advisor output stays |columns| rows. */
  def encodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber",
        expr(s"l_orderkey DIV $PageOrders").as("page"),
        $"l_returnflag".as("v_flag"), $"l_linestatus".as("v_status"),
        $"l_quantity".cast("long").cast("string").as("v_qty"),
        floor($"l_discount" * 100 + 0.5).cast("long").cast("string").as("v_disc"),
        year($"l_shipdate").cast("long").cast("string").as("v_year"))
    val melted = base.selectExpr("page", "l_orderkey", "l_linenumber",
      "stack(5, 'flag', v_flag, 'status', v_status, 'qty', v_qty, " +
        "'disc', v_disc, 'year', v_year) AS (col_name, val)")
    // (orderkey, linenumber) is NOT unique in the fixture (dup pairs) —
    // close the order with the value itself so the run census is
    // engine-deterministic (equal keys cluster, which an encoder's
    // sort-within-page would do anyway)
    val w = Window.partitionBy($"col_name", $"page")
      .orderBy($"l_orderkey", $"l_linenumber", $"val")
    val marked = melted.withColumn("chg",
      when(lag($"val", 1).over(w).isNull || lag($"val", 1).over(w) =!= $"val", 1L)
        .otherwise(0L))
    val stats = marked.groupBy($"col_name").agg(
      count(lit(1)).as("n"), sum(length($"val").cast("long")).as("sum_len"),
      max(length($"val").cast("long")).as("wmax"), sum($"chg").as("runs"))
    val dist = melted.select($"col_name", $"val").distinct()
      .groupBy($"col_name").agg(
        count(lit(1)).as("ndv"), sum(length($"val").cast("long")).as("sum_dlen"))
    val bw = when($"ndv" <= 2L, 1L).when($"ndv" <= 4L, 2L).when($"ndv" <= 16L, 4L)
      .when($"ndv" <= 256L, 8L).when($"ndv" <= 65536L, 16L).otherwise(32L)
    stats.join(dist, "col_name")
      .withColumn("bw", bw)
      .withColumn("plain_b", $"sum_len" + lit(4L) * $"n")
      .withColumn("dict_b",
        $"sum_dlen" + lit(4L) * $"ndv" + expr("(n * bw + 7) DIV 8"))
      .withColumn("rle_b", $"runs" * ($"wmax" + lit(4L)))
      .select($"col_name", $"n", $"ndv", $"runs", $"plain_b", $"dict_b", $"rle_b",
        when($"dict_b" <= $"rle_b" && $"dict_b" <= $"plain_b", "dict")
          .when($"rle_b" <= $"plain_b", "rle").otherwise("plain").as("best"))
      .orderBy($"col_name")
  }

  // bw needs to exist as a column before dict_b's expr() references it —
  // restated here for the oracle as an inline CASE.
  private val bwSql =
    """CASE WHEN ndv <= 2 THEN 1 WHEN ndv <= 4 THEN 2 WHEN ndv <= 16 THEN 4
      |     WHEN ndv <= 256 THEN 8 WHEN ndv <= 65536 THEN 16 ELSE 32 END""".stripMargin

  private val encodingAdvisorOracle = {
    val melts = Seq("flag" -> "v_flag", "status" -> "v_status", "qty" -> "v_qty",
      "disc" -> "v_disc", "year" -> "v_year").map { case (nm, c) =>
      s"SELECT page, l_orderkey, l_linenumber, '$nm' AS col_name, $c AS val FROM base"
    }.mkString("\n  UNION ALL ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT l_orderkey, l_linenumber, l_orderkey // $PageOrders AS page,
       |         l_returnflag AS v_flag, l_linestatus AS v_status,
       |         CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS v_qty,
       |         CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS VARCHAR) AS v_disc,
       |         CAST(CAST(year(l_shipdate) AS BIGINT) AS VARCHAR) AS v_year
       |  FROM lineitem),
       |melted AS MATERIALIZED (
       |  $melts),
       |marked AS (
       |  SELECT col_name, val,
       |         CASE WHEN lag(val) OVER (PARTITION BY col_name, page
       |                ORDER BY l_orderkey, l_linenumber, val) IS DISTINCT FROM val
       |              THEN 1 ELSE 0 END AS chg
       |  FROM melted),
       |stats AS (
       |  SELECT col_name, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(length(val)) AS BIGINT) AS sum_len,
       |         CAST(max(length(val)) AS BIGINT) AS wmax,
       |         CAST(sum(chg) AS BIGINT) AS runs
       |  FROM marked GROUP BY 1),
       |dist AS (
       |  SELECT col_name, CAST(count(*) AS BIGINT) AS ndv,
       |         CAST(sum(length(val)) AS BIGINT) AS sum_dlen
       |  FROM (SELECT DISTINCT col_name, val FROM melted) GROUP BY 1),
       |sized AS (
       |  SELECT s.col_name, s.n, d.ndv, s.runs,
       |         s.sum_len + 4 * s.n AS plain_b,
       |         d.sum_dlen + 4 * d.ndv + (s.n * ($bwSql) + 7) // 8 AS dict_b,
       |         s.runs * (s.wmax + 4) AS rle_b
       |  FROM stats s JOIN dist d USING (col_name))
       |SELECT col_name, n, ndv, runs, plain_b, dict_b, rle_b,
       |       CASE WHEN dict_b <= rle_b AND dict_b <= plain_b THEN 'dict'
       |            WHEN rle_b <= plain_b THEN 'rle' ELSE 'plain' END AS best
       |FROM sized ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------- x348

  /** Roaring container capacity (row-ids per container). */
  private val RoaringBits = 65536L
  /** Array-container threshold: above this cardinality a bitmap wins. */
  private val ArrayMax = 4096L

  /** x348: Roaring-bitmap container sizing for the returned-items
    * (l_returnflag = 'R') row-id set. Row-ids come from a TOTAL order
    * (orderkey, linenumber, returnflag — the flag closes the fixture's
    * duplicate key pairs so the selected row-id SET is deterministic);
    * each 2¹⁶-id container then gets the classic Roaring choice: array
    * (2n + 8 bytes) when n ≤ 4096, bitmap (8192 + 8) above, run
    * container (8 + 4·runs) whenever it beats both. Run counts use the
    * in-container lag on consecutive row-ids. Everything BIGINT.
    *
    * Scale: one global sort for the row-id assignment is the honest
    * cost of positional bitmap indexes (writers do it once); containers
    * then partition the window work. Output is |rows|/2¹⁶ rows. */
  def roaringSizing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // distributed global rank: a bare Window.orderBy row_number over the
    // whole fact table runs on ONE partition (7.2 s at sf1, and a
    // non-starter at 100 TB). Two levels instead: per-orderkey ranks are
    // partitioned windows (parallel), and the orderkey PREFIX offsets
    // come from a window over the orders-grain census — same rid values,
    // distributed plan.
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag")
    val offsets = li.groupBy($"l_orderkey").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum($"cnt").over(Window.orderBy($"l_orderkey")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"l_orderkey", $"off")
    val ids = li
      .withColumn("rn", row_number().over(Window.partitionBy($"l_orderkey")
        .orderBy($"l_linenumber", $"l_returnflag")).cast("long"))
      .join(offsets, "l_orderkey")
      .withColumn("rid", $"off" + $"rn" - 1L)
      .filter($"l_returnflag" === "R")
      .select($"rid", expr(s"rid DIV $RoaringBits").as("cont"))
    val wLag = Window.partitionBy($"cont").orderBy($"rid")
    val runs = ids
      .withColumn("brk",
        when(lag($"rid", 1).over(wLag).isNull ||
          lag($"rid", 1).over(wLag) =!= $"rid" - 1L, 1L).otherwise(0L))
      .groupBy($"cont").agg(count(lit(1)).as("n"), sum($"brk").as("runs"))
    runs
      .withColumn("array_b", when($"n" <= ArrayMax, lit(2L) * $"n" + 8L))
      .withColumn("bitmap_b", lit(RoaringBits / 8 + 8))
      .withColumn("run_b", lit(8L) + lit(4L) * $"runs")
      .select($"cont", $"n", $"runs",
        coalesce($"array_b", lit(Long.MaxValue)).as("array_b0"),
        $"bitmap_b", $"run_b")
      .withColumn("best_b", least($"array_b0", $"bitmap_b", $"run_b"))
      .select($"cont", $"n", $"runs",
        when($"array_b0" === lit(Long.MaxValue), -1L).otherwise($"array_b0").as("array_b"),
        $"bitmap_b", $"run_b", $"best_b",
        when($"run_b" === $"best_b", "run")
          .when($"array_b0" === $"best_b", "array").otherwise("bitmap").as("ctype"))
      .orderBy($"cont")
  }

  private val roaringSizingOracle =
    s"""WITH ids AS MATERIALIZED (
       |  SELECT rid, rid // $RoaringBits AS cont
       |  FROM (
       |    SELECT CAST(row_number() OVER (
       |             ORDER BY l_orderkey, l_linenumber, l_returnflag) AS BIGINT) - 1 AS rid,
       |           l_returnflag
       |    FROM lineitem)
       |  WHERE l_returnflag = 'R'),
       |runs AS (
       |  SELECT cont, CAST(count(*) AS BIGINT) AS n, CAST(sum(brk) AS BIGINT) AS runs
       |  FROM (
       |    SELECT cont, rid,
       |           CASE WHEN lag(rid) OVER (PARTITION BY cont ORDER BY rid)
       |                     IS DISTINCT FROM rid - 1 THEN 1 ELSE 0 END AS brk
       |    FROM ids)
       |  GROUP BY 1),
       |sized AS (
       |  SELECT cont, n, runs,
       |         CASE WHEN n <= $ArrayMax THEN 2 * n + 8
       |              ELSE ${Long.MaxValue} END AS array_b0,
       |         CAST(${RoaringBits / 8 + 8} AS BIGINT) AS bitmap_b,
       |         8 + 4 * runs AS run_b
       |  FROM runs),
       |best AS (
       |  SELECT *, least(array_b0, bitmap_b, run_b) AS best_b FROM sized)
       |SELECT cont, n, runs,
       |       CASE WHEN array_b0 = ${Long.MaxValue} THEN -1 ELSE array_b0 END AS array_b,
       |       bitmap_b, run_b, best_b,
       |       CASE WHEN run_b = best_b THEN 'run'
       |            WHEN array_b0 = best_b THEN 'array' ELSE 'bitmap' END AS ctype
       |FROM best ORDER BY cont""".stripMargin

  // ---------------------------------------------------------------- x350

  /** The classic Bloom configurations: (bits/key, optimal k = ⌈b·ln2⌋,
    * FPP in ppm) — precomputed constants (fpp = (1−e^(−k/b))^k), so the
    * planner is log-free at query time (x87 literal-table convention). */
  private val BloomConfigs = Seq(
    (8L, 6L, 21577L), (10L, 7L, 8194L), (12L, 8L, 3142L),
    (14L, 10L, 1201L), (16L, 11L, 459L), (20L, 14L, 67L))
  /** Target false-positive rate (ppm): 1 %. */
  private val BloomTargetPpm = 10000L

  /** x350: Bloom-filter sizing planner for three join-key sets (parts,
    * suppliers, customers-of-orders): exact NDV per key set, then the
    * CHEAPEST configuration from the literal table meeting the 1 % FPP
    * target, with the resulting filter size in bytes ((n·b + 7) DIV 8).
    * The pick is a deterministic argmin over the config table (smallest
    * bits/key meeting target; the table is monotone so ties cannot
    * occur). Everything BIGINT.
    *
    * Scale: three map-side-combinable distinct-counts; the planner
    * algebra is a |keysets| × |configs| literal join. */
  def bloomPlanner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val keysets =
      li.select(lit("partkey").as("keyset"), $"l_partkey".cast("long").as("k")).distinct()
        .unionByName(li.select(lit("suppkey").as("keyset"), $"l_suppkey".cast("long").as("k")).distinct())
        .unionByName(Tables.orders(spark, dir)
          .select(lit("custkey").as("keyset"), $"o_custkey".cast("long").as("k")).distinct())
        .groupBy($"keyset").agg(count(lit(1)).as("n"))
    val cfg = BloomConfigs.toDF("b", "kh", "fpp_ppm")
    keysets.crossJoin(broadcast(cfg))
      .filter($"fpp_ppm" <= BloomTargetPpm)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"keyset").orderBy($"b")))
      .filter($"rn" === 1)
      .select($"keyset", $"n", $"b", $"kh", $"fpp_ppm",
        expr("(n * b + 7) DIV 8").as("filter_bytes"))
      .orderBy($"keyset")
  }

  private val bloomPlannerOracle = {
    val cfgRows = BloomConfigs.map { case (b, k, f) => s"($b, $k, $f)" }.mkString(", ")
    s"""WITH keysets AS (
       |  SELECT keyset, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT DISTINCT 'partkey' AS keyset, l_partkey AS k FROM lineitem
       |    UNION ALL
       |    SELECT DISTINCT 'suppkey' AS keyset, l_suppkey AS k FROM lineitem
       |    UNION ALL
       |    SELECT DISTINCT 'custkey' AS keyset, o_custkey AS k FROM orders)
       |  GROUP BY 1),
       |cfg AS (SELECT CAST(b AS BIGINT) AS b, CAST(kh AS BIGINT) AS kh,
       |               CAST(fpp_ppm AS BIGINT) AS fpp_ppm
       |        FROM (VALUES $cfgRows) c(b, kh, fpp_ppm)),
       |ranked AS (
       |  SELECT k.keyset, k.n, c.b, c.kh, c.fpp_ppm,
       |         row_number() OVER (PARTITION BY k.keyset ORDER BY c.b) AS rn
       |  FROM keysets k CROSS JOIN cfg c
       |  WHERE c.fpp_ppm <= $BloomTargetPpm)
       |SELECT keyset, n, b, kh, fpp_ppm, (n * b + 7) // 8 AS filter_bytes
       |FROM ranked WHERE rn = 1
       |ORDER BY keyset""".stripMargin
  }

  // ---------------------------------------------------------------- x352

  /** Candidate clustering keys the advisor sweeps. */
  private val SortCandidates = Seq("flag", "status", "year")

  /** x352: sort-order advisor — which clustering key minimizes the
    * table's total RLE footprint across the profiled columns? For each
    * candidate key the table is (logically) sorted by (key, orderkey,
    * linenumber, value); runs are counted per candidate-key VALUE
    * partition — which is both what a sorted writer's pages see and what
    * lets every window run parallel (no global sort materializes). RLE
    * bytes = runs·(maxlen + 4) per column (the x338 model); the winner
    * is the candidate with the smallest total, ties to the
    * lexicographically first candidate. All integers.
    *
    * Scale: one melt pass per candidate over 3 profiled columns —
    * bounded fan-out (|candidates| × |columns|); windows partition by
    * the candidate's value domain. */
  def sortOrderAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber",
        expr("l_orderkey DIV 1000").as("page"),
        $"l_returnflag".as("v_flag"), $"l_linestatus".as("v_status"),
        year($"l_shipdate").cast("long").cast("string").as("v_year"),
        $"l_quantity".cast("long").cast("string").as("v_qty"))
    // one window pass PER CANDIDATE computing all three columns' run
    // flags at once — a (candidate x column) melt shuffled 9x the table
    // (24 s at sf1, volume-bound); this ships 3x with page-local
    // partitions (the x338 model). The tie order closes over ALL value
    // columns so every column's run census is engine-deterministic.
    val perCand = SortCandidates.map { cand =>
      val w = Window.partitionBy(col(s"v_$cand"), $"page")
        .orderBy($"l_orderkey", $"l_linenumber", $"v_flag", $"v_qty", $"v_year")
      def chg(c: String) = when(lag(col(c), 1).over(w).isNull ||
        lag(col(c), 1).over(w) =!= col(c), 1L).otherwise(0L)
      base
        .withColumn("cf", chg("v_flag"))
        .withColumn("cq", chg("v_qty"))
        .withColumn("cy", chg("v_year"))
        .agg(sum($"cf").as("runs_flag"), sum($"cq").as("runs_qty"),
          sum($"cy").as("runs_year"),
          max(length($"v_flag").cast("long")).as("w_flag"),
          max(length($"v_qty").cast("long")).as("w_qty"),
          max(length($"v_year").cast("long")).as("w_year"))
        .select(lit(cand).as("cand"), $"runs_flag", $"runs_qty", $"runs_year",
          $"w_flag", $"w_qty", $"w_year")
    }.reduce(_ unionByName _)
    val runs = perCand.selectExpr("cand",
      "stack(3, 'flag', runs_flag, w_flag, 'qty', runs_qty, w_qty, " +
        "'year', runs_year, w_year) AS (col_name, runs, wmax)")
      .withColumn("rle_b", $"runs" * ($"wmax" + 4L))
    val totals = runs.groupBy($"cand").agg(sum($"rle_b").as("total_b"))
    val best = totals
      .withColumn("rn", row_number().over(Window.orderBy($"total_b", $"cand")))
      .select($"cand", ($"rn" === 1).cast("long").as("best"))
    runs.join(totals, "cand").join(best, "cand")
      .select($"cand", $"col_name", $"runs", $"rle_b", $"total_b", $"best")
      .orderBy($"cand", $"col_name")
  }

  private val sortOrderAdvisorOracle = {
    val cands = SortCandidates.map { cand =>
      val w = s"OVER (PARTITION BY v_$cand, page ORDER BY l_orderkey, l_linenumber, v_flag, v_qty, v_year)"
      s"""SELECT '$cand' AS cand,
         |       CAST(sum(cf) AS BIGINT) AS runs_flag,
         |       CAST(sum(cq) AS BIGINT) AS runs_qty,
         |       CAST(sum(cy) AS BIGINT) AS runs_year,
         |       CAST(max(length(v_flag)) AS BIGINT) AS w_flag,
         |       CAST(max(length(v_qty)) AS BIGINT) AS w_qty,
         |       CAST(max(length(v_year)) AS BIGINT) AS w_year
         |FROM (SELECT v_flag, v_qty, v_year,
         |        CASE WHEN lag(v_flag) $w IS DISTINCT FROM v_flag THEN 1 ELSE 0 END AS cf,
         |        CASE WHEN lag(v_qty) $w IS DISTINCT FROM v_qty THEN 1 ELSE 0 END AS cq,
         |        CASE WHEN lag(v_year) $w IS DISTINCT FROM v_year THEN 1 ELSE 0 END AS cy
         |      FROM base)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT l_orderkey, l_linenumber, l_orderkey // 1000 AS page,
       |         l_returnflag AS v_flag, l_linestatus AS v_status,
       |         CAST(CAST(year(l_shipdate) AS BIGINT) AS VARCHAR) AS v_year,
       |         CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS v_qty
       |  FROM lineitem),
       |per_cand AS MATERIALIZED (
       |  $cands),
       |runs AS (
       |  SELECT cand, col_name, runs, wmax FROM (
       |    SELECT cand, 'flag' AS col_name, runs_flag AS runs, w_flag AS wmax FROM per_cand
       |    UNION ALL
       |    SELECT cand, 'qty', runs_qty, w_qty FROM per_cand
       |    UNION ALL
       |    SELECT cand, 'year', runs_year, w_year FROM per_cand)),
       |sized AS (SELECT *, runs * (wmax + 4) AS rle_b FROM runs),
       |totals AS (SELECT cand, CAST(sum(rle_b) AS BIGINT) AS total_b
       |           FROM sized GROUP BY 1),
       |best AS (
       |  SELECT cand, CAST(CASE WHEN row_number() OVER (ORDER BY total_b, cand) = 1
       |                         THEN 1 ELSE 0 END AS BIGINT) AS best
       |  FROM totals)
       |SELECT s.cand, s.col_name, s.runs, s.rle_b, t.total_b, b.best
       |FROM sized s JOIN totals t USING (cand) JOIN best b ON b.cand = s.cand
       |ORDER BY s.cand, s.col_name""".stripMargin
  }

  /* Space-filling-curve layout comparison
   * (Hilbert vs Z-order scan locality — the decision q81's z-order layout
   * left open) and Somers' D (the ASYMMETRIC ordinal-association measure —
   * credit scoring's accuracy-ratio — computed entirely from the 2-D
   * value census, no row-pair join).
   * Elsewhere: x354 (StatsQueries).
   */

  /** Grid order: 16×16 cells (4 bits per axis, 4 unrolled Hilbert
    * rotation steps). */
  private val GridN = 16L

  /** The literal query rectangles the locality audit scans
    * (lo_x, hi_x, lo_y, hi_y — inclusive). */
  private val Rects = Seq(
    ("r1_corner", 0L, 3L, 0L, 3L),
    ("r2_mid", 6L, 9L, 2L, 5L),
    ("r3_wide", 12L, 15L, 0L, 15L))

  /** The 4-step Hilbert xy→d transform for a 16×16 grid as ONE SQL
    * expression chain (s = 8,4,2,1 unrolled; the same text runs in Spark
    * and DuckDB — only `&`, CASE and arithmetic). Input column names are
    * substituted so the chain can start from any (x, y) pair. */
  private[graft] def hilbertSqlSteps(xc: String, yc: String): Seq[String] = {
    // step i: given (x{i}, y{i}, d{i}) produce (x(i+1), y(i+1), d(i+1))
    Seq(8L, 4L, 2L, 1L).zipWithIndex.flatMap { case (s, i) =>
      val (x0, y0, d0) =
        if (i == 0) (xc, yc, "CAST(0 AS BIGINT)")
        else (s"hx$i", s"hy$i", s"hd$i")
      val j = i + 1
      Seq(
        s"CASE WHEN ($x0 & $s) > 0 THEN 1 ELSE 0 END AS rx$j",
        s"CASE WHEN ($y0 & $s) > 0 THEN 1 ELSE 0 END AS ry$j") ++ Seq(
        // d += s²·((3·rx) xor ry) — spelled as a CASE so no xor builtin
        // is needed (DuckDB xor() and Spark ^ differ in spelling)
        s"$d0 + ${s * s} * (CASE WHEN rx$j = 0 AND ry$j = 0 THEN 0 " +
          s"WHEN rx$j = 0 THEN 1 WHEN ry$j = 1 THEN 2 ELSE 3 END) AS hd$j",
        // rotate: ry=0 → (maybe flip) then swap x/y
        s"CASE WHEN ry$j = 0 THEN (CASE WHEN rx$j = 1 THEN ${s - 1} - $y0 ELSE $y0 END) " +
          s"ELSE $x0 END AS hx$j",
        s"CASE WHEN ry$j = 0 THEN (CASE WHEN rx$j = 1 THEN ${s - 1} - $x0 ELSE $x0 END) " +
          s"ELSE $y0 END AS hy$j")
    }
  }

  /** Bit-interleave Z-order index for 4-bit axes, same text both engines. */
  private[graft] def zorderSql(xc: String, yc: String): String =
    (0 until 4).map { b =>
      val m = 1L << b
      s"(CASE WHEN ($xc & $m) > 0 THEN ${1L << (2 * b)} ELSE 0 END + " +
        s"CASE WHEN ($yc & $m) > 0 THEN ${1L << (2 * b + 1)} ELSE 0 END)"
    }.mkString(" + ")

  // ---------------------------------------------------------------- x353

  /** x353: Hilbert vs Z-order scan locality. The order-grain trade grid
    * (custkey mod 16 × suppkey mod 16, non-empty cells only) is indexed
    * by BOTH curves — the Hilbert transform unrolled as four integer
    * rotation steps, the Z-order index as a bit interleave, identical
    * SQL text in both engines. For each literal query rectangle and each
    * curve: the covered cell count, the scan SPAN (max−min+1 positions)
    * and the FRAGMENT count (maximal runs of consecutive positions —
    * the number of disjoint range reads a clustered table needs).
    * Hilbert's whole point is fewer fragments on axis-aligned
    * rectangles; the output makes the comparison an oracle-checked fact
    * rather than folklore.
    *
    * Scale: one map-side-combinable grid census (≤ 256 cells) off the
    * orders⋈customer⋈lineitem join; the curve algebra never touches the
    * corpus again. */
  def hilbertLocality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" % GridN).cast("long").as("cx"),
        ($"l_suppkey" % GridN).cast("long").as("cy"))
      .distinct()
    val hSteps = hilbertSqlSteps("cx", "cy")
    val indexed = hSteps.foldLeft(cells.as("c").toDF()) { (df, stepSql) =>
      df.selectExpr("*", stepSql)
    }.selectExpr("cx", "cy", "hd4 AS hidx", s"${zorderSql("cx", "cy")} AS zidx")
    val rects = Rects.toDF("rect", "lox", "hix", "loy", "hiy")
    val inRect = indexed.crossJoin(broadcast(rects))
      .filter($"cx" >= $"lox" && $"cx" <= $"hix" && $"cy" >= $"loy" && $"cy" <= $"hiy")
    val melted = inRect.select($"rect", lit("hilbert").as("curve"), $"hidx".as("idx"))
      .unionByName(inRect.select($"rect", lit("zorder").as("curve"), $"zidx".as("idx")))
    val w = Window.partitionBy($"rect", $"curve").orderBy($"idx")
    melted
      .withColumn("brk", when(lag($"idx", 1).over(w).isNull ||
        lag($"idx", 1).over(w) =!= $"idx" - 1L, 1L).otherwise(0L))
      .groupBy($"rect", $"curve")
      .agg(count(lit(1)).as("n_cells"),
        (max($"idx") - min($"idx") + 1L).as("span"),
        sum($"brk").as("frags"))
      .orderBy($"rect", $"curve")
  }

  private val hilbertLocalityOracle = {
    val hSteps = hilbertSqlSteps("cx", "cy")
    // chain the step expressions through nested selects
    val chained = hSteps.grouped(5).zipWithIndex.foldLeft("SELECT cx, cy FROM cells") {
      case (inner, (stepExprs, _)) =>
        s"SELECT *, ${stepExprs.mkString(", ")} FROM ($inner)"
    }
    val rectRows = Rects.map { case (nm, lx, hx, ly, hy) =>
      s"('$nm', $lx, $hx, $ly, $hy)"
    }.mkString(", ")
    s"""WITH cells AS MATERIALIZED (
       |  SELECT CAST(o_custkey % $GridN AS BIGINT) AS cx,
       |         CAST(l_suppkey % $GridN AS BIGINT) AS cy
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |indexed AS (
       |  SELECT cx, cy, hd4 AS hidx, ${zorderSql("cx", "cy")} AS zidx
       |  FROM ($chained)),
       |rects AS (SELECT * FROM (VALUES $rectRows) r(rect, lox, hix, loy, hiy)),
       |in_rect AS (
       |  SELECT rect, cx, cy, hidx, zidx
       |  FROM indexed CROSS JOIN rects
       |  WHERE cx >= lox AND cx <= hix AND cy >= loy AND cy <= hiy),
       |melted AS (
       |  SELECT rect, 'hilbert' AS curve, hidx AS idx FROM in_rect
       |  UNION ALL
       |  SELECT rect, 'zorder' AS curve, zidx AS idx FROM in_rect),
       |marked AS (
       |  SELECT rect, curve, idx,
       |         CASE WHEN lag(idx) OVER (PARTITION BY rect, curve ORDER BY idx)
       |                   IS DISTINCT FROM idx - 1 THEN 1 ELSE 0 END AS brk
       |  FROM melted)
       |SELECT rect, curve, CAST(count(*) AS BIGINT) AS n_cells,
       |       CAST(max(idx) - min(idx) + 1 AS BIGINT) AS span,
       |       CAST(sum(brk) AS BIGINT) AS frags
       |FROM marked GROUP BY 1, 2
       |ORDER BY rect, curve""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q53_profile",
      "ANALYZE-style column profiling (null/distinct counts, typed min/max) over orders",
      profileOrders, Some(profileOrdersOracle)),
    QueryDef("q81_zorder_layout",
      "Z-order vs single-key layout planner: per-bucket min/max span comparison (data-skipping eval)",
      zorderLayout, Some(zorderLayoutOracle)),
    QueryDef("q83_compaction_bins",
      "Small-file compaction planner: greedy next-fit bin packing of file metadata via window cumsum",
      compactionBins, Some(compactionBinsOracle)),
    QueryDef("q91_aqp_groupby",
      "approximate GROUP BY from a 1% deterministic hash sample, with exact error audit and CLT CI",
      aqpGroupBy, Some(aqpGroupByOracle)),
    QueryDef("q92_zonemap_skip",
      "zone-map skip-rate estimator: per-layout per-dimension scan fractions for a range-predicate workload",
      zonemapSkip, Some(zonemapSkipOracle)),
    QueryDef("q93_analyze_stats",
      "ANALYZE-style per-column CBO statistics: exact NDV, nulls, engine-stable min/max, one pass unpivoted",
      analyzeStats, Some(analyzeStatsOracle)),
    QueryDef("q94_join_card_est",
      "join-cardinality estimation audit: |A||B|/max(ndv) estimate vs true count for the three core equi-joins",
      joinCardEst, Some(joinCardEstOracle)),
    QueryDef("q95_stats_merge",
      "statistics mergeability: partition count/min/max merge exactly; exact NDVs don't (measured inflation)",
      statsMerge, Some(statsMergeOracle)),
    QueryDef("q96_sketch_ndv",
      "mergeable HLL NDV stats: two different partitionings merge to consistent estimates (2.5%), 5% accuracy bound, q95 inflation counterfactual",
      sketchNdv, Some(sketchNdvOracle)),
    QueryDef("q97_histogram_merge",
      "mergeable equi-width histograms: two partitionings merge bitwise-identically; histogram p50 within one bin of exact",
      histogramMerge, Some(histogramMergeOracle)),
    QueryDef("q98_mcv_join_card",
      "MCV-aware join cardinality estimate vs naive NDV formula vs true cardinality on the skewed lang self-join",
      mcvJoinCard, Some(mcvJoinCardOracle)),
    QueryDef("q99_incremental_stats",
      "incremental ANALYZE: merge(stats(T), stats(delta)) == stats(T u delta) exactly for count/sum/min/max, HLL NDV within 5%",
      incrementalStats, Some(incrementalStatsOracle)),
    QueryDef("x137_bucket_join",
      "bucketed co-located fact-fact join: one-time bucketed write, then exchange-free sort-merge join (plan-asserted)",
      bucketJoin, Some(bucketJoinOracle)),
    QueryDef("x139_partition_prune",
      "date-partitioned write + partition-pruned scan: year filter binds at planning time, 1 of 7 directories read (plan-asserted)",
      partitionPrune, Some(partitionPruneOracle)),
    QueryDef("x140_salted_agg",
      "hot-key salted aggregation parity: (key,salt) partial -> final two-stage rewrite == plain group-by (the skew fix AQE doesn't do for aggs)",
      saltedAgg, Some(saltedAggOracle)),
    QueryDef("x141_kmv_inclusion",
      "KMV-sketch join discovery: deterministic k-min-values NDV/containment estimates over 4 column pairs, graded against exact in-result",
      kmvInclusion, Some(kmvInclusionOracle)),
    QueryDef("x143_dynamic_prune",
      "dynamic partition pruning: calendar-dim filter prunes the partitioned fact scan at runtime via a dynamicpruning subquery (plan-asserted)",
      dynPartitionPrune, Some(dynPartitionPruneOracle)),
    QueryDef("x146_skew_join_split",
      "AQE skew-join split parity: 70%-hot-key SMJ re-planned from runtime map stats (skew=true, spec-asserted) == single-stage oracle join",
      skewJoinSplit, Some(skewJoinSplitOracle)),
    QueryDef("x153_runtime_filter",
      "runtime bloom-filter join pruning: selective dim side plants a might_contain bloom probe on the fact scan (plan-asserted) == plain join oracle",
      runtimeFilter, Some(runtimeFilterOracle)),
    QueryDef("x162_window_hll",
      "sliding 7-day distinct actives from merged per-day HLL sketches, 5pct-audited vs exact WAU",
      windowHll, Some(windowHllOracle)),
    QueryDef("x163_histogram_selectivity",
      "range-predicate selectivity estimates from the equi-width histogram, integer overlap arithmetic, error vs true counts",
      histogramSelectivity, Some(histogramSelectivityOracle)),
    QueryDef("q106_quantile_sketch_bound",
      "percentile_approx rank-guarantee audit: exact ranks of sketch outputs must bracket (q +- 3eps)N",
      quantileSketchBound, Some(quantileSketchBoundOracle)),
    QueryDef("q107_join_order_cost",
      "CBO join-order costing: stats-estimated intermediate sizes for both left-deep orders vs true sizes, winner-agreement flag",
      joinOrderCost, Some(joinOrderCostOracle)),
    QueryDef("x183_ams_f2",
      "AMS second-moment sketch (16 signed estimators) audited against exact F2 on l_partkey",
      amsF2, Some(amsOracle)),
    QueryDef("x192_topk_agg",
      "grouped top-k via the TypedImperativeAggregate bounded buffer (map-side k pairs per group) vs the window oracle",
      topkAgg, Some(topkOracle)),
    QueryDef("x258_count_sketch",
      "Count-Sketch signed heavy-hitter estimates vs exact counts",
      countSketch, Some(countSketchOracle)),
    QueryDef("x260_histogram_select",
      "two-phase histogram exact rank selection (p50/p99) without a global sort",
      histogramSelect, Some(histogramSelectOracle)),
    QueryDef("x264_ams_f2",
      "AMS tug-of-war F2 sketch (64 sign counters, median-of-means) vs exact second moment",
      amsF2X264, Some(amsF2Oracle)),
    QueryDef("x284_avi_audit",
      "attribute-value-independence audit: pairwise selectivity q-errors from one scan",
      aviAudit, Some(aviAuditOracle)),
    QueryDef("x329_range_boundaries",
      "range-partitioner boundary audit: deterministic sample cuts, exact per-bucket counts, 2x-of-ideal skew bound",
      rangeBoundaries, Some(rangeBoundariesOracle)),
    QueryDef("x337_view_selection",
      "HRU greedy cube-lattice view selection (SIGMOD'96): exact cuboid sizes from one scan, unrolled integer greedy rounds",
      viewSelection, Some(viewSelectionOracle)),
    QueryDef("x338_encoding_advisor",
      "Columnar encoding advisor: PLAIN/DICT/RLE byte sizing from exact n/NDV/page-local-run censuses, log-free bit widths",
      encodingAdvisor, Some(encodingAdvisorOracle)),
    QueryDef("x348_roaring_sizing",
      "Roaring-bitmap container sizing of the returns row-id set: array/bitmap/run choice per 2^16 chunk, exact run censuses",
      roaringSizing, Some(roaringSizingOracle)),
    QueryDef("x350_bloom_planner",
      "Bloom-filter sizing planner: exact key-set NDV x literal (bits/key, k, fpp) table, cheapest config meeting 1% FPP",
      bloomPlanner, Some(bloomPlannerOracle)),
    QueryDef("x352_sort_order_advisor",
      "sort-order advisor: total RLE footprint per candidate clustering key, runs counted inside key-value partitions",
      sortOrderAdvisor, Some(sortOrderAdvisorOracle)),
    QueryDef("x353_hilbert_locality",
      "Hilbert vs Z-order scan locality on the trade grid: unrolled integer curve transforms, span + fragment censuses per rectangle",
      hilbertLocality, Some(hilbertLocalityOracle)))
}
