package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 engine-ops tier: data-layout planning operators — the passes a
  * lakehouse runs when deciding HOW to physically arrange 100 TB so scans
  * can prune. Everything is exact integer arithmetic (bit interleaves,
  * integer division, min/max spans) with one final double division. */
object EngineOpsQueries {

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

  /** Lazy so it can safely reference vals declared later in this object:
    * a strict val here captured `aqpGroupByOracle` as null (Scala object
    * vals initialize in declaration order), which wrapped `Some(null)`
    * into the registry and crashed Verify's oracle dump AFTER the query
    * parquets but BEFORE oracle_sql.json — zeroing an entire round's
    * correctness signal. RegistrySpec now guards every oracle non-null. */
  lazy val defs: Seq[QueryDef] = Seq(
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
      statsMerge, Some(statsMergeOracle)))

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
}
