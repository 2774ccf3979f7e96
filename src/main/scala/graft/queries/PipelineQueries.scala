package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.queries.QueryUtil.halfUp4

/** Training-data logistics: the training-corpus capstone (x359, raw
  * documents all the way to a packed training corpus) plus the standalone
  * pipeline operators a 100 TB pretraining corpus needs — sequence packing
  * (x50), decontamination (x51), epoch shuffle (x52), mixture sampling
  * (x53). Every query is paired with a DuckDB oracle generated from the
  * same Scala constants, so thresholds/hash families cannot drift. */
object PipelineQueries {

  /** The cleaning stages of the x359 capstone, in ONE dataflow:
    *
    *   1. quality gate (x42's score >= 0.5),
    *   2. exact dedup survivors (x10's min-doc_id-per-content-hash),
    *   3. near-dup canonical docs only (x14's connected-component
    *      representative over MinHash-LSH pairs),
    *
    * emitting the surviving documents with language and token counts. Each
    * stage is an oracle-verified query of its own; [[gateCtes]] is the
    * same three gates in SQL.
    *
    * Scale: quality is a narrow per-row stage; the dedup gates are the
    * LSH/band-capped shapes audited in PLANS.md; the final joins are
    * doc_id equi-joins (broadcast-able survivor lists at any realistic
    * survivor ratio). */
  def prepPipeline(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val scored = Tables.documents(spark, dir).select(
      $"doc_id", $"lang", size(toks).as("n_tok"),
      halfUp4(TextAnalysis.qualityScore(toks)).as("quality"))
    val exactSurvivors = DedupQueries.exactDedup(spark, dir).select($"doc_id")
    val canonical = DedupQueries.dedupClusters(spark, dir)
      .filter($"is_canonical" === 1).select($"doc_id")
    scored.filter($"quality" >= 0.5)
      .join(exactSurvivors, "doc_id")
      .join(canonical, "doc_id")
      .orderBy("doc_id")
  }

  /** [[prepPipeline]]'s gate chain in SQL (near-dup clusters → canon,
    * exact-dedup survivors, quality scores), appended after
    * [[DedupQueries.minhashCtes]] in the x359 oracle. */
  private val gateCtes =
    s"""pairs2 AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
       |edges AS (SELECT a AS src, b AS dst FROM pairs2 UNION ALL SELECT b AS src, a AS dst FROM pairs2),
       |reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
       |          UNION
       |          SELECT e.src AS id, reach.r AS r FROM edges e JOIN reach ON e.dst = reach.id),
       |canon AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) = id),
       |exact AS (SELECT doc_id
       |          FROM (SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |                FROM documents)
       |          WHERE rn = 1),
       |q AS (SELECT doc_id, lang,
       |        CAST(len(toks) AS INTEGER) AS n_tok,
       |        floor(${TextAnalysis.qualityScoreSql("toks")} * 10000 + 0.5) / 10000.0 AS quality
       |      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents))""".stripMargin

  /** Token budget per packed training sequence (x50). */
  private val PackBudget = 512L
  /** Shard count for x50 — the unit of packing parallelism. */
  private val PackShards = 8L

  /** Sequence packing — the concat-then-chunk layout every pretraining run
    * does: documents are concatenated in a deterministic order and cut into
    * fixed token-budget sequences. Each doc gets the training sequence its
    * tokens start in (`seq_id`) and the offset inside it (`seq_off`).
    * Packing is per SHARD (`doc_id % 8` here; a real pipeline shards by
    * output file/worker), so the only wide op is one window per shard —
    * shards pack independently and in parallel, which is what makes the
    * layout computable at 100 TB: no global sequential fill, one shuffle
    * keyed on shard, prefix sums inside each partition. */
  /** Append the packing columns (cum_before, seq_id, seq_off) to a frame
    * carrying (doc_id, shard, n_tok, …) — the ONE Spark rendering of the
    * packing arithmetic, shared by x50 and x359 (package-visible so
    * PropertySpec can differential-test it against a sequential
    * reference). */
  private[graft] def withPacking(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before div $PackBudget"))
      .withColumn("seq_off", col("cum_before") % PackBudget)
  }

  /** SQL rendering of [[withPacking]] + final projection over CTE `$src`
    * (which must carry doc_id, shard, n_tok plus `$extra` columns) — the
    * ONE oracle rendering of the packing arithmetic, shared by x50/x359. */
  private def packTailSql(src: String, extra: String): String =
    s"""packed AS (SELECT *,
       |             CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |                                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |           FROM $src)
       |SELECT doc_id,$extra n_tok, shard, cum_before,
       |       cum_before // $PackBudget AS seq_id,
       |       cum_before % $PackBudget AS seq_off
       |FROM packed
       |ORDER BY doc_id""".stripMargin

  def packSequences(spark: SparkSession, dir: String) = {
    import spark.implicits._
    withPacking(
      Tables.documents(spark, dir)
        .select($"doc_id", ($"doc_id" % PackShards).as("shard"),
          size(TextAnalysis.tokens($"text")).as("n_tok")))
      .select($"doc_id", $"shard", $"n_tok", $"cum_before", $"seq_id", $"seq_off")
      .orderBy("doc_id")
  }

  private val packOracle =
    s"""WITH d AS (SELECT doc_id, doc_id % $PackShards AS shard,
       |             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
       |           FROM documents),
       |${packTailSql("d", "")}""".stripMargin

  /** x51 gram/window/threshold, calibrated on the fixtures: 8-char grams
    * (≈ one word) are hopeless for contamination — templated docs share
    * thousands of single-word fingerprints (255k flagged pairs at sf0.1).
    * 32-char grams (≈ 5 words) make overlap bimodal: genuine near-dup
    * contamination shares many fingerprints, everything else shares none —
    * the flagged set is IDENTICAL for any threshold in [2,8] at all three
    * SFs, so the result is calibration-robust. */
  private val ContamGram = 32
  private val ContamWindow = 4
  private[queries] val ContamMinShared = 2

  /** Decontamination — flag training documents that overlap an evaluation
    * set, the check every serious pretraining corpus runs before shipping.
    * Both sides get winnowing fingerprint sets (x49's substring-robust
    * signature, here over 32-char ≈ 5-word grams so a shared fingerprint
    * means a shared PHRASE, not a shared word), the eval set is tiny by
    * nature (benchmarks), so the plan is: explode fingerprints, BROADCAST
    * the eval side, one equi-join on the fingerprint — the train corpus is
    * scanned once and never shuffled. Winnowing (vs raw n-grams) keeps the
    * per-doc signature ~4× smaller with guaranteed detection of any shared
    * run ≥ window+gram-1 chars. */
  def decontaminate(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val fp = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(call_function("winnow_fps", $"text",
          lit(ContamGram), lit(ContamWindow))).as("fp"))
    val ev = fp.filter($"doc_id" % 40 === 0)
      .select($"doc_id".as("eval_id"), $"fp")
    val tr = fp.filter($"doc_id" % 40 =!= 0)
      .select($"doc_id".as("train_id"), $"fp")
    // winnow_fps emits a distinct set per doc, so count(*) == distinct count
    tr.join(broadcast(ev), "fp")
      .groupBy($"train_id", $"eval_id")
      .agg(count(lit(1)).as("shared_fp"))
      .filter($"shared_fp" >= ContamMinShared)
      .orderBy("train_id", "eval_id")
  }

  /** Contamination CTE chain (fingerprint → eval/train split), reused by
    * the decontamination oracles and the x359 capstone. CTE names are
    * disjoint from the minhash chain in [[DedupQueries.minhashCtes]] so the
    * two compose in one WITH. */
  private[queries] val contamCtes =
    s"""fph AS (SELECT doc_id,
       |             list_transform(range(1, greatest(length(text) - ${ContamGram - 1}, 1) + 1),
       |                            i -> md5(substr(text, CAST(i AS INTEGER), $ContamGram))) AS hs
       |           FROM documents),
       |fpw AS (SELECT doc_id, hs, len(hs) AS m FROM fph),
       |fpf AS (SELECT doc_id,
       |        list_sort(list_distinct(list_transform(range(1, greatest(m - $ContamWindow + 1, 1) + 1),
       |          j -> list_aggregate(hs[CAST(j AS INTEGER):CAST(least(j + ${ContamWindow - 1}, m) AS INTEGER)], 'min')))) AS fps
       |      FROM fpw),
       |fpe AS (SELECT doc_id, unnest(fps) AS fp FROM fpf),
       |ev AS (SELECT doc_id AS eval_id, fp FROM fpe WHERE doc_id % 40 = 0),
       |tr AS (SELECT doc_id AS train_id, fp FROM fpe WHERE doc_id % 40 <> 0)""".stripMargin

  private val decontaminateOracle =
    s"""WITH $contamCtes
       |SELECT train_id, eval_id, count(*) AS shared_fp
       |FROM tr JOIN ev USING (fp)
       |GROUP BY train_id, eval_id
       |HAVING count(*) >= $ContamMinShared
       |ORDER BY train_id, eval_id""".stripMargin

  /** Epoch seed for x52 — changing it yields a different but equally
    * deterministic permutation, exactly how a data loader reshuffles
    * between epochs. */
  private val ShuffleEpoch = "epoch1"

  /** Epoch shuffle — the reproducible pseudo-random visit order a training
    * data loader needs: each shard (= loader worker) reads its documents in
    * md5(epoch, doc_id) order, giving a new deterministic permutation per
    * epoch seed with zero coordination between shards. Plan: one window per
    * shard key — no global sort, no single-partition rank; 100 TB shuffles
    * as wide as the shard count. */
  def epochShuffle(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"skey", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", ($"doc_id" % PackShards).as("shard"),
        md5(concat_ws("|", lit(ShuffleEpoch), $"doc_id")).as("skey"))
      .withColumn("pos", row_number().over(w))
      .select($"doc_id", $"shard", $"pos", $"skey")
      .orderBy("doc_id")
  }

  private val epochShuffleOracle =
    s"""WITH d AS (SELECT doc_id, doc_id % $PackShards AS shard,
       |             md5('$ShuffleEpoch' || '|' || CAST(doc_id AS VARCHAR)) AS skey
       |           FROM documents)
       |SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS INTEGER) AS pos,
       |       skey
       |FROM d
       |ORDER BY doc_id""".stripMargin

  /** x28: shard MANIFESTS — the integrity record a training-shard writer
    * publishes next to its files: per shard, the document count, total
    * tokens, and an md5 over the doc ids in epoch-shuffle visit order
    * (x52's order — the manifest pins both membership AND order, so a
    * re-generated shard can be byte-verified without re-reading data).
    * One shuffle keyed on the shard; the ordered digest is the x55-style
    * sorted-collect rebuild. */
  def shardManifest(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", ($"doc_id" % PackShards).as("shard"),
        md5(concat_ws("|", lit(ShuffleEpoch), $"doc_id")).as("skey"),
        size(split($"text", " ")).as("n_tok"))
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("tot_tok"),
        md5(array_join(
          transform(sort_array(collect_list(struct($"skey", $"doc_id"))),
            s => s.getField("doc_id").cast("string")), ",")).as("order_md5"))
      .orderBy("shard")
  }

  private val shardManifestOracle =
    s"""WITH d AS (SELECT doc_id, doc_id % $PackShards AS shard,
       |             md5('$ShuffleEpoch' || '|' || CAST(doc_id AS VARCHAR)) AS skey,
       |             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
       |           FROM documents)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tot_tok,
       |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY skey, doc_id)) AS order_md5
       |FROM d GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** x53 mixture rates by source group (source index mod 4) — 16-bit
    * integer thresholds on the doc hash, so selection is pure integer
    * comparison in both engines (no float rate arithmetic to diverge). */
  private val MixtureThresholds = Seq(65536L, 32768L, 16384L, 8192L) // 1, 1/2, 1/4, 1/8

  /** Mixture sampling — reweight a corpus of sources into a training mix:
    * every source group gets a keep-rate (here 1, 1/2, 1/4, 1/8 by source
    * index mod 4), and each doc keeps/drops DETERMINISTICALLY by comparing
    * 16 bits of md5(doc_id) against the group threshold — reproducible
    * across runs, partitionings, and engines, unlike rand()-based
    * sampleBy. Output is the per-source audit (docs in, docs kept): narrow
    * per-row work + one small aggregate; the sampled corpus itself is the
    * same filter without the groupBy. */
  /** Shared mixture-selection pieces (Spark + SQL renderings kept adjacent
    * so the integer arithmetic cannot drift; used by x53 and x359). */
  private def srcGrpCol = substring(col("source"), 4, 10).cast("int") % 4
  private def mixHashCol =
    conv(substring(md5(concat_ws("|", lit("mix"), col("doc_id"))), 1, 4), 16, 10)
      .cast("long")
  private def mixThrCol = MixtureThresholds.zipWithIndex.foldLeft(lit(0L)) {
    case (acc, (t, i)) => when(col("src_grp") === i, lit(t)).otherwise(acc)
  }
  // TRY_CAST + the same (4, 10) substring bounds as srcGrpCol: Spark's
  // cast yields NULL on a malformed suffix (doc then drops out via the
  // threshold default) — a plain DuckDB CAST would ABORT instead, and an
  // unbounded substr would parse >10-digit suffixes Spark truncates.
  private val srcGrpSql = "TRY_CAST(substr(source, 4, 10) AS INTEGER) % 4"
  /** 16-bit integer from the first 4 hex chars of `$h`. */
  private def hexValSql(h: String) =
    (1 to 4).map(i => s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")
  private val mixThrSql = MixtureThresholds.zipWithIndex
    .map { case (t, i) => s"WHEN src_grp = $i THEN $t" }
    .mkString("CASE ", " ", " ELSE 0 END")

  def mixtureSample(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", srcGrpCol.as("src_grp"), mixHashCol.as("hv"))
      .withColumn("kept", ($"hv" < mixThrCol).cast("int"))
      .groupBy($"source", $"src_grp")
      .agg(count(lit(1)).as("n_in"), sum($"kept").as("n_kept"))
      .orderBy("source")
  }

  private val mixtureOracle =
    s"""WITH d AS (SELECT source, $srcGrpSql AS src_grp,
       |             md5('mix' || '|' || CAST(doc_id AS VARCHAR)) AS h
       |           FROM documents),
       |v AS (SELECT source, src_grp, ${hexValSql("h")} AS hv FROM d)
       |SELECT source, src_grp,
       |       CAST(count(*) AS BIGINT) AS n_in,
       |       CAST(sum(CASE WHEN hv < ($mixThrSql) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM v
       |GROUP BY source, src_grp
       |ORDER BY source""".stripMargin

  /** x359 — the training-corpus capstone: the COMPLETE corpus→training-data
    * flow, every gate this library ships composed in one dataflow:
    *
    *   1. quality + exact-dedup + near-dup-canonical survivors
    *      ([[prepPipeline]]: x42, x10, x14),
    *   2. eval docs and contaminated train docs removed (x51's
    *      winnowing-fingerprint overlap, anti-join),
    *   3. the keep-gate panel: repetition (x58), unigram surprisal, the
    *      Gopher rules (x123), boilerplate span mass (x158), the TRAINED
    *      logistic quality classifier (x259) and the Flesch–Kincaid
    *      readability band (x345, [[Round13Queries16.FkLo]] ≤ grade ≤
    *      [[Round13Queries16.FkHi]]),
    *   4. source-mixture sampling (x53's integer hash thresholds),
    *   5. per-doc token counts from the LEARNED BPE tokenizer (x236), which
    *      replace the whitespace count — budgets and sequence boundaries
    *      are in the trained tokenizer's tokens,
    *   6. temperature rebalancing on the POST-GATE language census (x85's
    *      exact integer predicate; the gates themselves shift the mix),
    *   7. sequence packing of what remains (x50's per-shard prefix sums),
    *
    * emitting, for every document that makes it into the training corpus,
    * its language, source, token count and packed position (shard, seq_id,
    * seq_off). FOURTEEN composed stages; the oracle rebuilds all of them in
    * ONE SQL statement and must agree row-for-row, so the composition
    * itself is correctness-gated.
    *
    * Scale: each stage keeps its audited shape (LSH band joins, broadcast
    * eval side, per-document gate projections, narrow mixture filter,
    * vocab-bounded BPE chain plus one broadcast vocab join, per-shard
    * packing windows); the stage boundaries are doc_id equi-joins and
    * anti-joins against survivor lists that only ever shrink. */
  def trainingCorpusV8(spark: SparkSession, dir: String) = {
    import spark.implicits._
    // reuse point (x16 recipe): the kept frame feeds both the language
    // census and the rebalance filter, and without one exchange each
    // consumer re-runs the whole gate chain; kept rows are 4 narrow scalars
    val kept = corpusKept(spark, dir)
      .join(Round11Queries.bpeDocTokenCounts(spark, dir)
        .select($"doc_id", $"n_tok"), "doc_id")
      .repartition(col("doc_id"))
      .join(Tables.documents(spark, dir).select($"doc_id", $"lang"), "doc_id")
    val counts = kept.groupBy($"lang").agg(count(lit(1)).as("n_in"))
    val nmin = counts.agg(min($"n_in").as("n_min"))
    val thv = conv(substring(md5(concat_ws("|", lit("tmix"), $"doc_id")), 1, 4), 16, 10)
      .cast("long")
    val rebal = kept.withColumn("thv", thv)
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(nmin))
      .filter($"thv" * $"thv" * $"n_in" < lit(4294967296L) * $"n_min")
      .select($"doc_id", $"lang", $"source", $"n_tok", $"shard")
    withPacking(rebal)
      .select($"doc_id", $"lang", $"source", $"n_tok", $"shard",
        $"cum_before", $"seq_id", $"seq_off")
      .orderBy("doc_id")
  }

  /** Stages 1–4 of [[trainingCorpusV8]]: the gated, mixture-sampled
    * (doc_id, source, shard) set, before BPE counts and rebalancing. */
  private def corpusKept(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val surv = prepPipeline(spark, dir).select($"doc_id")
    val contam = decontaminate(spark, dir).select($"train_id".as("doc_id")).distinct()
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    val keepGates = Seq(
      TrainingQueries.repetitionKeepIds(spark, dir),
      TrainingQueries.surprisalKeepIds(spark, dir),
      Round9Queries.gopherKeepIds(spark, dir),
      Round10Queries10.boilerplateKeepIds(spark, dir),
      Round11Queries8.logisticKeepIds(spark, dir),
      Round13Queries16.readabilityKeepIds(spark, dir))
    val base = surv
      .filter($"doc_id" % 40 =!= 0) // eval docs never train
      .join(contam, Seq("doc_id"), "left_anti")
    keepGates.foldLeft(base)((df, g) => df.join(g, "doc_id"))
      .join(src, "doc_id")
      .withColumn("src_grp", srcGrpCol)
      .withColumn("hv", mixHashCol)
      .filter($"hv" < mixThrCol)
      .select($"doc_id", $"source", ($"doc_id" % PackShards).as("shard"))
  }

  private lazy val trainingCorpusV8Oracle = {
    val thv = hexValSql("md5('tmix' || '|' || CAST(k.doc_id AS VARCHAR))")
    DedupQueries.minhashCtes("WITH RECURSIVE") +
      s""", $gateCtes,
         |surv AS (SELECT q.doc_id, n_tok
         |         FROM q JOIN canon ON canon.doc_id = q.doc_id
         |                JOIN exact ON exact.doc_id = q.doc_id
         |         WHERE quality >= 0.5),
         |$contamCtes,
         |contam AS (SELECT DISTINCT train_id AS doc_id
         |           FROM (SELECT train_id, eval_id FROM tr JOIN ev USING (fp)
         |                 GROUP BY train_id, eval_id HAVING count(*) >= $ContamMinShared)),
         |${TrainingQueries.repCtes},
         |${TrainingQueries.repKeepCte},
         |${TrainingQueries.surCtes},
         |${TrainingQueries.surKeepCte},
         |${Round9Queries.gopherKeepCtes},
         |${Round10Queries10.boilerKeepCtes},
         |${Round11Queries8.lrKeepCtes},
         |${Round13Queries16.readKeepCtes},
         |${Round11Queries.bpeChainCtes("bpe_")},
         |base AS (SELECT s.doc_id, d.source, bpe_doc.n_tok AS n_tok,
         |           $srcGrpSql AS src_grp,
         |           ${hexValSql(s"md5('mix' || '|' || CAST(s.doc_id AS VARCHAR))")} AS hv
         |         FROM surv s JOIN documents d ON d.doc_id = s.doc_id JOIN bpe_doc ON bpe_doc.doc_id = s.doc_id
         |         WHERE s.doc_id % 40 <> 0
         |           AND s.doc_id NOT IN (SELECT doc_id FROM contam)
         |           AND s.doc_id IN (SELECT doc_id FROM rep_keep)
         |           AND s.doc_id IN (SELECT doc_id FROM sur_keep)
         |           AND s.doc_id IN (SELECT doc_id FROM gopher_keep)
         |           AND s.doc_id IN (SELECT doc_id FROM boiler_keep)
         |           AND s.doc_id IN (SELECT doc_id FROM lr_keep)
         |           AND s.doc_id IN (SELECT doc_id FROM read_keep)),
         |kept AS (SELECT doc_id, source, n_tok, doc_id % $PackShards AS shard
         |         FROM base WHERE hv < ($mixThrSql)),
         |tc AS (SELECT d.lang, count(*) AS n_in
         |       FROM kept k JOIN documents d ON d.doc_id = k.doc_id
         |       GROUP BY d.lang),
         |tm AS (SELECT min(n_in) AS n_min FROM tc),
         |kept2 AS (SELECT k.doc_id, d.lang, k.source, k.n_tok, k.shard
         |          FROM kept k
         |          JOIN documents d ON d.doc_id = k.doc_id
         |          JOIN tc ON tc.lang = d.lang, tm
         |          WHERE $thv
         |                * $thv
         |                * tc.n_in < 4294967296 * tm.n_min),
         |${packTailSql("kept2", " lang, source,")}""".stripMargin
  }

  /** Bloom-filter sizing for x16: the bit array SELF-SIZES to the eval
    * set — m = smallest power of two >= BloomBitsPerFp * n_eval_fps, k = 3
    * probe positions per fingerprint (20-bit hex slices of one md5, mod
    * m). 32 bits/entry at k = 3 gives ~9% load → ~8e-4 FP per probe-set:
    * false positives exist (measurable in the result) but rarely flip a
    * doc flag. A FIXED m is wrong at every other scale — the first cut of
    * this query used m = 2^17 and at sf0.1 hit 60% load, flagging 2452
    * clean docs — so the size derivation is part of the operator, done
    * declaratively (min over a powers-of-two relation, pure integer
    * comparison — no log2 libm risk) in both engines. */
  private val BloomBitsPerFp = 32

  /** A 5-hex-digit slice of `expr` (a 32-hex md5 string) parsed to BIGINT —
    * DuckDB has no conv(x, 16, 10), so the value is built by digit
    * multiply-add (same trick as the x59 oracle). */
  private def hexValSql(expr: String, start: Int): String =
    (start until start + 5)
      .map(i => s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")

  /** x16: decontamination through a BLOOM FILTER — the memory shape this
    * gate actually ships at 100 TB: the eval side collapses to a bit
    * array (here: the set of set positions, identical membership
    * decisions), so the train scan probes k = 3 hash positions per
    * fingerprint instead of joining fingerprint STRINGS. Same winnowing
    * fingerprints as x51; the bloom answers "fp ∈ eval UNION" (the
    * eval-doc identity is gone — that is the price of the bit array), so
    * the doc rule is total eval-corpus hits >= threshold rather than
    * x51's per-eval-doc pairing. Emits exact hits next to bloom hits, so
    * the false-positive surplus is measured IN the result (bloom_hits >=
    * exact_hits always; a row with bloom_flag and not exact_flag is a
    * bloom FP a production gate would over-drop). 100 TB: positions set
    * is eval-sized (tiny, broadcast); train fingerprints never shuffle;
    * a real deployment would pack the positions into
    * spark.util.sketch.BloomFilter — the decisions here are the same,
    * declaratively and oracle-checkably. */
  def bloomDecontaminate(spark: SparkSession, dir: String) = {
    import spark.implicits._
    // One explicit exchange right after the fingerprint build: the frame
    // feeds FOUR consumers (eval fp set, eval positions, bloom probe,
    // exact-join probe) with no common shuffle of their own, so without a
    // reuse point the winnow_fps scan re-runs per consumer. Behind this
    // repartition, AQE's stage cache serves all four from ONE materialized
    // stage (ReusedExchange — the mechanism PLANS.md records for x84);
    // the exchanged rows are just (doc_id, fp) longs, far cheaper than
    // re-winnowing the corpus. Measured 5.4 s → 1.9 s at sf0.1.
    val fps = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(call_function("winnow_fps", $"text",
          lit(ContamGram), lit(ContamWindow))).as("fp"))
      .repartition($"doc_id")
    val evalFpSet = fps.filter($"doc_id" % 40 === 0).select($"fp").distinct()
    // Self-sizing m: smallest power of two holding BloomBitsPerFp bits per
    // eval fingerprint. Declarative (no driver collect): powers-of-two
    // relation x the eval count, integer min.
    val m = spark.range(10, 31)
      .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("m"))
      .crossJoin(broadcast(evalFpSet.agg(count(lit(1)).as("n"))))
      .filter($"m" >= $"n" * BloomBitsPerFp)
      .agg(min($"m").as("m"))
    def positions(c: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
      array((0 until 3).map(i =>
        conv(substring(md5(c), 1 + 5 * i, 5), 16, 10).cast("long") % m): _*)
    val evalPos = fps.filter($"doc_id" % 40 === 0).crossJoin(broadcast(m))
      .select(explode(positions($"fp", $"m")).as("pos")).distinct()
      .withColumn("present", lit(true))
    val trainFps = fps.filter($"doc_id" % 40 =!= 0)
      .select($"doc_id".as("train_id"), $"fp")
    // r16: dedupe the k=3 probe positions ARRAY-LOCALLY before the explode
    // instead of a corpus-wide .distinct() after it — (train_id, fp) is
    // unique upstream, so duplicate (train_id, fp, pos) rows can only come
    // from one fp's own hash slices colliding mod m; array_distinct removes
    // exactly those, deleting a full shuffle+dedup of the 3×|train fps|
    // intermediate (the query's largest). Oracle's DISTINCT unchanged —
    // same set either way.
    val gramHits = trainFps.crossJoin(broadcast(m))
      .select($"train_id", $"fp",
        explode(array_distinct(positions($"fp", $"m"))).as("pos"))
      .join(broadcast(evalPos), Seq("pos"), "left")
      .groupBy($"train_id", $"fp")
      .agg(count(lit(1)).as("np"), count($"present").as("ni"))
      .filter($"np" === $"ni")
    val bloomDoc = gramHits.groupBy($"train_id").agg(count(lit(1)).as("bloom_hits"))
    val exactDoc = trainFps.join(broadcast(evalFpSet), "fp")
      .groupBy($"train_id").agg(count(lit(1)).as("exact_hits"))
    bloomDoc.join(exactDoc, Seq("train_id"), "left")
      .select($"train_id",
        coalesce($"exact_hits", lit(0L)).as("exact_hits"),
        $"bloom_hits",
        (coalesce($"exact_hits", lit(0L)) >= ContamMinShared).as("exact_flag"),
        ($"bloom_hits" >= ContamMinShared).as("bloom_flag"))
      .orderBy("train_id")
  }

  private val bloomOracle = {
    val pos = (0 until 3)
      .map(i => s"(${hexValSql("h", 1 + 5 * i)} % m)")
      .mkString("[", ", ", "]")
    s"""WITH $contamCtes,
       |efp AS (SELECT DISTINCT fp FROM ev),
       |nfp AS (SELECT count(*) AS n FROM efp),
       |pw AS (SELECT (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) AS m FROM range(10, 31) t(k)),
       |mm AS (SELECT min(m) AS m FROM pw, nfp WHERE m >= n * $BloomBitsPerFp),
       |epos AS (SELECT DISTINCT unnest(p) AS pos
       |         FROM (SELECT $pos AS p FROM (SELECT md5(fp) AS h FROM efp), mm)),
       |tpos AS (SELECT DISTINCT train_id, fp, unnest(p) AS pos
       |         FROM (SELECT train_id, fp, $pos AS p
       |               FROM (SELECT train_id, fp, md5(fp) AS h FROM tr), mm)),
       |gh AS (SELECT train_id, fp, count(*) AS np, count(e.pos) AS ni
       |       FROM tpos t LEFT JOIN epos e ON t.pos = e.pos
       |       GROUP BY train_id, fp),
       |bh AS (SELECT train_id, count(*) AS bloom_hits FROM gh WHERE np = ni GROUP BY train_id),
       |eh AS (SELECT train_id, count(*) AS exact_hits FROM tr JOIN efp USING (fp) GROUP BY train_id)
       |SELECT b.train_id,
       |       coalesce(e.exact_hits, 0) AS exact_hits,
       |       b.bloom_hits,
       |       (coalesce(e.exact_hits, 0) >= $ContamMinShared) AS exact_flag,
       |       (b.bloom_hits >= $ContamMinShared) AS bloom_flag
       |FROM bh b LEFT JOIN eh e ON b.train_id = e.train_id
       |ORDER BY b.train_id""".stripMargin
  }

  /** q67: shard-skew QA — the straggler report for the packing path: per
    * shard, document/token loads, sequence counts, and the load ratio
    * tokens·S/total (exact integers divided once; 1.0 = perfectly even,
    * the max ratio bounds the packing stage's critical path at 100 TB —
    * x50's per-shard windows parallelize exactly as well as this number
    * says). Scale: one aggregate per shard over the token counts; the
    * ratio math runs on the S-row frame. */
  def shardSkew(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .select(($"doc_id" % PackShards).as("shard"),
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tok"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tokens"))
    per.crossJoin(broadcast(per.agg(sum($"tokens").as("total"))))
      .select($"shard", $"n_docs", $"tokens",
        // ceil-div: sequences the shard fills at PackBudget tokens each
        // (`div`, not `/` — Spark's `/` on longs is DOUBLE division)
        expr(s"(tokens + ${PackBudget - 1}) div $PackBudget").as("n_seqs"),
        QueryUtil.halfUp4(($"tokens" * PackShards).cast("double")
          / $"total".cast("double")).as("load_ratio"))
      .orderBy("shard")
  }

  private val shardSkewOracle =
    s"""WITH per AS (SELECT doc_id % $PackShards AS shard, count(*) AS n_docs,
       |               CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens
       |             FROM documents GROUP BY 1),
       |tot AS (SELECT sum(tokens) AS total FROM per)
       |SELECT shard, n_docs, tokens,
       |       (tokens + ${PackBudget - 1}) // $PackBudget AS n_seqs,
       |       floor((CAST(tokens * $PackShards AS DOUBLE) / CAST(total AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS load_ratio
       |FROM per, tot
       |ORDER BY shard""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q67_shard_skew",
      "Per-shard packing load report: token totals, sequence counts, exact load ratios",
      shardSkew, Some(shardSkewOracle)),
    QueryDef("x16_bloom_decontaminate",
      "bloom-filter decontamination gate with in-result false-positive measurement",
      bloomDecontaminate, Some(bloomOracle)),
    QueryDef("x359_training_corpus_v8",
      "training-corpus capstone: quality/dedup/decontamination + six keep-gates -> mixture -> BPE counts -> rebalance -> pack (fourteen stages, one oracle)",
      trainingCorpusV8, Some(trainingCorpusV8Oracle)),
    QueryDef("x50_pack_sequences",
      "concat-then-chunk sequence packing: per-shard token prefix sums -> (seq_id, seq_off)",
      packSequences, Some(packOracle)),
    QueryDef("x51_decontaminate",
      "train/eval contamination flags via winnowing-fingerprint overlap (broadcast eval side)",
      decontaminate, Some(decontaminateOracle)),
    QueryDef("x52_epoch_shuffle",
      "deterministic per-shard epoch shuffle order (data-loader visit order)",
      epochShuffle, Some(epochShuffleOracle)),
    QueryDef("x28_shard_manifest",
      "per-shard integrity manifests: counts, token totals, ordered-id digest",
      shardManifest, Some(shardManifestOracle)),
    QueryDef("x53_mixture_sample",
      "source-mixture sampling with integer hash thresholds (per-source audit)",
      mixtureSample, Some(mixtureOracle)))
}
