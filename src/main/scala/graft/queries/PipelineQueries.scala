package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextAnalysis
import QueryUtil.{halfUp4, md5Int, md5IntSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline family: turning curated documents into training corpora —
  * packing, sharding, mixtures, decontamination, splits and example
  * builders.
  *
  * Training-data logistics: the training-corpus capstone (x359, raw
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
  private val ContamMinShared = 2

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
  private val contamCtes =
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
    md5Int(concat_ws("|", lit("mix"), col("doc_id")), 4)
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
    *      readability band (x345, [[PipelineQueries.FkLo]] ≤ grade ≤
    *      [[PipelineQueries.FkHi]]),
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
      .join(TextQueries.bpeDocTokenCounts(spark, dir)
        .select($"doc_id", $"n_tok"), "doc_id")
      .repartition(col("doc_id"))
      .join(Tables.documents(spark, dir).select($"doc_id", $"lang"), "doc_id")
    val counts = kept.groupBy($"lang").agg(count(lit(1)).as("n_in"))
    val nmin = counts.agg(min($"n_in").as("n_min"))
    val thv = md5Int(concat_ws("|", lit("tmix"), $"doc_id"), 4)
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
      repetitionKeepIds(spark, dir),
      surprisalKeepIds(spark, dir),
      gopherKeepIds(spark, dir),
      boilerplateKeepIds(spark, dir),
      TrainingQueries.logisticKeepIds(spark, dir),
      readabilityKeepIds(spark, dir))
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
         |${repKeepCte},
         |${TrainingQueries.surCtes},
         |${surKeepCte},
         |${gopherKeepCtes},
         |${boilerKeepCtes},
         |${TrainingQueries.lrKeepCtes},
         |${readKeepCtes},
         |${TextQueries.bpeChainCtes("bpe_")},
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

  /** Mean-surprisal ceiling for the x359 capstone's perplexity-outlier
    * gate (fixture distribution: median 3.402, p90 3.41, max ~4.0 — the
    * ceiling drops the ~5-8% high-perplexity tail). */
  private val SurprisalMax = 3.43

  /** High-perplexity outlier gate for the x359 capstone: docs whose mean
    * surprisal (exact rational) is at most [[SurprisalMax]]. */
  private def surprisalKeepIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TrainingQueries.surprisalScores(spark, dir)
      .filter($"sum_fp".cast("double") / 1e6 / $"n_tok" <= SurprisalMax)
      .select($"doc_id")
  }

  /** Repetition gate for the x359 capstone: keep-flagged doc ids. */
  private[queries] def repetitionKeepIds(spark: SparkSession, dir: String): DataFrame =
    TrainingQueries.repetitionStats(spark, dir).filter(col("keep")).select(col("doc_id"))

  private def surKeepCte: String =
    s"""sur_keep AS (SELECT doc_id FROM sur
       |             WHERE CAST(sum_fp AS DOUBLE) / 1000000.0 / n_tok <= $SurprisalMax)""".stripMargin

  private def repKeepCte: String =
    s"""rep_keep AS (SELECT doc_id FROM rep_m
       |             WHERE top_share <= ${TrainingQueries.TopShareMax} AND dup_share <= ${TrainingQueries.DupBigramMax})""".stripMargin

  /** Blocklist size and drop threshold (percent, integer predicate). */
  private val BlockTop = 3
  private val BlockPct = 15

  /** x95: blocklist gating — the corpus-derived variant of a safety/spam
    * token filter: the [[BlockTop]] most frequent tokens form the
    * blocklist (deterministic: count desc, token asc), every doc's
    * blocked-token share is computed, and docs exceeding [[BlockPct]]%
    * are dropped. The gate is the exact integer predicate
    * `n_block * 100 > n_tok * pct` — no float threshold. Reported per
    * source: doc counts, drops, and the source's aggregate block rate
    * (one bigint/bigint division — identical doubles both engines).
    * Scale: vocab-sized count frame broadcast; the global top-K window
    * runs on the vocab frame (tiny), never the corpus. */
  def blocklistGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", $"source", explode(split($"text", " ")).as("t"))
    val wTop = Window.orderBy($"c".desc, $"t") // vocab-sized frame only
    val block = tok.groupBy($"t").agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(wTop)).filter($"r" <= BlockTop)
      .select($"t", lit(1L).as("b"))
    val per = tok.join(broadcast(block), Seq("t"), "left")
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_tok"), sum(coalesce($"b", lit(0L))).as("n_block"))
    per.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"n_block" * 100 > $"n_tok" * BlockPct).cast("long")).as("n_dropped"),
        halfUp4(sum($"n_block").cast("double") / sum($"n_tok").cast("double"))
          .as("block_rate"))
      .orderBy("source")
  }

  private val blocklistGateOracle =
    s"""WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
       |             FROM documents),
       |blk AS (SELECT t FROM (
       |          SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS r
       |          FROM tok GROUP BY t)
       |        WHERE r <= $BlockTop),
       |per AS (SELECT doc_id, source, count(*) AS n_tok,
       |          CAST(sum(CASE WHEN t IN (SELECT t FROM blk) THEN 1 ELSE 0 END) AS BIGINT) AS n_block
       |        FROM tok GROUP BY doc_id, source)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN n_block * 100 > n_tok * $BlockPct THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       floor((CAST(sum(n_block) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS block_rate
       |FROM per
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** x96: contamination REPORT — x51's train/eval winnowing overlap rolled
    * up per provenance source: how much of each source's training slice
    * overlaps the eval set. This is the governance view a corpus owner
    * actually reads (which supplier's crawl is contaminated), composed
    * from the already-verified x51 gate. Scale: x51's broadcast-eval
    * shape plus one tiny per-source aggregate. */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flagged = decontaminate(spark, dir)
      .select($"train_id".as("doc_id")).distinct().withColumn("f", lit(1L))
    Tables.documents(spark, dir).filter($"doc_id" % 40 =!= 0)
      .select($"doc_id", $"source")
      .join(flagged, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce($"f", lit(0L))).as("n_flagged"),
        halfUp4(sum(coalesce($"f", lit(0L))).cast("double")
          / count(lit(1)).cast("double")).as("contam_rate"))
      .orderBy("source")
  }

  private val contaminationReportOracle =
    s"""WITH ${contamCtes},
       |pairs AS (SELECT train_id, eval_id, count(*) AS shared_fp
       |          FROM tr JOIN ev USING (fp)
       |          GROUP BY train_id, eval_id
       |          HAVING count(*) >= ${ContamMinShared}),
       |flagged AS (SELECT DISTINCT train_id AS doc_id FROM pairs)
       |SELECT d.source, count(*) AS n_train,
       |       CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |       floor((CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |              / count(*)) * 10000 + 0.5) / 10000.0 AS contam_rate
       |FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
       |WHERE d.doc_id % 40 <> 0
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** x97: n-gram novelty — per document, the fraction of its distinct
    * word-3-grams that occur in NO other document (globally unique), the
    * standard memorization/boilerplate signal (low novelty = templated or
    * duplicated content; high = fresh text). Exact rational n_unique /
    * n_grams. Docs with < 3 tokens have no grams and are excluded in both
    * engines. Scale: distinct (doc, gram) then one gram-keyed count join —
    * the same two-shuffle shape as the TF-IDF family. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // native one-pass 3-grams (r16): the interpreted transform() lambda
    // re-evaluated split(text) + slice PER ELEMENT — O(tokens²) per doc;
    // token_ngrams emits the identical gram list (short docs → empty array,
    // so the explode drops them exactly like the old size>=3 filter)
    val grams = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(call_function("token_ngrams", $"text", lit(3))).as("g"))
      .distinct()
    val gdoc = grams.groupBy($"g").agg(count(lit(1)).as("nd"))
    grams.join(gdoc, "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(($"nd" === 1).cast("long")).as("n_unique"))
      .select($"doc_id", $"n_grams", $"n_unique",
        halfUp4($"n_unique".cast("double") / $"n_grams".cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  private val ngramNoveltyOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |                i -> array_to_string(toks[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) AS g
      |       FROM t),
      |grams AS (SELECT DISTINCT doc_id, g FROM g0),
      |gd AS (SELECT g, count(*) AS nd FROM grams GROUP BY g)
      |SELECT grams.doc_id, count(*) AS n_grams,
      |       CAST(sum(CASE WHEN gd.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |       floor((CAST(sum(CASE WHEN gd.nd = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000.0 AS novelty
      |FROM grams JOIN gd ON grams.g = gd.g
      |GROUP BY grams.doc_id
      |ORDER BY grams.doc_id""".stripMargin

  /** Fold count for [[clusteredKfold]]. */
  private val KFolds = 5

  /** x118: near-dup-aware k-fold assignment — cross-validation folds hashed
    * on the x14 dedup CLUSTER id, not the document id, so near-duplicate
    * documents can never straddle folds (train/test leakage through
    * paraphrases — the classic eval-inflation bug cluster-aware splitting
    * exists to kill). Per fold: document and cluster counts, plus the
    * measured leakage a NAIVE per-document hash split would have had on
    * this corpus (clusters whose members land in ≥2 folds under per-doc
    * hashing) — the quantified argument for the cluster-keyed variant.
    * Both fold hashes are the x57 16-bit md5 recipe (rerun/partitioning/
    * engine-stable). Scale: the cluster labeling is x14's audited
    * components pipeline; everything after is one |folds|-group aggregate
    * plus a cluster-count aggregate, with the 1-row leakage frame
    * broadcast onto the fold rows. */
  def clusteredKfold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cl = DedupQueries.dedupClusters(spark, dir)
      .select($"doc_id", $"cluster_id")
    val folded = cl.select($"doc_id", $"cluster_id",
      (md5Int(concat_ws("|", lit("fold"), $"cluster_id"), 4) % KFolds).as("fold"),
      (md5Int(concat_ws("|", lit("fold"), $"doc_id"), 4) % KFolds).as("naive_fold"))
    val naiveLeaky = folded.groupBy($"cluster_id")
      .agg(countDistinct($"naive_fold").as("nf"))
      .agg(sum(when($"nf" > 1, 1L).otherwise(0L)).as("naive_leaky_clusters"))
    folded.groupBy($"fold")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"cluster_id").as("n_clusters"))
      .crossJoin(broadcast(naiveLeaky))
      .select($"fold", $"n_docs", $"n_clusters", $"naive_leaky_clusters")
      .orderBy("fold")
  }

  private lazy val clusteredKfoldOracle =
    DedupQueries.clustersOracleCtes +
      s""", folded AS (SELECT doc_id, cluster_id,
         |    ${md5IntSql("concat_ws('|', 'fold', CAST(cluster_id AS VARCHAR))", 4)} % $KFolds AS fold,
         |    ${md5IntSql("concat_ws('|', 'fold', CAST(doc_id AS VARCHAR))", 4)} % $KFolds AS naive_fold
         |  FROM labeled),
         |leaky AS (SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaky_clusters
         |          FROM (SELECT cluster_id, count(DISTINCT naive_fold) AS nf
         |                FROM folded GROUP BY cluster_id))
         |SELECT fold, count(*) AS n_docs,
         |       count(DISTINCT cluster_id) AS n_clusters,
         |       leaky.naive_leaky_clusters
         |FROM folded, leaky
         |GROUP BY fold, leaky.naive_leaky_clusters
         |ORDER BY fold""".stripMargin

  /** Gopher-rule thresholds (Rae et al. 2021 table A1, adapted to the
    * fixture's scale): word count in [GopherMinWords, GopherMaxWords],
    * mean word length in [3, 10], ≥ 2 distinct stopwords present,
    * top-token share < 30%, duplicate-bigram share ≤ 50%. */
  private val GopherMinWords = 20
  private val GopherMaxWords = 100000

  /** x123: the Gopher quality-rule gate — the canonical heuristic document
    * filter (the published rule family Gopher/MassiveText used), with
    * EVERY threshold an exact integer predicate so both engines agree
    * without a float boundary anywhere: mean-word-length bounds become
    * `3·n ≤ Σlen ≤ 10·n`, top-token share < 30% becomes `10·max_tf <
    * 3·n`, duplicate-bigram share ≤ 50% becomes `2·distinct ≥ total`.
    * Complements x42 (a continuous score) and x58 (two repetition
    * ratios): this is the full pass/fail rule panel a curation pipeline
    * actually gates on, with per-rule booleans for auditability. Scale:
    * ALL rules are array-local per row (token counts, the max term
    * frequency via a distinct×scan loop over the ~40-token vocab of a
    * doc, shifted-slice bigrams) — zero shuffle except the driver-facing
    * ORDER BY; at 100 TB this is a pure map over the corpus. */
  def gopherGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = graft.operators.TextAnalysis.tokens($"text")
    val base = Tables.documents(spark, dir).select($"doc_id", toks.as("t"))
      .select($"doc_id", size($"t").as("n"),
        graft.operators.TextAnalysis.sumTokenLen($"t").as("sumlen"),
        size(array_intersect(array_distinct($"t"),
          array(graft.operators.TextAnalysis.StopwordsEn.map(lit): _*)))
          .as("n_stop_forms"),
        expr("array_max(transform(array_distinct(t), d -> size(filter(t, x -> x = d))))")
          .as("max_tf"),
        expr(s"""IF(size(t) > 1,
                |   transform(sequence(1, size(t) - 1),
                |             i -> concat(element_at(t, i), ' ', element_at(t, i + 1))),
                |   array())""".stripMargin).as("bg"))
      .select($"doc_id", $"n", $"sumlen", $"n_stop_forms", $"max_tf",
        (size($"bg")).as("n_bg"), size(array_distinct($"bg")).as("n_bg_distinct"))
    base.select($"doc_id", $"n".as("n_words"),
        ($"n" >= GopherMinWords && $"n" <= GopherMaxWords).cast("int").as("r_wordcount"),
        (lit(3) * $"n" <= $"sumlen" && $"sumlen" <= lit(10) * $"n").cast("int").as("r_wordlen"),
        ($"n_stop_forms" >= 2).cast("int").as("r_stopwords"),
        (lit(10) * $"max_tf" < lit(3) * $"n").cast("int").as("r_topshare"),
        ($"n_bg" === 0 || lit(2) * $"n_bg_distinct" >= $"n_bg").cast("int").as("r_bigram"))
      .withColumn("keep",
        ($"r_wordcount" === 1 && $"r_wordlen" === 1 && $"r_stopwords" === 1 &&
          $"r_topshare" === 1 && $"r_bigram" === 1).cast("int"))
      .orderBy("doc_id")
  }

  /** The five rules as SQL predicates over the gop-chain's `g` columns —
    * one definition feeding both the x123 oracle and the capstone-v4
    * keep CTE, so the thresholds cannot drift. */
  private[queries] val gopherRuleSqls: Seq[(String, String)] = Seq(
    "r_wordcount" -> s"n >= $GopherMinWords AND n <= $GopherMaxWords",
    "r_wordlen" -> "3 * n <= sumlen AND sumlen <= 10 * n",
    "r_stopwords" -> "n_stop_forms >= 2",
    "r_topshare" -> "10 * max_tf < 3 * n",
    "r_bigram" -> "(n_bg = 0 OR 2 * n_bg_distinct >= n_bg)")

  private[queries] val gopherAllPredSql: String =
    gopherRuleSqls.map(_._2).map(p => s"($p)").mkString(" AND ")

  /** The tokenize → measure → aggregate chain ending in
    * `${p}g(doc_id, n, sumlen, n_stop_forms, max_tf, n_bg, n_bg_distinct)`;
    * `p` prefixes the CTE names so the chain can splice into statements
    * that already use b/m/g. */
  private[queries] def gopherChainSql(p: String): String = {
    val stops = graft.operators.TextAnalysis.StopwordsEnSql
    s"""${p}b AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |${p}m AS (
       |  SELECT doc_id, len(t) AS n,
       |         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sumlen,
       |         len(list_filter(list_distinct(t), x -> x IN ($stops))) AS n_stop_forms,
       |         list_max(list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d)))) AS max_tf,
       |         CASE WHEN len(t) > 1
       |              THEN list_transform(generate_series(1, len(t) - 1),
       |                     i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1])
       |              ELSE [] END AS bg
       |  FROM ${p}b),
       |${p}g AS (
       |  SELECT doc_id, n, sumlen, n_stop_forms, max_tf,
       |         len(bg) AS n_bg, len(list_distinct(bg)) AS n_bg_distinct
       |  FROM ${p}m)""".stripMargin
  }

  /** Splice-ready CTE block (leading names prefixed `gop_`) ending in
    * `gopher_keep(doc_id)` — the capstone-v4 gate. */
  private lazy val gopherKeepCtes: String =
    gopherChainSql("gop_") +
      s""",
         |gopher_keep AS (SELECT doc_id FROM gop_g WHERE $gopherAllPredSql)""".stripMargin

  /** The x123 gate reduced to surviving doc ids — an x359 capstone stage. */
  private def gopherKeepIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gopherGate(spark, dir).filter($"keep" === 1).select($"doc_id")
  }

  /** Span-corruption geometry: one span per FULL [[SpanBlock]]-token
    * block, start offset ∈ [0, 16) and length ∈ [2, 4] both hash-chosen —
    * spans are block-local by construction (16 + 4 ≤ 20), so no
    * overlap/ordering pass is needed and the whole example builds
    * array-locally per document. ~15% of tokens masked (3/20). */
  private val SpanBlock = 20

  /** x126: T5-style span corruption — the pretraining-example builder for
    * denoising objectives: deterministic spans are cut from each document,
    * the input keeps one `<X_k>` sentinel per span, and the target is the
    * sentinel-delimited sequence of removed spans. Everything is
    * hash-derived from (doc_id, block) with the x57 16-bit recipe, so the
    * corruption is reproducible across runs/engines (and re-saltable per
    * epoch by changing the literal salt). Emits per doc: token/span
    * counts, the masked fraction, and md5 digests of the exact input and
    * target strings (content-pinning without shipping the strings).
    * Scale: pure per-row map (the x123/x20 array-local discipline) —
    * zero shuffle except the driver-facing ORDER BY. */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def h(salt: String) =
      s"CAST(conv(substring(md5(concat_ws('|', '$salt', doc_id, k)), 1, 4), 16, 10) AS BIGINT)"
    val base = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", $"t", size($"t").as("n"))
      .withColumn("nb", expr(s"size(t) div $SpanBlock"))
      // per-block span bounds (1-based token positions), block-local
      .withColumn("spans", expr(
        s"""transform(sequence(0, nb - 1), k -> named_struct(
           |  'k', k,
           |  's', k * $SpanBlock + 1 + CAST(${h("sp")} % 16 AS INT),
           |  'l', 2 + CAST(${h("ln")} % 3 AS INT)))""".stripMargin))
      .filter($"nb" >= 1)
    val built = base.select($"doc_id", $"n", $"nb",
      expr("aggregate(spans, 0, (acc, sp) -> acc + sp.l)").as("n_masked"),
      // input: sentinel at each span start, span tokens dropped
      expr(
        s"""array_join(filter(transform(sequence(1, n), i ->
           |  CASE
           |    WHEN (i - 1) div $SpanBlock < nb
           |         AND i >= element_at(spans, CAST((i - 1) div $SpanBlock AS INT) + 1).s
           |         AND i <  element_at(spans, CAST((i - 1) div $SpanBlock AS INT) + 1).s
           |                  + element_at(spans, CAST((i - 1) div $SpanBlock AS INT) + 1).l
           |    THEN IF(i = element_at(spans, CAST((i - 1) div $SpanBlock AS INT) + 1).s,
           |            concat('<X', CAST((i - 1) div $SpanBlock AS STRING), '>'), NULL)
           |    ELSE element_at(t, i)
           |  END), x -> x IS NOT NULL), ' ')""".stripMargin).as("input_str"),
      // target: <X_k> followed by the k-th span's tokens, all spans joined
      expr(
        s"""array_join(transform(spans, sp ->
           |  concat('<X', CAST(sp.k AS STRING), '> ',
           |         array_join(slice(t, sp.s, sp.l), ' '))), ' ')""".stripMargin)
        .as("target_str"))
    built.select($"doc_id", $"n".as("n_tokens"), $"nb".as("n_spans"),
        $"n_masked",
        QueryUtil.halfUp($"n_masked".cast("double") / $"n".cast("double"), 4)
          .as("masked_frac"),
        md5($"input_str").as("input_md5"), md5($"target_str").as("target_md5"))
      .orderBy("doc_id")
  }

  private val spanCorruptionOracle = {
    def h(salt: String) =
      md5IntSql(s"concat_ws('|', '$salt', CAST(doc_id AS VARCHAR), CAST(k AS VARCHAR))", 4)
    s"""WITH b AS (
       |  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, t, n, n // $SpanBlock AS nb,
       |         list_transform(range(0, n // $SpanBlock), k -> struct_pack(
       |           k := k,
       |           s := k * $SpanBlock + 1 + (${h("sp")}) % 16,
       |           l := 2 + (${h("ln")}) % 3)) AS spans
       |  FROM b WHERE n // $SpanBlock >= 1),
       |built AS (
       |  SELECT doc_id, n, nb,
       |         CAST(list_sum(list_transform(spans, sp -> sp.l)) AS BIGINT) AS n_masked,
       |         array_to_string(list_filter(list_transform(range(1, n + 1), i ->
       |           CASE
       |             WHEN (i - 1) // $SpanBlock < nb
       |                  AND i >= spans[CAST((i - 1) // $SpanBlock AS INTEGER) + 1].s
       |                  AND i <  spans[CAST((i - 1) // $SpanBlock AS INTEGER) + 1].s
       |                           + spans[CAST((i - 1) // $SpanBlock AS INTEGER) + 1].l
       |             THEN CASE WHEN i = spans[CAST((i - 1) // $SpanBlock AS INTEGER) + 1].s
       |                       THEN '<X' || CAST((i - 1) // $SpanBlock AS VARCHAR) || '>'
       |                       ELSE NULL END
       |             ELSE t[CAST(i AS INTEGER)]
       |           END), x -> x IS NOT NULL), ' ') AS input_str,
       |         array_to_string(list_transform(spans, sp ->
       |           '<X' || CAST(sp.k AS VARCHAR) || '> ' ||
       |           array_to_string(list_slice(t, CAST(sp.s AS INTEGER), CAST(sp.s + sp.l - 1 AS INTEGER)), ' ')), ' ') AS target_str
       |  FROM w)
       |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens, CAST(nb AS INTEGER) AS n_spans,
       |       n_masked,
       |       floor((CAST(n_masked AS DOUBLE) / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS masked_frac,
       |       md5(input_str) AS input_md5, md5(target_str) AS target_md5
       |FROM built
       |ORDER BY doc_id""".stripMargin
  }

  /* Exact integer apportionment of a training token
   * budget across corpus sources — the arithmetic that turns x53/x85's
   * mixture WEIGHTS into per-source token QUOTAS that sum exactly to the
   * budget. */

  /** Token budget to apportion (chosen so remainders are non-trivial at
    * every SF). */
  private val Budget = 12345L

  /** x155: largest-remainder token-budget apportionment — given per-source
    * token masses, allocate an exact total budget proportionally:
    * floor quotas first, then one extra token-share to the k sources with
    * the largest remainders (k = the floor shortfall), ties broken by
    * source name. The result sums EXACTLY to the budget (the property
    * naive rounding violates), every step is integer arithmetic
    * (remainders compared as `B·tᵢ mod T` — no doubles), and the emitted
    * `share` column shows the realized vs ideal proportion. This is the
    * mixture-sampling prelude: x53 samples BY these quotas; this query is
    * where the quotas come from.
    *
    * Scale: one aggregate over sources plus rank/arithmetic on the
    * |sources| frame — corpus-size-free after the first shuffle. The
    * `B·tᵢ` products need ~log2(B)+log2(T) bits; a 100 TB deployment
    * pre-scales tᵢ (the doc notes the bound) or moves to DECIMAL. */
  def tokenBudgetApportion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables.documents(spark, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"source").agg(sum($"n_tok").as("t"))
    val tot = t.agg(sum($"t").as("tt"), count(lit(1)).as("n_src"))
    val q = t.crossJoin(broadcast(tot))
      .select($"source", $"t", $"tt",
        expr(s"($Budget * t) DIV tt").as("quota_floor"),
        ((lit(Budget) * $"t") % $"tt").as("rem"))
    val short = q.agg((lit(Budget) - sum($"quota_floor")).as("k"))
    val w = Window.orderBy($"rem".desc, $"source")
    q.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(w))
      .select($"source", $"t".as("n_tokens"), $"quota_floor",
        ($"rk" <= $"k").cast("long").as("extra"),
        ($"quota_floor" + ($"rk" <= $"k").cast("long")).as("alloc"),
        halfUp4($"t".cast("double") / $"tt".cast("double")).as("ideal_share"),
        halfUp4(($"quota_floor" + ($"rk" <= $"k").cast("long")).cast("double")
          / lit(Budget.toDouble)).as("alloc_share"))
      .orderBy("source")
  }

  private val tokenBudgetApportionOracle =
    s"""WITH t AS (SELECT source,
       |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
       |           FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt FROM t),
       |q AS (SELECT source, t, tt,
       |        ($Budget * t) // tt AS quota_floor,
       |        ($Budget * t) % tt AS rem
       |      FROM t CROSS JOIN tot),
       |s AS (SELECT CAST($Budget - sum(quota_floor) AS BIGINT) AS k FROM q),
       |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
       |      FROM q CROSS JOIN s)
       |SELECT source, t AS n_tokens, quota_floor,
       |       CAST(rk <= k AS BIGINT) AS extra,
       |       quota_floor + CAST(rk <= k AS BIGINT) AS alloc,
       |       floor(CAST(t AS DOUBLE) / CAST(tt AS DOUBLE) * 10000 + 0.5) / 10000.0 AS ideal_share,
       |       floor(CAST(quota_floor + CAST(rk <= k AS BIGINT) AS DOUBLE) / ${Budget}.0
       |             * 10000 + 0.5) / 10000.0 AS alloc_share
       |FROM r
       |ORDER BY source""".stripMargin

  /** The x158 gate reduced to surviving doc ids — keep a document iff
    * less than 20% of its spans are cross-document boilerplate (strict
    * integer predicate 5·removed < spans). An x359 capstone stage. */
  private def boilerplateKeepIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(DedupQueries.SpanW)).cast("int"))).as("k"))
      .select($"doc_id",
        array_join(slice($"toks", $"k" * DedupQueries.SpanW + 1, lit(DedupQueries.SpanW)), " ").as("span"))
    val docsPerSpan = spans.groupBy($"span")
      .agg(countDistinct($"doc_id").as("nd"))
    spans.join(docsPerSpan, "span")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_removed"))
      .filter($"n_removed" * 5 < $"n_spans")
      .select($"doc_id")
  }

  /** Splice-ready CTE block (names prefixed `bp_`) ending in
    * `boiler_keep(doc_id)` — the capstone-v5 gate. */
  private lazy val boilerKeepCtes: String =
    s"""bp_t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |bp_e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // ${DedupQueries.SpanW}) + 1)) AS k
       |         FROM bp_t),
       |bp_c AS (SELECT doc_id,
       |           array_to_string(list_slice(toks, k * ${DedupQueries.SpanW} + 1, k * ${DedupQueries.SpanW} + ${DedupQueries.SpanW}), ' ') AS span
       |         FROM bp_e),
       |bp_d AS (SELECT span, count(DISTINCT doc_id) AS nd FROM bp_c GROUP BY span),
       |boiler_keep AS (
       |  SELECT c.doc_id
       |  FROM bp_c c JOIN bp_d d USING (span)
       |  GROUP BY c.doc_id
       |  HAVING 5 * sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) < count(*))""".stripMargin

  /** x165 cohort bound (keeps the conversation table readable). */
  private val ChatUsers = 60

  /** x165: chat-turn conversation assembly — the SFT/chat-template
    * example-prep shape: each user's event stream becomes a multi-turn
    * conversation (odd rank → user turn, even → assistant), rendered as
    * 'role|event_type' lines joined in time order, with the md5 digest
    * pinning the exact template output. The rebuild is the x55
    * collect_list + array_sort fold (one user_id shuffle), so the
    * assembly is deterministic under any partitioning — the property a
    * distributed template renderer must have.
    *
    * Scale: one user_id-keyed shuffle; conversations build
    * partition-locally from sorted structs. */
  def chatAssembly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .filter($"user_id" < ChatUsers)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("turn", row_number().over(w))
      .withColumn("line",
        concat(when($"turn" % 2 === 1, "user").otherwise("assistant"),
          lit("|"), $"event_type"))
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("int").as("n_turns"),
        sum(when($"turn" % 2 === 1, 1).otherwise(0)).cast("int").as("n_user_turns"),
        md5(array_join(
          transform(sort_array(collect_list(struct($"turn", $"line"))),
            s => s.getField("line")),
          "\n")).as("convo_md5"))
      .orderBy("user_id")
  }

  private val chatAssemblyOracle =
    s"""WITH t AS (
       |  SELECT user_id, event_type,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn
       |  FROM events WHERE user_id < $ChatUsers)
       |SELECT user_id,
       |       CAST(count(*) AS INTEGER) AS n_turns,
       |       CAST(sum(CASE WHEN turn % 2 = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_user_turns,
       |       md5(string_agg(
       |         (CASE WHEN turn % 2 = 1 THEN 'user' ELSE 'assistant' END) || '|' || event_type,
       |         chr(10) ORDER BY turn)) AS convo_md5
       |FROM t
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** x176 chunk width (tokens). */
  private val IctW = 24

  /** x176: Inverse Cloze Task pairs — the self-supervised
    * retrieval-pretraining objective (Lee et al. 2019): one chunk of each
    * document becomes the pseudo-QUERY, the remaining chunks in order
    * become the pseudo-CONTEXT the retriever must match. The held-out
    * chunk index is a deterministic md5 draw per doc (rerun- and
    * engine-stable, re-saltable per epoch like x126), and the context is
    * rebuilt with two slices around it — order preserved, no index-lambda
    * dependence. Pure per-row map; md5 digests pin both sides exactly.
    *
    * Scale: zero shuffle except the driver-facing ORDER BY — the same
    * map-only profile as x126's span corruption. */
  def ictPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = Tables.documents(spark, dir)
      .filter(size(split($"text", " ")) >= IctW * 2) // need >= 2 chunks
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id",
        transform(
          sequence(lit(0), floor((size($"toks") - 1) / lit(IctW)).cast("int")),
          i => array_join(slice($"toks", i * IctW + 1, lit(IctW)), " ")).as("ch"))
      .select($"doc_id", $"ch", size($"ch").as("n_chunks"),
        (md5Int(concat(lit("ict|"), $"doc_id"), 4) % size($"ch")).cast("int").as("qi"))
    chunks.select($"doc_id", $"n_chunks", $"qi",
        md5(element_at($"ch", $"qi" + 1)).as("query_md5"),
        md5(array_join(
          concat(slice($"ch", lit(1), $"qi"),
            slice($"ch", $"qi" + 2, size($"ch") - $"qi" - 1)),
          " ")).as("context_md5"))
      .orderBy("doc_id")
  }

  private val ictPairsOracle = {
    val hv = QueryUtil.md5IntSql("concat('ict|', CAST(doc_id AS VARCHAR))", 4)
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |           WHERE len(string_split(text, ' ')) >= ${IctW * 2}),
       |c AS (SELECT doc_id,
       |        list_transform(range(0, ((len(toks) - 1) // $IctW) + 1),
       |          i -> array_to_string(list_slice(toks, i * $IctW + 1, i * $IctW + $IctW), ' ')) AS ch
       |      FROM t),
       |q AS (SELECT doc_id, ch, CAST(len(ch) AS INTEGER) AS n_chunks,
       |        CAST($hv % len(ch) AS INTEGER) AS qi
       |      FROM c)
       |SELECT doc_id, n_chunks, qi,
       |       md5(ch[qi + 1]) AS query_md5,
       |       md5(array_to_string(
       |         list_concat(list_slice(ch, 1, qi), list_slice(ch, qi + 2, len(ch))), ' '))
       |         AS context_md5
       |FROM q
       |ORDER BY doc_id""".stripMargin
  }

  /* Packing-boundary audit (x230) — the
   * attention-mask cost of x50's streaming sequence packer. */

  /** x230: boundary-straddle audit of the x50 packer — the streaming
    * cum-div packer fills every sequence to the brim by SPLITTING
    * documents across sequence boundaries; each straddling document
    * needs cross-sequence attention masking (or truncation) in
    * training. Per shard: how many documents straddle, the straddled
    * token mass (tokens that land beyond their doc's first sequence),
    * and what truncating at the boundary instead would discard —
    * exact integers derived in CLOSED FORM from the packing columns
    * (straddle ⟺ ⌊cum/B⌋ ≠ ⌊(cum+n−1)/B⌋), no second pass over the
    * packer.
    *
    * Scale: the packing window is x50's audited per-shard prefix sum;
    * the audit adds one projection and a shard-grain aggregate. */
  def packStraddle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = Tables.documents(spark, dir)
      .select($"doc_id", ($"doc_id" % PackShards).as("shard"),
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum($"n_tok").over(w), lit(0L)))
      .withColumn("seq_a", expr(s"cum_before div $PackBudget"))
      .withColumn("seq_b", expr(s"(cum_before + n_tok - 1) div $PackBudget"))
    packed.groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tok"),
        (max($"seq_b") + 1).as("n_seqs"),
        sum(when($"seq_a" =!= $"seq_b", 1L).otherwise(0L)).as("n_straddle"),
        // Tokens beyond the doc's first sequence = what boundary
        // truncation would discard.
        sum(when($"seq_a" =!= $"seq_b",
          $"cum_before" + $"n_tok" - ($"seq_a" + 1) * PackBudget)
          .otherwise(0L)).as("truncated_tok"))
      .select($"shard", $"n_docs", $"n_tok", $"n_seqs", $"n_straddle",
        $"truncated_tok",
        expr("(n_straddle * 1000000) div n_docs").as("straddle_share_fp"))
      .orderBy($"shard")
  }

  private val packStraddleOracle =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |packed AS (
       |  SELECT *,
       |         CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS cum_before
       |  FROM d),
       |marked AS (
       |  SELECT shard, n_tok, cum_before,
       |         cum_before // $PackBudget AS seq_a,
       |         (cum_before + n_tok - 1) // $PackBudget AS seq_b
       |  FROM packed)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tok,
       |       CAST(max(seq_b) + 1 AS BIGINT) AS n_seqs,
       |       CAST(sum(CASE WHEN seq_a <> seq_b THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_straddle,
       |       CAST(sum(CASE WHEN seq_a <> seq_b THEN
       |              cum_before + n_tok - (seq_a + 1) * $PackBudget
       |            ELSE 0 END) AS BIGINT) AS truncated_tok,
       |       CAST((sum(CASE WHEN seq_a <> seq_b THEN 1 ELSE 0 END) * 1000000)
       |            // count(*) AS BIGINT) AS straddle_share_fp
       |FROM marked GROUP BY shard
       |ORDER BY shard""".stripMargin

  /* Training-mixture logistics — DoReMi-style
   * domain reweighting (the mixture-OPTIMIZATION step that sits upstream
   * of x53's mixture sampler and x85's temperature reweighting) and
   * curriculum interleaving (the ordering audit downstream of x42's
   * quality scores). Both are pure relational folds: the data-sized pass
   * is one per-domain aggregation; the optimization/ordering itself runs
   * on domain-cardinality frames. */

  /** Multiplicative-weights rounds / learning rate for x251 (unrolled
    * identically in the oracle). */
  private val MixRounds = 6
  private val MixEta = "0.5"

  /** Interleave block size for x252's uniformity audit. */
  private val CurBlock = 50
  private val CurBands = 5

  // ---------------------------------------------------------------- x251

  /** x251: DoReMi-lite domain mixture reweighting (Xie et al. 2023,
    * linearized) — [[MixRounds]] multiplicative-weights rounds over the
    * per-domain excess-loss signal: each round computes the
    * mixture-average loss under the CURRENT weights, then tilts every
    * domain by `1 + eta * (loss_d - mix_avg)` (the exp(x) = 1+x
    * linearization of Hedge — deliberate: the repo's cross-engine
    * determinism contract allows ln but not libm exp, and the linear
    * payoff variant is itself a published multiplicative-weights
    * instance), floors at 0.1x to keep weights positive, and
    * renormalizes. Per-doc loss proxy is ln(1+n_chars) quantized to 1e-6
    * fixed point (the x56 surprisal recipe), so the domain loss is a
    * rational of exact integers; per-round mixture averages and weight
    * tilts quantize to fixed point BEFORE their sums, making every
    * accumulation order-free and the trained weights engine-exact (the
    * x35 trained-centroid contract applied to mixture training).
    *
    * Scale: the corpus-sized work is ONE per-source aggregation; the
    * optimization loop runs on a |domains|-row frame (localCheckpointed
    * once), so rounds cost nothing at any corpus size — exactly how a
    * 100 TB mixture fit behaves (proxy losses come from a map-side
    * aggregate; the reweighting itself is driver-scale math kept
    * declarative for the oracle pairing). */
  def doremiMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dom = Tables.documents(spark, dir)
      .select($"source",
        floor(log(lit(1.0) + $"n_chars".cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("l_fp"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"l_fp").as("s_fp"))
      .withColumn("loss",
        $"s_fp".cast("double") / $"n_docs".cast("double") / lit(1e6))
      .localCheckpoint(true)
    val nDom = dom.select(count(lit(1)).as("n_dom"))
    val w0 = dom.crossJoin(broadcast(nDom))
      .withColumn("w", lit(1.0) / $"n_dom".cast("double"))
      .select($"source", $"n_docs", $"loss", $"w")
      .localCheckpoint(true)
    val wN = (1 to MixRounds).foldLeft(w0) { (cur, _) =>
      val mix = cur
        .select(floor($"w" * $"loss" * lit(1e12) + lit(0.5)).cast("long").as("c_fp"))
        .agg(sum($"c_fp").as("mix_fp"))
      val tilt = cur.crossJoin(broadcast(mix))
        .withColumn("g",
          greatest(lit(0.1),
            lit(1.0) + lit(MixEta).cast("double")
              * ($"loss" - $"mix_fp".cast("double") / lit(1e12))))
        .withColumn("wq_fp",
          floor($"w" * $"g" * lit(1e9) + lit(0.5)).cast("long"))
        .localCheckpoint(true)
      val tot = tilt.agg(sum($"wq_fp").as("tot_fp"))
      tilt.crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"loss",
          ($"wq_fp".cast("double") / $"tot_fp".cast("double")).as("w"))
        .localCheckpoint(true)
    }
    wN.select($"source", $"n_docs",
      QueryUtil.halfUp4($"loss").as("loss"),
      QueryUtil.halfUp4($"w").as("weight"))
      .orderBy("source")
  }

  private def mixRoundSql(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""mix$r AS (
       |  SELECT CAST(sum(CAST(floor(w * loss * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS mix_fp
       |  FROM $prev),
       |tilt$r AS MATERIALIZED (
       |  SELECT source, n_docs, loss,
       |         CAST(floor(w * greatest(0.1,
       |                1.0 + $MixEta * (loss - CAST(mix_fp AS DOUBLE) / 1e12))
       |              * 1e9 + 0.5) AS BIGINT) AS wq_fp
       |  FROM $prev, mix$r),
       |tot$r AS (SELECT CAST(sum(wq_fp) AS BIGINT) AS tot_fp FROM tilt$r),
       |w$r AS MATERIALIZED (
       |  SELECT source, n_docs, loss,
       |         CAST(wq_fp AS DOUBLE) / CAST(tot_fp AS DOUBLE) AS w
       |  FROM tilt$r, tot$r)""".stripMargin
  }

  private val doremiOracle = {
    val rounds = (1 to MixRounds).map(mixRoundSql).mkString(",\n")
    s"""WITH dom AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CAST(floor(ln(1.0 + CAST(n_chars AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s_fp
       |  FROM documents GROUP BY source),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dom FROM dom),
       |w0 AS MATERIALIZED (
       |  SELECT source, n_docs,
       |         CAST(s_fp AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6 AS loss,
       |         1.0 / CAST(n_dom AS DOUBLE) AS w
       |  FROM dom, nd),
       |$rounds
       |SELECT source, n_docs,
       |       floor(loss * 10000 + 0.5) / 10000.0 AS loss,
       |       floor(w * 10000 + 0.5) / 10000.0 AS weight
       |FROM w$MixRounds
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- x252

  /** x252: curriculum interleave audit — easy-to-hard ordering with
    * stratified band round-robin (the standard curriculum-learning
    * schedule that avoids difficulty cliffs between epochs: band docs by
    * difficulty quintile, then interleave bands 1..K cyclically so every
    * training window sees the full difficulty mix while the WITHIN-band
    * order stays easy-first). Difficulty proxy = n_chars (deterministic,
    * doc_id tie-break); position = (rank_within_band - 1) * K + band - 1.
    * The audit groups the curriculum into [[CurBlock]]-position blocks
    * and emits per-(block, band) counts plus each block's difficulty
    * envelope — a uniform interleave shows near-equal band counts per
    * block and monotone envelopes across blocks.
    *
    * Scale: two window ranks over the (score, doc_id) total order — one
    * global ntile, one per-band row_number — then a block×band
    * aggregation; all single-shuffle window work with integer outputs,
    * no driver loop. On a real corpus the global sort is the same
    * range-partitioned total order every epoch-shuffle (x52) already
    * pays. */
  def curriculumInterleave(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
    val wAll = Window.orderBy($"n_chars", $"doc_id")
    val wBand = Window.partitionBy($"band").orderBy($"n_chars", $"doc_id")
    docs
      .withColumn("band", ntile(CurBands).over(wAll))
      .withColumn("rn", row_number().over(wBand))
      .withColumn("pos", ($"rn".cast("long") - 1L) * CurBands + $"band".cast("long") - 1L)
      .withColumn("blk", ($"pos" / CurBlock).cast("long"))
      .groupBy($"blk", $"band")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
      .select($"blk", $"band".cast("long").as("band"), $"n_docs",
        $"min_chars", $"max_chars")
      .orderBy("blk", "band")
  }

  private val curriculumOracle =
    s"""WITH b AS (
       |  SELECT doc_id, n_chars,
       |         ntile($CurBands) OVER (ORDER BY n_chars, doc_id) AS band
       |  FROM documents),
       |p AS (
       |  SELECT band, n_chars,
       |         (CAST(row_number() OVER (PARTITION BY band ORDER BY n_chars, doc_id) AS BIGINT) - 1)
       |           * $CurBands + band - 1 AS pos
       |  FROM b)
       |SELECT pos // $CurBlock AS blk, CAST(band AS BIGINT) AS band,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(min(n_chars) AS BIGINT) AS min_chars,
       |       CAST(max(n_chars) AS BIGINT) AS max_chars
       |FROM p
       |GROUP BY 1, 2
       |ORDER BY blk, band""".stripMargin

  /* Three published corpus-logistics operators that
   * complete existing families — UniMax budget water-filling (next to
   * x251's DoReMi reweighting and x85's temperature mixture), simple
   * Good-Turing frequency smoothing (next to x149 Kneser-Ney and x245
   * Stupid Backoff), and D4-style cluster prototype pruning (next to
   * x15's SemDeDup pass). All keep the corpus-sized work to one
   * aggregation / one broadcast assignment; the decision math runs on
   * domain-cardinality frames.
   * Elsewhere: x254 (TextQueries); x255 (CurationQueries).
   */

  /** UniMax epoch cap (max passes over any one source's data). */
  private val UniEpochCap = 3L

  // ---------------------------------------------------------------- x253

  /** x253: UniMax budget allocation (Chung et al. 2023) — water-filling
    * a total token budget B (= half the corpus here) across sources
    * under a per-source epoch cap: sources whose cap `N * c_s` fits
    * under the current uniform share get exactly their cap; the rest
    * split the remaining budget evenly. Uses the closed form of the
    * sequential greedy: with caps sorted ascending, source at rank i is
    * capped iff `cap_i * slots_remaining <= budget_remaining_before_i`
    * (all BIGINT cross-multiplied — no division until the final even
    * split, which is exact integer `floor(R / m)` with the sub-m
    * remainder documented as unallocated). Identical predicate and
    * prefix sums in the oracle, so the pairing is engine-exact.
    *
    * Scale: the corpus-sized pass is ONE per-source aggregation
    * (map-side partial sums); everything after runs on a |sources|-row
    * frame, so the unpartitioned windows are |sources|-sized by
    * construction — the same shape a 100 TB mixture budget fit has. */
  def unimaxAlloc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, dir)
      .groupBy($"source").agg(sum($"n_chars").as("c"))
      .localCheckpoint(true)
    val tot = src.agg(sum($"c").as("tot_c"), count(lit(1)).as("n_src"))
    val w = Window.orderBy($"c", $"source")
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("budget", ($"tot_c" / 2L).cast("long"))
      .withColumn("cap", $"c" * UniEpochCap)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pre", coalesce(
        sum($"cap").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("capped",
        when($"cap" * ($"n_src" - $"rn" + 1L) <= $"budget" - $"pre", 1L)
          .otherwise(0L))
      .localCheckpoint(true)
    val rem = ranked.agg(
      (first($"budget") - sum(when($"capped" === 1L, $"cap").otherwise(0L)))
        .as("r_budget"),
      (first($"n_src") - sum($"capped")).as("m_uncapped"))
    ranked.crossJoin(broadcast(rem))
      .withColumn("alloc",
        when($"capped" === 1L, $"cap")
          .otherwise(floor($"r_budget" / $"m_uncapped").cast("long")))
      .select($"source", $"c".as("n_chars_src"), $"cap", $"capped", $"alloc",
        QueryUtil.halfUp4($"alloc".cast("double") / $"c".cast("double"))
          .as("epochs"))
      .orderBy("source")
  }

  private val unimaxOracle =
    s"""WITH src AS MATERIALIZED (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS c
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot_c,
       |               CAST(count(*) AS BIGINT) AS n_src FROM src),
       |ranked AS MATERIALIZED (
       |  SELECT source, c, tot_c // 2 AS budget, c * $UniEpochCap AS cap,
       |         n_src,
       |         CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS rn,
       |         COALESCE(sum(c * $UniEpochCap) OVER (
       |             ORDER BY c, source
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0) AS pre
       |  FROM src, tot),
       |flagged AS MATERIALIZED (
       |  SELECT *, CASE WHEN cap * (n_src - rn + 1) <= budget - pre
       |                 THEN 1 ELSE 0 END AS capped
       |  FROM ranked),
       |rem AS (
       |  SELECT CAST(any_value(budget)
       |           - sum(CASE WHEN capped = 1 THEN cap ELSE 0 END) AS BIGINT)
       |           AS r_budget,
       |         CAST(any_value(n_src) - sum(capped) AS BIGINT) AS m_uncapped
       |  FROM flagged)
       |SELECT source, c AS n_chars_src, cap, CAST(capped AS BIGINT) AS capped,
       |       CASE WHEN capped = 1 THEN cap
       |            ELSE r_budget // m_uncapped END AS alloc,
       |       floor((CASE WHEN capped = 1 THEN cap
       |                   ELSE r_budget // m_uncapped END)
       |             / CAST(c AS DOUBLE) * 10000 + 0.5) / 10000.0 AS epochs
       |FROM flagged, rem
       |ORDER BY source""".stripMargin

  /* Three published distributed-systems/sketching
   * primitives a 100 TB pipeline leans on — priority sampling for
   * unbiased subset-sum estimates (next to x59's A-ES sampler), a
   * rendezvous-hashing shard rebalance audit (next to x28's shard
   * manifest), and Count-Sketch heavy-hitter estimation (next to x24's
   * count-min). All hashes are deterministic md5 slices so every
   * estimator is bit-reproducible and oracle-pairable.
   * Elsewhere: x258 (EngineOpsQueries).
   */

  /** Priority-sample size k (threshold τ = the (k+1)-th priority). */
  private val PriK = 64

  /** DuckDB has no conv(x, 16, 10): parse `n` hex chars of `expr`
    * starting at 1-based `start` by digit multiply-add, seeded with a
    * BIGINT 0 so >8-digit values cannot overflow INT32. */
  private[queries] def hexSql(expr: String, start: Int, n: Int): String =
    (start until start + n)
      .map(i => s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)")
      .foldLeft("CAST(0 AS BIGINT)")((a, b) => s"($a * 16 + $b)")

  // ---------------------------------------------------------------- x256

  /** x256: priority sampling (Duffield, Lund & Thorup 2007) over
    * documents weighted by n_chars: priority q_i = w_i / u_i with a
    * deterministic uniform u_i from a 16-bit md5 slice, keep the k
    * highest priorities, set τ = the (k+1)-th, and estimate any subset
    * sum as Σ max(w_i, τ) over sampled members — unbiased for every
    * subset simultaneously. Audited here per source: estimate vs exact
    * character mass and the signed relative error. Estimates are
    * quantized half-up to 1e-4 BEFORE summing (integer sums are
    * accumulation-order-free, the repo's trained-aggregate contract);
    * the ranking key q itself stays unrounded (identical IEEE doubles
    * in both engines — rounding IS the divergence channel).
    *
    * Scale: the corpus pass is TakeOrderedAndProject (per-partition
    * top-(k+1), driver merges k+1 rows per partition — no global sort)
    * plus one per-source aggregation; everything after runs on k+1
    * rows. That is exactly the shape a 100 TB "estimate every
    * source/domain mass from one tiny sample" audit needs. */
  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = md5Int(concat_ws("|", lit("psample"), col("doc_id")), 4)
    val base = Tables.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"source", $"doc_id", $"n_chars",
        ($"n_chars".cast("double") / ((h.cast("double") + lit(0.5)) / lit(65536.0))).as("q"))
    val ranked = base.orderBy($"q".desc, $"doc_id").limit(PriK + 1)
      .withColumn("rn", row_number().over(Window.orderBy($"q".desc, $"doc_id")))
      .localCheckpoint(true)
    val tau = ranked.filter($"rn" === PriK + 1).select($"q".as("tau"))
    val est = ranked.filter($"rn" <= PriK).crossJoin(broadcast(tau))
      .select($"source",
        floor(greatest($"n_chars".cast("double"), $"tau") * 10000 + lit(0.5))
          .cast("long").as("estq"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_sampled"), sum($"estq").as("sum_estq"))
    Tables.documents(spark, dir).filter($"n_chars" > 0)
      .groupBy($"source").agg(sum($"n_chars").as("exact_sum"))
      .join(est, Seq("source"), "left")
      .select($"source", $"exact_sum",
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        (coalesce($"sum_estq", lit(0L)) / lit(10000.0)).as("est_sum"),
        QueryUtil.halfUp4(
          (coalesce($"sum_estq", lit(0L)) / lit(10000.0) - $"exact_sum".cast("double"))
            / $"exact_sum".cast("double")).as("rel_err"))
      .orderBy("source")
  }

  private val prioritySampleOracle = {
    val h = hexSql("md5(concat_ws('|', 'psample', CAST(doc_id AS VARCHAR)))", 1, 4)
    s"""WITH base AS (
       |  SELECT source, doc_id, n_chars,
       |         CAST(n_chars AS DOUBLE) / ((CAST($h AS DOUBLE) + 0.5) / 65536.0) AS q
       |  FROM documents WHERE n_chars > 0),
       |ranked AS MATERIALIZED (
       |  SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rn
       |  FROM (SELECT * FROM base ORDER BY q DESC, doc_id LIMIT ${PriK + 1})),
       |tau AS (SELECT q AS tau FROM ranked WHERE rn = ${PriK + 1}),
       |est AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
       |         CAST(sum(CAST(floor(greatest(CAST(n_chars AS DOUBLE), tau) * 10000 + 0.5)
       |                       AS BIGINT)) AS BIGINT) AS sum_estq
       |  FROM ranked, tau WHERE rn <= $PriK GROUP BY source),
       |exact AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS exact_sum
       |  FROM documents WHERE n_chars > 0 GROUP BY source)
       |SELECT e.source, exact_sum,
       |       CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled,
       |       CAST(COALESCE(sum_estq, 0) AS BIGINT) / 10000.0 AS est_sum,
       |       floor((CAST(COALESCE(sum_estq, 0) AS BIGINT) / 10000.0
       |              - CAST(exact_sum AS DOUBLE)) / CAST(exact_sum AS DOUBLE)
       |             * 10000 + 0.5) / 10000.0 AS rel_err
       |FROM exact e LEFT JOIN est USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- x257

  /** x257: rendezvous-hashing (HRW, Thaler & Ravishankar 1996) shard
    * rebalance audit — the ops question behind every reshard at 100 TB:
    * growing 16 → 17 shards, how many documents MOVE? HRW assigns each
    * doc to argmax over shards of h(doc, shard); adding shard 17 moves
    * only the docs whose new hash wins (≈ N/17), versus mod-hashing
    * which remaps ≈ N·16/17 of the corpus. The argmax is computed as a
    * pure integer max over k = h·32 + s (40-bit hash, tie-free by
    * construction since s is embedded in the key), so the per-doc
    * reduction is a map-side partial aggregate, not a window. Emits one
    * audit row per scheme: moved count/fraction plus the 17-shard
    * max/min loads (HRW inherits md5 balance; mod does too — the
    * difference is pure movement).
    *
    * Scale: the corpus pass is one explode(17) + hash aggregation on
    * doc_id (map-side partials, no window); summaries run on |shards|-
    * and 2-row frames. At 1000 executors the explode factor is a
    * constant 17 and the agg keys are unique doc ids — embarrassingly
    * parallel. */
  def hrwRebalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hrwH = md5Int(concat_ws("|", lit("hrw"), col("doc_id"), col("s")), 10)
    val modH = md5Int(concat_ws("|", lit("mod"), col("doc_id")), 10)
    val asg = Tables.documents(spark, dir)
      .select($"doc_id", modH.as("h0"), explode(sequence(lit(0), lit(16))).as("s"))
      .withColumn("k", hrwH * lit(32L) + $"s".cast("long"))
      .groupBy($"doc_id", $"h0")
      .agg((max($"k") % 32).as("hrw17"),
        (max(when($"s" < 16, $"k")) % 32).as("hrw16"))
      .withColumn("mod16", $"h0" % 16)
      .withColumn("mod17", $"h0" % 17)
      .localCheckpoint(true)
    def schemeRow(name: String, c16: String, c17: String): DataFrame = {
      val moved = asg.agg(count(lit(1)).as("n_docs"),
        sum(when(col(c16) =!= col(c17), 1L).otherwise(0L)).as("n_moved"))
      val loads = asg.groupBy(col(c17)).agg(count(lit(1)).as("cnt"))
        .agg(max($"cnt").as("max_load"), min($"cnt").as("min_load"))
      moved.crossJoin(loads)
        .select(lit(name).as("scheme"), $"n_docs", $"n_moved",
          QueryUtil.halfUp4($"n_moved".cast("double") / $"n_docs".cast("double"))
            .as("moved_frac"),
          $"max_load", $"min_load")
    }
    schemeRow("hrw", "hrw16", "hrw17")
      .unionByName(schemeRow("mod", "mod16", "mod17"))
      .orderBy("scheme")
  }

  private val hrwRebalanceOracle = {
    val hrwH = hexSql("md5(concat_ws('|', 'hrw', CAST(doc_id AS VARCHAR), CAST(s AS VARCHAR)))", 1, 10)
    val modH = hexSql("md5(concat_ws('|', 'mod', CAST(doc_id AS VARCHAR)))", 1, 10)
    s"""WITH asg AS MATERIALIZED (
       |  SELECT doc_id, h0,
       |         max(k) % 32 AS hrw17,
       |         max(CASE WHEN s < 16 THEN k END) % 32 AS hrw16,
       |         h0 % 16 AS mod16, h0 % 17 AS mod17
       |  FROM (SELECT doc_id, $modH AS h0, s, $hrwH * 32 + s AS k
       |        FROM documents, (SELECT unnest(range(0, 17)) AS s))
       |  GROUP BY doc_id, h0),
       |hrw_m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(CASE WHEN hrw16 <> hrw17 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |          FROM asg),
       |hrw_l AS (SELECT CAST(max(cnt) AS BIGINT) AS max_load,
       |                 CAST(min(cnt) AS BIGINT) AS min_load
       |          FROM (SELECT count(*) AS cnt FROM asg GROUP BY hrw17)),
       |mod_m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(CASE WHEN mod16 <> mod17 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |          FROM asg),
       |mod_l AS (SELECT CAST(max(cnt) AS BIGINT) AS max_load,
       |                 CAST(min(cnt) AS BIGINT) AS min_load
       |          FROM (SELECT count(*) AS cnt FROM asg GROUP BY mod17))
       |SELECT * FROM (
       |  SELECT 'hrw' AS scheme, n_docs, n_moved,
       |         floor(CAST(n_moved AS DOUBLE) / CAST(n_docs AS DOUBLE) * 10000 + 0.5)
       |           / 10000.0 AS moved_frac, max_load, min_load
       |  FROM hrw_m, hrw_l
       |  UNION ALL
       |  SELECT 'mod' AS scheme, n_docs, n_moved,
       |         floor(CAST(n_moved AS DOUBLE) / CAST(n_docs AS DOUBLE) * 10000 + 0.5)
       |           / 10000.0 AS moved_frac, max_load, min_load
       |  FROM mod_m, mod_l)
       |ORDER BY scheme""".stripMargin
  }

  // ---------------------------------------------------------------- x298

  private val PackBudgets = Seq(128L, 256L, 512L, 1024L)
  private val WasteShards = 8L

  /** x298: padding-vs-packing waste audit — the budget-sweep arithmetic
    * behind the packing decision every pretraining pipeline makes: for
    * each sequence budget B, padding each document to its own
    * ceil(n_tok/B) sequences wastes `Σ(ceil·B − n_tok)` token slots,
    * while concat-packing (x50's layout) wastes only the final partial
    * sequence per shard: `Σ_shard (ceil(tot/B)·B − tot)`. All BIGINT
    * (integer ceil via (n + B − 1) div B); the published waste
    * fractions round half-up at 1e-6.
    *
    * Scale: one corpus scan for the per-doc token counts, one
    * shard-level census — the sweep itself runs on |budgets| × |shards|
    * rows. */
  def padVsPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id",
        size(filter(split($"text", " "), w => length(w) > 0))
          .cast("long").as("n_tok"))
      .localCheckpoint(true)
    val budgets = PackBudgets.toDF("budget")
    val pad = toks.crossJoin(broadcast(budgets))
      .groupBy($"budget")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("total_tok"),
        sum(expr("((n_tok + budget - 1) div budget) * budget - n_tok"))
          .as("pad_waste"))
    val shardTot = toks.groupBy(($"doc_id" % WasteShards).as("shard"))
      .agg(sum($"n_tok").as("tot"))
    val pack = shardTot.crossJoin(broadcast(budgets))
      .groupBy($"budget")
      .agg(sum(expr("((tot + budget - 1) div budget) * budget - tot"))
        .as("pack_waste"))
    pad.join(pack, "budget")
      .select($"budget", $"n_docs", $"total_tok", $"pad_waste", $"pack_waste",
        QueryUtil.halfUp($"pad_waste".cast("double")
          / ($"total_tok" + $"pad_waste"), 6).as("pad_frac"),
        QueryUtil.halfUp($"pack_waste".cast("double")
          / ($"total_tok" + $"pack_waste"), 6).as("pack_frac"))
      .orderBy($"budget")
  }

  private val padVsPackOracle = {
    val budgets = PackBudgets.mkString("(", "), (", ")")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
       |              AS BIGINT) AS n_tok
       |  FROM documents),
       |bud AS (SELECT CAST(budget AS BIGINT) AS budget
       |        FROM (VALUES $budgets) t(budget)),
       |pad AS (
       |  SELECT budget, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tok) AS BIGINT) AS total_tok,
       |         CAST(sum(((n_tok + budget - 1) // budget) * budget - n_tok)
       |              AS BIGINT) AS pad_waste
       |  FROM toks, bud GROUP BY budget),
       |st AS (SELECT doc_id % $WasteShards AS shard, CAST(sum(n_tok) AS BIGINT) AS tot
       |       FROM toks GROUP BY 1),
       |pk AS (
       |  SELECT budget,
       |         CAST(sum(((tot + budget - 1) // budget) * budget - tot)
       |              AS BIGINT) AS pack_waste
       |  FROM st, bud GROUP BY budget)
       |SELECT pad.budget, n_docs, total_tok, pad_waste, pack_waste,
       |       floor(CAST(pad_waste AS DOUBLE) / (total_tok + pad_waste)
       |             * 1000000 + 0.5) / 1000000.0 AS pad_frac,
       |       floor(CAST(pack_waste AS DOUBLE) / (total_tok + pack_waste)
       |             * 1000000 + 0.5) / 1000000.0 AS pack_frac
       |FROM pad JOIN pk ON pk.budget = pad.budget
       |ORDER BY pad.budget""".stripMargin
  }

  // ---------------------------------------------------------------- x302

  /** Contamination gram width (x237's span granularity). */
  private val ContamSpanG = 8

  /** x302: longest contaminated SPAN per training document — x51/x16
    * count shared fingerprints (how MANY grams leak); the actionable
    * decontamination metric is how LONG the longest leaked run is (a
    * 7-token overlap is phrase reuse; a 200-token run is a copied eval
    * record). Every training-doc 8-gram present anywhere in the eval
    * split (doc_id % 40 = 0) marks its covered token interval; per doc,
    * overlap-or-touch intervals merge (x237's array-local island fold)
    * and the report gives the span count, total covered tokens, and the
    * MAX single span length. Only contaminated docs emit rows.
    *
    * Scale: one gram explode + an equi-join against the (distinct,
    * much smaller) eval gram set, then per-doc array-local folds — no
    * window over the corpus, no pairwise doc join. */
  def contamSpan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val G = ContamSpanG
    // native one-pass G-grams (r16, same rewrite as x237): identical
    // in-order gram list, [] for short docs — the lambda form re-ran
    // slice+concat through the HOF interpreter per element
    val grams = Tables.documents(spark, dir).select($"doc_id",
      posexplode(call_function("token_ngrams", $"text", lit(G)))
        .as(Seq("p0", "gram")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"gram")
    val evalGrams = grams.filter($"doc_id" % 40 === 0)
      .select($"gram").distinct()
    val hits = grams.filter($"doc_id" % 40 =!= 0)
      .join(evalGrams, "gram")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"p")).as("ps"))
    val spansExpr = expr(
      s"""aggregate(ps,
         |  cast(array() as array<struct<s:int,e:int>>),
         |  (acc, p) -> CASE
         |    WHEN size(acc) = 0 OR p > element_at(acc, -1).e + 1
         |      THEN concat(acc, array(named_struct('s', p, 'e', p + ${G - 1})))
         |    ELSE concat(slice(acc, 1, size(acc) - 1),
         |           array(named_struct('s', element_at(acc, -1).s,
         |                              'e', p + ${G - 1})))
         |  END)""".stripMargin)
    hits.select($"doc_id", spansExpr.as("runs"))
      .select($"doc_id",
        size($"runs").cast("long").as("n_spans"),
        expr("aggregate(runs, 0L, (a, r) -> a + r.e - r.s + 1)").as("contam_toks"),
        expr("aggregate(runs, 0L, (a, r) -> greatest(a, CAST(r.e - r.s + 1 AS BIGINT)))")
          .as("max_span"))
      .orderBy("doc_id")
  }

  private val contamSpanOracle = {
    val G = ContamSpanG
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS p,
       |        array_to_string(toks[CAST(u.i AS INTEGER):CAST(u.i AS INTEGER) + ${G - 1}], ' ') AS gram
       |      FROM t, LATERAL unnest(range(1, greatest(len(toks) - ${G - 2}, 1))) AS u(i)
       |      WHERE len(toks) >= $G),
       |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 40 = 0),
       |dp AS (SELECT doc_id, p FROM g JOIN eg USING (gram) WHERE doc_id % 40 <> 0),
       |brk AS (SELECT doc_id, p,
       |          CASE WHEN lag(p) OVER w IS NULL
       |                 OR p > lag(p) OVER w + $G THEN 1 ELSE 0 END AS new_run
       |        FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |runs AS (SELECT doc_id, p,
       |           sum(new_run) OVER (PARTITION BY doc_id ORDER BY p
       |                              ROWS UNBOUNDED PRECEDING) AS run_id
       |         FROM brk),
       |agg AS (SELECT doc_id, run_id, min(p) AS s, max(p) + ${G - 1} AS e
       |        FROM runs GROUP BY doc_id, run_id)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(sum(e - s + 1) AS BIGINT) AS contam_toks,
       |       CAST(max(e - s + 1) AS BIGINT) AS max_span
       |FROM agg
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- x320

  /** Hash moduli for the two FIM cut points (fixed primes; splits are a
    * pure function of doc_id and length, reproducible in any engine). */
  private val FimMul1 = 2654435761L
  private val FimMod1 = 1000000007L
  private val FimMul2 = 1779033703L
  private val FimMod2 = 2147483647L

  /** x320: fill-in-the-middle span splitting — the code/infilling-model
    * data transform (Bavarian et al.: reorder each document as
    * prefix‖suffix‖middle so an autoregressive model learns infilling).
    * Two deterministic hash-derived cut points 0 ≤ c1 ≤ c2 ≤ n split
    * the text; emitted are the span lengths, the PSM-order fingerprint,
    * and the reassembly audit (prefix+middle+suffix must hash back to
    * the original — the transform is a permutation, not a lossy edit).
    *
    * Scale: map-only — no shuffle at all except the output sort;
    * per-row work is O(|text|). */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(length($"text") >= 2)
      .select($"doc_id", $"text", length($"text").cast("long").as("n"))
      .withColumn("c1", (($"doc_id" * FimMul1) % FimMod1) % ($"n" + 1L))
      .withColumn("c2",
        $"c1" + (($"doc_id" * FimMul2) % FimMod2) % ($"n" - $"c1" + 1L))
      .select($"doc_id", $"n", $"c1", $"c2",
        expr("substring(text, 1, CAST(c1 AS INT))").as("p"),
        expr("substring(text, CAST(c1 AS INT) + 1, CAST(c2 - c1 AS INT))").as("m"),
        expr("substring(text, CAST(c2 AS INT) + 1)").as("s"),
        $"text")
      .select($"doc_id", $"n", $"c1", $"c2",
        length($"p").cast("long").as("len_p"),
        length($"m").cast("long").as("len_m"),
        length($"s").cast("long").as("len_s"),
        md5(concat($"p", lit("|"), $"s", lit("|"), $"m")).as("psm_hash"),
        (md5(concat($"p", $"m", $"s")) === md5($"text")).cast("long").as("ok"))
      .orderBy($"doc_id")
  }

  private val fimSplitOracle =
    s"""WITH cuts AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
       |         ((doc_id * $FimMul1) % $FimMod1) % (CAST(length(text) AS BIGINT) + 1) AS c1
       |  FROM documents WHERE length(text) >= 2),
       |c2s AS (
       |  SELECT *, c1 + ((doc_id * $FimMul2) % $FimMod2) % (n - c1 + 1) AS c2 FROM cuts),
       |sp AS (
       |  SELECT doc_id, n, c1, c2,
       |         substring(text, 1, CAST(c1 AS INT)) AS p,
       |         substring(text, CAST(c1 AS INT) + 1, CAST(c2 - c1 AS INT)) AS m,
       |         substring(text, CAST(c2 AS INT) + 1) AS s, text
       |  FROM c2s)
       |SELECT doc_id, n, c1, c2,
       |       CAST(length(p) AS BIGINT) AS len_p,
       |       CAST(length(m) AS BIGINT) AS len_m,
       |       CAST(length(s) AS BIGINT) AS len_s,
       |       md5(p || '|' || s || '|' || m) AS psm_hash,
       |       CAST(CASE WHEN md5(p || m || s) = md5(text) THEN 1 ELSE 0 END AS BIGINT) AS ok
       |FROM sp
       |ORDER BY doc_id""".stripMargin

  /** FK-grade band the capstone-v8 readability gate keeps (trims both
    * tails of the fixture's ~0.5–8.4 grade range; endpoints are exactly
    * representable doubles and the grade itself is an identical double
    * on both engines, so the band flag is engine-deterministic). */
  private val FkLo = 3.0
  private val FkHi = 7.0

  /** x345's grade reduced to surviving doc ids — the capstone-v8 gate. */
  private[graft] def readabilityKeepIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = TextQueries.fkGrade(spark)
    TextQueries.fkCensus(spark, dir).filter(g >= FkLo && g <= FkHi).select($"doc_id")
  }

  /** Splice-ready CTE block ending in `read_keep(doc_id)` — the
    * capstone-v8 readability gate. */
  private lazy val readKeepCtes: String =
    s"""read_base AS (
       |  SELECT doc_id,
       |         0.39 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))
       |         + 11.8 * (CAST(syls AS DOUBLE) / CAST(words AS DOUBLE)) - 15.59 AS fk
       |  FROM (SELECT doc_id,
       |               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
       |               (CAST(len(string_split(text, ' ')) AS BIGINT) + ${TextQueries.SentWords - 1}) // ${TextQueries.SentWords} AS sents,
       |               CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syls
       |        FROM documents)),
       |read_keep AS (SELECT doc_id FROM read_base WHERE fk >= $FkLo AND fk <= $FkHi)""".stripMargin

  /** x371's node ring (weights equal) and the node whose removal the
    * audit replays. */
  private val HrwNodes = Seq("n0", "n1", "n2", "n3", "n4", "n5", "n6", "n7")
  private val HrwRemoved = "n3"

  /** x371: rendezvous (highest-random-weight) shard routing — the
    * shuffle-free assignment a 100 TB ingest tier uses so that adding or
    * removing a node remaps ONLY that node's keys (consistent-hashing's
    * guarantee without the ring): route(key) = argmax over nodes of
    * hash(key, node). Hash = first 8 md5 hex chars as an integer (the
    * x53 cross-engine recipe widened to 32 bits), ties broken by node
    * name. The audit routes every doc twice — full ring, then with n3
    * removed — and emits per-node loads plus moved-in counts; HRW's
    * minimal-disruption property materializes as moved_in = 0 everywhere
    * except keys that were ON the removed node (their per-node argmax
    * order among survivors is unchanged). */
  def rendezvousShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = array(HrwNodes.map(lit): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"hv".desc, $"node")
    val scored = Tables.documents(spark, dir)
      .select($"doc_id", explode(nodes).as("node"))
      .select($"doc_id", $"node",
        QueryUtil.md5Int(concat_ws("|", lit("hrw"), $"doc_id", $"node"), 8).as("hv"))
      .localCheckpoint(true) // both routings rank the same scored frame
    val full = scored.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1).select($"doc_id", $"node".as("shard_full"))
    val survivors = scored.filter($"node" =!= HrwRemoved)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1).select($"doc_id", $"node".as("shard_after"))
    full.join(survivors, "doc_id")
      .groupBy($"shard_after")
      .agg(count(lit(1)).as("load_after"),
        sum(($"shard_full" === $"shard_after").cast("long")).as("stayed"),
        sum(($"shard_full" =!= $"shard_after").cast("long")).as("moved_in"),
        sum(($"shard_full" === HrwRemoved).cast("long")).as("from_removed"))
      .select($"shard_after".as("node"), $"load_after", $"stayed",
        $"moved_in", $"from_removed")
      .orderBy("node")
  }

  private val rendezvousOracle = {
    val nodeList = HrwNodes.map(n => s"'$n'").mkString(", ")
    s"""WITH nodes AS (SELECT unnest([$nodeList]) AS node),
       |scored AS (SELECT d.doc_id, nodes.node,
       |             CAST(${QueryUtil.md5IntSql("concat_ws('|', 'hrw', CAST(d.doc_id AS VARCHAR), nodes.node)", 8)} AS BIGINT) AS hv
       |           FROM documents d CROSS JOIN nodes),
       |full_r AS (SELECT doc_id, node AS shard_full
       |           FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, node) AS rk
       |                 FROM scored) WHERE rk = 1),
       |surv AS (SELECT doc_id, node AS shard_after
       |         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, node) AS rk
       |               FROM scored WHERE node <> '$HrwRemoved') WHERE rk = 1)
       |SELECT s.shard_after AS node,
       |       CAST(count(*) AS BIGINT) AS load_after,
       |       CAST(sum(CASE WHEN f.shard_full = s.shard_after THEN 1 ELSE 0 END) AS BIGINT) AS stayed,
       |       CAST(sum(CASE WHEN f.shard_full <> s.shard_after THEN 1 ELSE 0 END) AS BIGINT) AS moved_in,
       |       CAST(sum(CASE WHEN f.shard_full = '$HrwRemoved' THEN 1 ELSE 0 END) AS BIGINT) AS from_removed
       |FROM full_r f JOIN surv s ON s.doc_id = f.doc_id
       |GROUP BY s.shard_after
       |ORDER BY node""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
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
      mixtureSample, Some(mixtureOracle)),
    QueryDef("x95_blocklist_gate",
      "corpus-derived blocklist token gating with integer-predicate drop threshold, per-source report",
      blocklistGate, Some(blocklistGateOracle)),
    QueryDef("x96_contamination_report",
      "per-source eval-contamination rates composed from the x51 winnowing gate",
      contaminationReport, Some(contaminationReportOracle)),
    QueryDef("x97_ngram_novelty",
      "per-doc globally-unique 3-gram fraction (memorization/boilerplate signal)",
      ngramNovelty, Some(ngramNoveltyOracle)),
    QueryDef("x118_clustered_kfold",
      "near-dup-aware k-fold split: folds hashed on dedup cluster id, with the naive per-doc split's measured leakage",
      clusteredKfold, Some(clusteredKfoldOracle)),
    QueryDef("x126_span_corruption",
      "T5-style span-corruption example builder: deterministic block-local spans, sentinel input/target digests",
      spanCorruption, Some(spanCorruptionOracle)),
    QueryDef("x155_token_budget_apportion",
      "largest-remainder apportionment of an exact token budget across sources: integer quotas that sum to the budget, tie-broken deterministically",
      tokenBudgetApportion, Some(tokenBudgetApportionOracle)),
    QueryDef("x165_chat_assembly",
      "chat-turn conversation assembly from event streams: role-tagged lines, order-pinned md5 digest",
      chatAssembly, Some(chatAssemblyOracle)),
    QueryDef("x176_ict_pairs",
      "Inverse Cloze Task pairs: deterministic held-out chunk as query, order-preserving slices as context, md5-pinned",
      ictPairs, Some(ictPairsOracle)),
    QueryDef("x230_pack_straddle",
      "boundary-straddle audit of the x50 packer: straddling docs, cross-boundary token mass, truncation cost — closed form per shard",
      packStraddle, Some(packStraddleOracle)),
    QueryDef("x251_doremi_mix",
      "DoReMi-lite multiplicative-weights domain mixture reweighting",
      doremiMix, Some(doremiOracle)),
    QueryDef("x252_curriculum_interleave",
      "stratified curriculum band interleave with block uniformity audit",
      curriculumInterleave, Some(curriculumOracle)),
    QueryDef("x253_unimax_alloc",
      "UniMax epoch-capped budget water-filling across sources",
      unimaxAlloc, Some(unimaxOracle)),
    QueryDef("x256_priority_sample",
      "priority sampling with per-source subset-sum estimate audit",
      prioritySample, Some(prioritySampleOracle)),
    QueryDef("x257_hrw_rebalance",
      "rendezvous-hash 16->17 shard rebalance audit vs mod-hashing",
      hrwRebalance, Some(hrwRebalanceOracle)),
    QueryDef("x298_pad_vs_pack",
      "padding-vs-packing waste sweep across sequence budgets (exact integer slot accounting)",
      padVsPack, Some(padVsPackOracle)),
    QueryDef("x302_contam_span",
      "longest contaminated span per training doc: eval-gram islands merged, max run length",
      contamSpan, Some(contamSpanOracle)),
    QueryDef("x320_fim_split",
      "fill-in-the-middle span split: hash-derived cut points, PSM fingerprint, lossless reassembly audit",
      fimSplit, Some(fimSplitOracle)),
    QueryDef("x371_rendezvous_shards",
      "rendezvous (HRW) shard routing + node-removal remap audit: only the removed node's keys move (X6/engine-ops)",
      rendezvousShards, Some(rendezvousOracle)))
}
