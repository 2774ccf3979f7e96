package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 first tier: APPLYING the learned BPE merges (r10 verdict "Next
  * round #4") — x120 ranks merge candidates; this actually runs tokenizer
  * induction end-to-end and tokenizes the corpus with the result, then
  * feeds the BPE token counts through x50/x151's sequence packer. */
object Round11Queries {

  /** Learned merge rounds — each unrolled as one vocab-local pass (the
    * x63/x35 unrolled-iterations recipe, shared with the oracle CTEs). */
  private[queries] val BpeMerges = 6

  /** Token budget per packed sequence (x50/x151's convention). */
  private val PackBudget = 512L

  /** x236: BPE merge application — full tokenizer induction + corpus
    * tokenization as ONE oracle-paired pipeline. Both engines run the
    * IDENTICAL algorithm on the identical representation: each word's
    * segmentation is the string `|s1||s2||...|`, so "merge the best pair
    * (a,b)" is literally `replace(seq, '|a||b|', '|ab|')` — `replace` is
    * left-to-right non-overlapping in both engines, which IS greedy BPE
    * merge order, and the `|...|` wrapping anchors symbol boundaries so a
    * pair can never match across symbols. Per round: adjacent-pair counts
    * weighted by word frequency (x120's quantity) → deterministic argmax
    * (count DESC, pair ASC) → one vocab-local replace. After
    * [[BpeMerges]] rounds the corpus is re-tokenized by joining the doc
    * word stream against the learned vocab segmentation, emitting per doc
    * the BPE token count, an md5 pin of the full in-order token sequence
    * (hash-match = the token STREAMS agree, not just counts), and x151's
    * packing columns (shard cursor prefix-sum, seq_id/seq_off) over the
    * BPE counts — the packer finally running on learned-tokenizer counts
    * instead of whitespace counts.
    *
    * Scale: merge learning is vocab-bounded (Heaps' law — pair counting
    * explodes symbols per VOCAB TYPE, weighted by frequency, never per
    * corpus token) with one tiny argmax per round; each round's replace
    * is one map over the vocab; the final tokenize is one corpus
    * explode + a vocab dimension join (broadcast-able at any realistic
    * vocab) + one per-doc aggregate. Each round localCheckpoints the
    * vocab so the unrolled lineage never re-executes prior rounds. */
  /** (word, wc) vocab of a docs frame with the initial char-level
    * `|s1||s2|...` segmentation. */
  private def bpeVocab(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
      .withColumn("seq", expr(
        "concat('|', array_join(transform(sequence(1, length(word)), " +
          "i -> substring(word, i, 1)), '||'), '|')"))
  }

  /** The weighted argmax pair of a vocab frame (count DESC, pair ASC),
    * with the sentinel always-losing row: when the corpus runs out of
    * pairs (every word fully merged) the round must NO-OP, not
    * cross-join against an empty argmax and erase the vocab. '' symbols
    * build the pattern '|||||', which no real seq contains. */
  private def bpeTopPair(spark: SparkSession, vocab: DataFrame): DataFrame = {
    import spark.implicits._
    val withSyms = vocab.withColumn("sy",
      expr("split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|')"))
    // guard size>1: sequence(1, n) DESCENDS for n < 1 (r7 gotcha)
    withSyms.filter(size($"sy") > 1)
      .select($"wc", explode(expr(
        "transform(sequence(1, size(sy) - 1), " +
          "i -> struct(element_at(sy, i) AS a, element_at(sy, i + 1) AS b))"))
        .as("pr"))
      .groupBy($"pr.a".as("a"), $"pr.b".as("b"))
      .agg(sum($"wc").as("n"))
      .unionByName(Seq(("", "", -1L)).toDF("a", "b", "n"))
      .orderBy($"n".desc, $"a", $"b").limit(1)
      .select($"a", $"b")
  }

  /** Apply one learned merge (a, b) to every word of a vocab frame. */
  private def bpeMerge(vocab: DataFrame, top: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    vocab.crossJoin(broadcast(top))
      .withColumn("seq", expr(
        "replace(seq, concat('|', a, '||', b, '|'), concat('|', a, b, '|'))"))
      .select(col("word"), col("wc"), col("seq"))
  }

  /** Learn [[BpeMerges]] merges on `dir`'s documents and re-tokenize: per
    * doc the BPE token count and the in-order token-stream md5 pin —
    * x236's core, package-visible so the x359 capstone can pack on LEARNED
    * token counts instead of whitespace counts. */
  private[queries] def bpeDocTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val vocab = (1 to BpeMerges).foldLeft(bpeVocab(spark, docs)) { (w0, _) =>
      val w = w0.localCheckpoint() // cut the unrolled lineage per round
      bpeMerge(w, bpeTopPair(spark, w))
    }
    val segs = vocab.select($"word",
      expr("replace(substring(seq, 2, length(seq) - 2), '||', ' ')").as("seg"),
      expr("size(split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|'))")
        .cast("long").as("n_sym"))
    docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
      .filter(length($"word") > 0)
      .join(segs, "word") // vocab dim join; broadcasts via AQE at any sane vocab
      .groupBy($"doc_id")
      .agg(sum($"n_sym").as("n_tok"),
        md5(array_join(transform(sort_array(collect_list(struct($"pos", $"seg"))),
          x => x.getField("seg")), " ")).as("toks_md5"))
  }

  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docToks = bpeDocTokenCounts(spark, dir)
    val cw = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docToks
      .withColumn("shard", $"doc_id" % 8)
      .withColumn("cum_before", coalesce(sum($"n_tok").over(cw), lit(0L)))
      .select($"doc_id", $"shard", $"n_tok", $"toks_md5", $"cum_before",
        expr(s"cum_before div $PackBudget").as("seq_id"),
        ($"cum_before" % PackBudget).as("seq_off"))
      .orderBy($"doc_id")
  }

  /** One unrolled merge round of the oracle (v$i from v${i-1}), with all
    * CTE names behind prefix `p` so the chain can embed inside a larger
    * oracle (the x359 capstone) without name collisions. */
  private def bpeRoundSql(i: Int, p: String): String = {
    val prev = s"${p}v${i - 1}"
    s"""${p}p$i AS (
       |  SELECT pr.a AS a, pr.b AS b, CAST(sum(wc) AS BIGINT) AS n
       |  FROM (SELECT wc,
       |          unnest(list_transform(generate_series(1, len(sy) - 1),
       |            i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS pr
       |        FROM (SELECT wc,
       |                string_split(substr(seq, 2, length(seq) - 2), '||') AS sy
       |              FROM $prev) s
       |        WHERE len(sy) > 1) q
       |  GROUP BY 1, 2),
       |${p}t$i AS (SELECT a, b FROM (SELECT a, b, n FROM ${p}p$i
       |                          UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
       |        ORDER BY n DESC, a, b LIMIT 1),
       |${p}v$i AS MATERIALIZED (
       |  SELECT word, wc,
       |         replace(seq, '|' || a || '||' || b || '|',
       |                 '|' || a || b || '|') AS seq
       |  FROM $prev CROSS JOIN ${p}t$i)""".stripMargin
  }

  /** The full BPE learn→apply oracle chain as CTE text (ends in
    * `${p}doc(doc_id, n_tok, toks_md5)`), name-prefixed for embedding.
    * ONE rendering shared by x236's own oracle (p = "") and the x359 capstone
    * (p = "bpe_") so the two can never drift. */
  private[queries] def bpeChainCtes(p: String): String = {
    val rounds = (1 to BpeMerges).map(bpeRoundSql(_, p)).mkString(",\n")
    s"""${p}w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |${p}v0 AS MATERIALIZED (
       |  SELECT word, wc,
       |         '|' || array_to_string(list_transform(
       |             generate_series(1, length(word)), i -> substr(word, i, 1)),
       |           '||') || '|' AS seq
       |  FROM ${p}w),
       |$rounds,
       |${p}segs AS (
       |  SELECT word,
       |         replace(substr(seq, 2, length(seq) - 2), '||', ' ') AS seg,
       |         CAST(len(string_split(substr(seq, 2, length(seq) - 2), '||'))
       |              AS BIGINT) AS n_sym
       |  FROM ${p}v$BpeMerges),
       |${p}dt AS (
       |  SELECT doc_id, u.pos AS pos, u.word AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
       |       unnest(list_transform(generate_series(1, len(tk)),
       |         i -> struct_pack(pos := i, word := tk[i]))) AS t(u)
       |  WHERE u.word <> ''),
       |${p}doc AS (
       |  SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tok,
       |         md5(string_agg(seg, ' ' ORDER BY pos)) AS toks_md5
       |  FROM ${p}dt JOIN ${p}segs USING (word)
       |  GROUP BY doc_id)""".stripMargin
  }

  private val bpeApplyOracle = {
    s"""WITH ${bpeChainCtes("")}
       |SELECT doc_id, doc_id % 8 AS shard, n_tok, toks_md5,
       |       CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8
       |              ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            AS BIGINT) AS cum_before,
       |       CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8
       |              ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            // $PackBudget AS BIGINT) AS seq_id,
       |       CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8
       |              ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            % $PackBudget AS BIGINT) AS seq_off
       |FROM doc
       |ORDER BY doc_id""".stripMargin
  }

  /** Span gram width (x135's measurement granularity — a removed run is
    * ≥ G tokens by construction). */
  private val SpanG = 8

  /** x237: exact substring-span REMOVAL — the missing half of the span
    * family (r10 verdict "Next round #7"): x135 MEASURES duplicated
    * 8-gram mass and x158 removes known cross-doc boilerplate lines; this
    * is Lee et al.'s exact-substring dedup made operational at fixed
    * G=8-token granularity: every duplicated 8-gram instance (corpus-wide
    * instance count ≥ 2, within-doc repeats included) marks its covered
    * token span; per document, overlapping/adjacent spans merge into
    * MINIMAL maximal runs (gaps-and-islands over the duplicated gram
    * start positions — x76's island recipe), and the retained text is
    * the tokens outside every run. Emits per doc the before/after token
    * mass (n_toks / n_removed / n_kept), run count, and an md5 pin of
    * the retained token stream — so the oracle proves the exact TEXT
    * each engine would keep, not just the counts.
    *
    * Island rule: duplicated start positions p (covering [p, p+G-1])
    * sorted ascending start a new run when p > prevEnd + 1 — spans that
    * overlap OR touch merge, so removed runs are minimal in number and
    * maximal in extent.
    *
    * Scale: exactly x135's audited shape (array-local gram explode, one
    * gram-count shuffle with map-side partials, one per-doc rollup) plus
    * a per-doc array fold for the islands — the fold is array-local
    * (collect_list of THIS doc's duplicated starts, bounded by doc
    * length, never corpus-sized). The retained-token rebuild tests each
    * position against the doc's merged runs (O(len · runs) worst case —
    * runs are few by construction since each needs ≥ G duplicated
    * tokens). At 100 TB the gram key would be xxhash64'd to 8 bytes
    * before the exchange, as x135 documents. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
    // native one-pass G-grams (r16): the interpreted transform() lambda
    // re-ran slice+concat per element (O(tokens·G) interpreter steps per
    // doc); token_ngrams emits the identical in-order gram list and [] for
    // short docs (the old when() guard), so posexplode positions match
    val grams = Tables.documents(spark, dir).select($"doc_id",
      posexplode(call_function("token_ngrams", $"text", lit(SpanG)))
        .as(Seq("p0", "gram")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"gram") // 1-based start pos
    val ct = grams.groupBy($"gram").agg(count(lit(1)).as("total"))
    val dupStarts = grams.join(ct.filter($"total" >= 2), "gram")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"p")).as("ps"))
    // gaps-and-islands as an array-local fold: merge covered intervals
    // [p, p+G-1]; new island when p > last.e + 1 (overlap-or-touch merges)
    val spansExpr = expr(
      s"""aggregate(ps,
         |  cast(array() as array<struct<s:int,e:int>>),
         |  (acc, p) -> CASE
         |    WHEN size(acc) = 0 OR p > element_at(acc, -1).e + 1
         |      THEN concat(acc, array(named_struct('s', p, 'e', p + ${SpanG - 1})))
         |    ELSE concat(slice(acc, 1, size(acc) - 1),
         |           array(named_struct('s', element_at(acc, -1).s,
         |                              'e', p + ${SpanG - 1})))
         |  END)""".stripMargin)
    val spans = dupStarts.select($"doc_id", spansExpr.as("runs"))
    docs.join(spans, Seq("doc_id"), "left")
      .select($"doc_id", $"toks",
        coalesce($"runs", expr("cast(array() as array<struct<s:int,e:int>>)"))
          .as("runs"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_toks"),
        size($"runs").cast("long").as("n_runs"),
        expr("aggregate(runs, 0L, (a, r) -> a + r.e - r.s + 1)").as("n_removed"),
        md5(concat_ws(" ", expr(
          """filter(transform(sequence(1, size(toks)),
            |  i -> CASE WHEN exists(runs, r -> i >= r.s AND i <= r.e)
            |            THEN NULL ELSE element_at(toks, i) END),
            |  x -> x IS NOT NULL)""".stripMargin))).as("kept_md5"))
      .withColumn("n_kept", $"n_toks" - $"n_removed")
      .select($"doc_id", $"n_toks", $"n_runs", $"n_removed", $"n_kept", $"kept_md5")
      .orderBy("doc_id")
  }

  private val spanDedupOracle = {
    val G = SpanG
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS p,
       |        array_to_string(toks[CAST(u.i AS INTEGER):CAST(u.i AS INTEGER) + ${G - 1}], ' ') AS gram
       |      FROM t, LATERAL unnest(range(1, greatest(len(toks) - ${G - 2}, 1))) AS u(i)
       |      WHERE len(toks) >= $G),
       |ct AS (SELECT gram, count(*) AS total FROM g GROUP BY gram),
       |dp AS (SELECT doc_id, p FROM g JOIN ct USING (gram) WHERE total >= 2),
       |brk AS (SELECT doc_id, p,
       |          CASE WHEN lag(p) OVER w IS NULL
       |                 OR p > lag(p) OVER w + $G THEN 1 ELSE 0 END AS b
       |        FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |isl AS (SELECT doc_id, p,
       |          sum(b) OVER (PARTITION BY doc_id ORDER BY p
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |        FROM brk),
       |runs AS (SELECT doc_id, CAST(min(p) AS INTEGER) AS s,
       |                CAST(max(p) + ${G - 1} AS INTEGER) AS e
       |         FROM isl GROUP BY doc_id, run_id),
       |rl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS runs
       |       FROM runs GROUP BY doc_id),
       |f AS (SELECT t.doc_id, t.toks,
       |        coalesce(rl.runs, CAST([] AS STRUCT(s INTEGER, e INTEGER)[])) AS runs
       |      FROM t LEFT JOIN rl ON rl.doc_id = t.doc_id)
       |SELECT doc_id,
       |       CAST(len(toks) AS BIGINT) AS n_toks,
       |       CAST(len(runs) AS BIGINT) AS n_runs,
       |       CAST(coalesce(list_sum(list_transform(runs, r -> r.e - r.s + 1)), 0)
       |            AS BIGINT) AS n_removed,
       |       CAST(len(toks) - coalesce(list_sum(list_transform(runs, r -> r.e - r.s + 1)), 0)
       |            AS BIGINT) AS n_kept,
       |       md5(coalesce(array_to_string(list_filter(
       |           list_transform(generate_series(1, len(toks)),
       |             i -> CASE WHEN len(list_filter(runs,
       |                          r -> i >= r.s AND i <= r.e)) > 0
       |                       THEN NULL ELSE toks[CAST(i AS INTEGER)] END),
       |           x -> x IS NOT NULL), ' '), '')) AS kept_md5
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  /** Neighborhood size / published depth (x213's constants). */
  private val IvfLofK = 5
  private val IvfLofTop = 20

  /** x238: IVF-LOF — the subquadratic outlier path x213's scaladoc
    * promises ("at 100 TB the kNN stage swaps for the x34 IVF candidate
    * generation while the LOF algebra downstream is unchanged"), landed
    * as its own oracle-paired operator after the r11 sf1 sweep measured
    * exact LOF's Θ(n²) compute. The x34 seed rule (`vec_id % 97 == 0`)
    * scales the centroid count WITH the corpus, so each point's
    * candidate set is its 2 probed lists ≈ 2·97 vectors regardless of n
    * — candidate volume O(n·194), LINEAR in corpus size. One
    * crossJoin+window yields BOTH the assignment (rn=1) and the probes
    * (rn≤2); kNN over candidates uses the x192 bounded top-k aggregate
    * on the 1e-6-quantized d²; reachability/lrd/LOF are exactly x213's
    * integer algebra. Points with fewer than k candidates (or neighbors
    * lacking a kdist) drop out via the inner joins — mirrored joins in
    * the oracle, so both engines agree on the defined set.
    *
    * Scale: centroids broadcast; the candidate join is an equi-join on
    * cent_id (never all-pairs); every downstream frame is O(n·k). */
  def ivfLof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        graft.operators.Similarity.norm($"embedding").as("nrm"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val cents = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv"), $"nrm".as("cn"))
    val wA = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
    val ranked = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"nrm", $"cent_id",
        (graft.operators.Similarity.dot($"embedding", $"cv") / ($"nrm" * $"cn"))
          .as("ccos"))
      .withColumn("rn", row_number().over(wA))
      .localCheckpoint(true)
    val assigned = ranked.filter($"rn" === 1)
      .select($"vec_id".as("b"), $"embedding".as("bv"), $"nrm".as("bn"),
        $"cent_id")
    val probes = ranked.filter($"rn" <= 2)
      .select($"vec_id".as("a"), $"embedding".as("av"), $"nrm".as("an"),
        $"cent_id")
    val cand = probes.join(assigned, "cent_id")
      .filter($"b" =!= $"a")
      .select($"a", $"b",
        floor(($"an" * $"an" + $"bn" * $"bn"
          - graft.operators.Similarity.dot($"av", $"bv") * 2) * 1e6 + 0.5)
          .cast("long").as("d2fp"))
    val knn = cand.groupBy($"a")
      .agg(expr(s"topk_pairs(-d2fp, b, $IvfLofK)").as("top"))
      .select($"a", posexplode($"top"))
      .select($"a", ($"pos" + 1).as("rk"), $"col.id".as("b"),
        (-$"col.v").as("d2fp"))
      .localCheckpoint(true)
    val kdistOf = knn.filter($"rk" === IvfLofK).select($"a".as("o"), $"d2fp".as("kd2"))
    val reach = knn
      .join(kdistOf.toDF("b", "kd2_b"), "b")
      .select($"a", $"b",
        expr("greatest(CAST(floor(sqrt(greatest(kd2_b, d2fp) / 1000000.0)" +
          " * 1000000 + 0.5) AS BIGINT), CAST(1 AS BIGINT))").as("rd_fp"))
    val lrd = reach.groupBy($"a")
      .agg(count(lit(1)).as("nk"), sum($"rd_fp").as("srd"))
      .select($"a", expr("nk * 1000000000000 div srd").as("lrd_fp"))
      .localCheckpoint(true)
    val lofScores = knn
      .join(lrd.toDF("b", "lrd_o"), "b")
      .groupBy($"a").agg(count(lit(1)).as("nn"), sum($"lrd_o").as("slrd"))
      .join(lrd.toDF("a", "lrd_p"), "a")
      .select($"a".as("vec_id"),
        expr("(slrd * 1000000) div (nn * lrd_p)").as("lof_fp"))
    lofScores
      .withColumn("rk", row_number().over(
        Window.orderBy($"lof_fp".desc, $"vec_id")).cast("long"))
      .filter($"rk" <= IvfLofTop)
      .select($"rk", $"vec_id", $"lof_fp")
      .orderBy($"rk")
  }

  private val ivfLofOracle = {
    val dot = SimilarityQueries.dotSql _
    s"""WITH ${SimilarityQueries.ivfSeedSql},
       |acr AS (
       |  SELECT vec_id, embedding, nrm, cent_id, ccos,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY ccos DESC, cent_id) AS rn
       |  FROM (SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
       |          ${dot("e.embedding", "c.cv")} / (e.nrm * c.cn) AS ccos
       |        FROM e CROSS JOIN c) t),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id AS b, embedding AS bv, nrm AS bn, cent_id
       |  FROM acr WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS a, embedding AS av, nrm AS an, cent_id
       |  FROM acr WHERE rn <= 2),
       |cand AS (
       |  SELECT p.a, s.b,
       |         CAST(floor((p.an * p.an + s.bn * s.bn
       |                - ${dot("p.av", "s.bv")} * 2) * 1000000 + 0.5)
       |              AS BIGINT) AS d2fp
       |  FROM probes p JOIN assigned s USING (cent_id)
       |  WHERE s.b <> p.a),
       |knn AS MATERIALIZED (
       |  SELECT a, b, d2fp, rk FROM (
       |    SELECT a, b, d2fp,
       |           row_number() OVER (PARTITION BY a ORDER BY d2fp, b) AS rk
       |    FROM cand) t
       |  WHERE rk <= $IvfLofK),
       |kdist_of AS MATERIALIZED (
       |  SELECT a AS o, d2fp AS kd2 FROM knn WHERE rk = $IvfLofK),
       |reach AS (
       |  SELECT k.a, k.b,
       |         greatest(CAST(floor(sqrt(greatest(kd.kd2, k.d2fp) / 1000000.0)
       |              * 1000000 + 0.5) AS BIGINT), 1) AS rd_fp
       |  FROM knn k JOIN kdist_of kd ON kd.o = k.b),
       |lrd AS MATERIALIZED (
       |  SELECT a, CAST(count(*) * 1000000000000 // sum(rd_fp) AS BIGINT)
       |           AS lrd_fp
       |  FROM reach GROUP BY a),
       |scores AS (
       |  SELECT k.a AS vec_id,
       |         CAST(sum(lo.lrd_fp) * 1000000 // (count(*) * max(lp.lrd_fp))
       |              AS BIGINT) AS lof_fp
       |  FROM knn k
       |  JOIN lrd lo ON lo.a = k.b
       |  JOIN lrd lp ON lp.a = k.a
       |  GROUP BY k.a)
       |SELECT rk, vec_id, lof_fp FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY lof_fp DESC, vec_id)
       |              AS BIGINT) AS rk, vec_id, lof_fp
       |  FROM scores) t
       |WHERE rk <= $IvfLofTop
       |ORDER BY rk""".stripMargin
  }

  /** Chronological slice cuts over the fixture's January event window
    * (x207's convention) and the duplicate-tail width: the last day of
    * each slice re-arrives in the NEXT file. */
  private val DedupCuts = Seq(1704800000L, 1705800000L)
  private val DupTailSec = 86400L

  /** x239: `dropDuplicatesWithinWatermark` parity — the BOUNDED-state
    * production counterpart of x145 (whose dedup state never evicts, fine
    * for a parity proof, fatal at 100 TB/day). Three chronological file
    * slices are replayed with REAL duplicate arrivals: each slice
    * contains a bit-identical copy of its own last day (same-micro-batch
    * dups) and of the PREVIOUS slice's last day (cross-batch dups). The
    * 2-day watermark is wider than any dup's lag behind stream progress,
    * so every id needed for the drop is still in state when its
    * duplicate arrives, while ids older than watermark−delay are
    * evictable — state is bounded by the event-time window, not corpus
    * history. The appended emissions must equal the duplicate-free
    * batch aggregate; n == n_ids per type proves no dup survived.
    *
    * Scale: this is THE streaming dedup deployment shape — state
    * O(ids per watermark window), each trigger shuffles only its own
    * rows to the state partitioning. */
  def boundedDedupParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_x239").toString
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        date_trunc("second", $"ts").as("ts"),
        expr("unix_timestamp(cast(date_trunc('second', ts) as timestamp))")
          .cast("long").as("sec"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    val bounds = (Long.MinValue +: DedupCuts) zip (DedupCuts :+ Long.MaxValue)
    val frames = bounds.zipWithIndex.map { case ((lo, hi), i) =>
      val slice = ev.filter($"sec" >= lo && $"sec" < hi)
      val sameBatchDup =
        if (hi == Long.MaxValue) slice.limit(0)
        else slice.filter($"sec" >= hi - DupTailSec)
      val crossBatchDup =
        if (i == 0) slice.limit(0)
        else ev.filter($"sec" >= lo - DupTailSec && $"sec" < lo)
      slice.unionByName(sameBatchDup).unionByName(crossBatchDup).drop("sec")
    }
    QueryUtil.stageFrames(frames, s"$base/src")
    val deduped = spark.readStream.schema(frames.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("event_id")
    val emitted = QueryUtil.withStreamShuffle(spark) {
      QueryUtil.stageStream(spark, deduped, base, "append")
    }
    QueryUtil.deleteRecursively(base)
    emitted.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"event_id").as("n_ids"),
        sum($"cents").as("cents"))
      .orderBy("event_type")
  }

  private val boundedDedupParityOracle =
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** The held-out source for x240 (trained on every OTHER source). */
  private val HoldoutSource = "src0"

  /** x240: held-out tokenizer fertility — the missing EVAL half of
    * tokenizer induction: merges learned on the TRAINING split only
    * (every source except [[HoldoutSource]]) are applied — apply-only,
    * no pair counting — to the held-out split, and the published panel
    * compares fertility (BPE tokens per word) and compression (chars
    * per token) across splits. A tokenizer that only memorized its
    * training corpus shows a held-out fertility gap; this is the
    * standard generalization check before freezing a vocab. The learn
    * fold reuses x236's helpers; each round's argmax comes from the
    * train vocab and the SAME merge is applied to both vocabs, exactly
    * like production tokenizer deployment.
    *
    * Scale: identical to x236 (vocab-bounded learning, one corpus-scale
    * word count per split); the held-out application adds one
    * vocab-local replace per round. */
  def bpeHoldout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val train0 = bpeVocab(spark, docs.filter($"source" =!= HoldoutSource))
    val held0 = bpeVocab(spark, docs.filter($"source" === HoldoutSource))
    val (trainN, heldN) = (1 to BpeMerges).foldLeft((train0, held0)) {
      case ((tr0, he0), _) =>
        val tr = tr0.localCheckpoint()
        val he = he0.localCheckpoint()
        val top = bpeTopPair(spark, tr).localCheckpoint() // learned on TRAIN only
        (bpeMerge(tr, top), bpeMerge(he, top))
    }
    def panel(vocab: DataFrame, split: String): DataFrame =
      vocab.select($"wc", length($"word").cast("long").as("n_chars"),
        expr("size(split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|'))")
          .cast("long").as("n_sym"))
        .agg(sum($"wc").as("n_words"),
          sum($"wc" * $"n_sym").as("n_tokens"),
          sum($"wc" * $"n_chars").as("n_chars"))
        .select(lit(split).as("split"), $"n_words", $"n_tokens", $"n_chars",
          QueryUtil.halfUp4($"n_tokens".cast("double") / $"n_words".cast("double"))
            .as("fertility"),
          QueryUtil.halfUp4($"n_chars".cast("double") / $"n_tokens".cast("double"))
            .as("chars_per_token"))
    panel(trainN, "train").unionByName(panel(heldN, "heldout"))
      .orderBy("split")
  }

  /** Apply-only oracle round: train learns (p/t CTEs from the TRAIN
    * vocab), and the SAME t$i merges both vocabs. */
  private def bpeHoldoutRoundSql(i: Int): String = {
    val prevT = s"vt${i - 1}"
    val prevH = s"vh${i - 1}"
    s"""p$i AS (
       |  SELECT pr.a AS a, pr.b AS b, CAST(sum(wc) AS BIGINT) AS n
       |  FROM (SELECT wc,
       |          unnest(list_transform(generate_series(1, len(sy) - 1),
       |            i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS pr
       |        FROM (SELECT wc,
       |                string_split(substr(seq, 2, length(seq) - 2), '||') AS sy
       |              FROM $prevT) s
       |        WHERE len(sy) > 1) q
       |  GROUP BY 1, 2),
       |t$i AS (SELECT a, b FROM (SELECT a, b, n FROM p$i
       |                          UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
       |        ORDER BY n DESC, a, b LIMIT 1),
       |vt$i AS MATERIALIZED (
       |  SELECT word, wc, replace(seq, '|' || a || '||' || b || '|',
       |                           '|' || a || b || '|') AS seq
       |  FROM $prevT CROSS JOIN t$i),
       |vh$i AS MATERIALIZED (
       |  SELECT word, wc, replace(seq, '|' || a || '||' || b || '|',
       |                           '|' || a || b || '|') AS seq
       |  FROM $prevH CROSS JOIN t$i)""".stripMargin
  }

  private val bpeHoldoutOracle = {
    val rounds = (1 to BpeMerges).map(bpeHoldoutRoundSql).mkString(",\n")
    def vocabSql(name: String, filt: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT word, wc,
         |         '|' || array_to_string(list_transform(
         |             generate_series(1, length(word)), i -> substr(word, i, 1)),
         |           '||') || '|' AS seq
         |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS wc
         |        FROM (SELECT unnest(string_split(text, ' ')) AS word
         |              FROM documents WHERE $filt)
         |        WHERE word <> '' GROUP BY word))""".stripMargin
    def panelSql(vocab: String, split: String) =
      s"""SELECT '$split' AS split,
         |       CAST(sum(wc) AS BIGINT) AS n_words,
         |       CAST(sum(wc * n_sym) AS BIGINT) AS n_tokens,
         |       CAST(sum(wc * n_chars) AS BIGINT) AS n_chars,
         |       floor((CAST(sum(wc * n_sym) AS DOUBLE) / CAST(sum(wc) AS DOUBLE))
         |             * 10000 + 0.5) / 10000.0 AS fertility,
         |       floor((CAST(sum(wc * n_chars) AS DOUBLE)
         |              / CAST(sum(wc * n_sym) AS DOUBLE)) * 10000 + 0.5) / 10000.0
         |         AS chars_per_token
         |FROM (SELECT wc, CAST(length(word) AS BIGINT) AS n_chars,
         |        CAST(len(string_split(substr(seq, 2, length(seq) - 2), '||'))
         |             AS BIGINT) AS n_sym
         |      FROM $vocab) v""".stripMargin
    s"""WITH ${vocabSql("vt0", s"source <> '$HoldoutSource'")},
       |${vocabSql("vh0", s"source = '$HoldoutSource'")},
       |$rounds
       |SELECT * FROM (
       |${panelSql(s"vt$BpeMerges", "train")}
       |UNION ALL
       |${panelSql(s"vh$BpeMerges", "heldout")}) u
       |ORDER BY split""".stripMargin
  }

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x236_bpe_apply",
      "BPE tokenizer induction APPLIED: 6 unrolled learn-merge rounds over the weighted vocab, corpus re-tokenized, token-stream md5 pins + x151 packing on BPE counts",
      bpeApply, Some(bpeApplyOracle)),
    QueryDef("x237_span_dedup",
      "exact substring-span removal (Lee et al. at G=8): duplicated-gram islands merged to minimal runs, per-doc token-mass audit + retained-text md5",
      spanDedup, Some(spanDedupOracle)),
    QueryDef("x238_ivf_lof",
      "IVF-LOF: subquadratic outlier scoring — x34 seed quantizer candidates (O(n·194), linear in corpus) through x213's integer LOF algebra",
      ivfLof, Some(ivfLofOracle)),
    QueryDef("x239_bounded_dedup_parity",
      "dropDuplicatesWithinWatermark parity: real same-batch + cross-batch duplicate arrivals through bounded watermark state == duplicate-free batch aggregate",
      boundedDedupParity, Some(boundedDedupParityOracle)),
    QueryDef("x240_bpe_holdout",
      "held-out tokenizer fertility: merges learned on train sources only, apply-only on the held-out source; fertility + chars/token panel per split",
      bpeHoldout, Some(bpeHoldoutOracle)))
}
