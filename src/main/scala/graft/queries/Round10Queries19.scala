package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 nineteenth tier: topic segmentation (TextTiling's block-cosine
  * cut detection in exact integer arithmetic) and Inverse-Cloze-Task
  * training pairs (the retrieval-pretraining example builder). */
object Round10Queries19 {

  /** x175 window width (tokens). */
  private val SegW = 16

  /** x175: topic segmentation — TextTiling's core (Hearst 1997): cut a
    * document where adjacent fixed-width token windows stop looking
    * alike. Window similarity is the bag-of-words cosine, and the cut
    * decision cos < 0.5 is the cross-multiplied EXACT-integer predicate
    * 4·dot² < ‖a‖²·‖b‖² — counts are integers, so no sqrt, no float
    * threshold, no drift. Adjacent windows sharing no token (dot = 0)
    * cut by definition; the per-doc output pins the ordered cut set with
    * an md5 (the x75 scene-cut convention, applied to text).
    *
    * Scale: window token counts are one explode + count keyed on
    * (doc, win, tok); the adjacent-window dot is an equi-join on
    * (doc, tok, win+1) — everything stays keyed by doc_id, no
    * corpus-wide stage at all. */
  def topicSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tc = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), floor((size($"toks") - 1) / lit(SegW)).cast("int"))).as("w"))
      .select($"doc_id", $"w",
        explode(slice($"toks", $"w" * SegW + 1, lit(SegW))).as("tok"))
      .groupBy($"doc_id", $"w", $"tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // norms + both dot sides
    val norm = tc.groupBy($"doc_id", $"w").agg(sum($"cnt" * $"cnt").as("nn"))
    val dots = tc.select($"doc_id", $"w", $"tok", $"cnt")
      .join(tc.select($"doc_id", ($"w" - 1).as("w"), $"tok", $"cnt".as("cnt_b")),
        Seq("doc_id", "w", "tok"))
      .groupBy($"doc_id", $"w")
      .agg(sum($"cnt" * $"cnt_b").as("dot"))
    val spine = norm.select($"doc_id", $"w", $"nn")
      .join(norm.select($"doc_id", ($"w" - 1).as("w"), $"nn".as("nn_b")),
        Seq("doc_id", "w"))
      .join(dots, Seq("doc_id", "w"), "left")
      .na.fill(0L, Seq("dot"))
      // label the cut with the RIGHT window index (the window the new
      // topic starts at — and the oracle's n2.w)
      .select($"doc_id", ($"w" + 1).as("w"),
        (lit(4) * $"dot" * $"dot" < $"nn" * $"nn_b").cast("int").as("cut"))
    spine.groupBy($"doc_id")
      .agg((count(lit(1)) + 1).cast("int").as("n_windows"),
        sum($"cut").cast("int").as("n_cuts"),
        md5(coalesce(array_join(
          transform(sort_array(collect_list(when($"cut" === 1, struct($"w")))),
            s => s.getField("w").cast("string")), ","), lit(""))).as("cuts_md5"))
      .orderBy("doc_id")
  }

  private val topicSegmentsOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, toks, unnest(range(0, ((len(toks) - 1) // $SegW) + 1)) AS w FROM t),
       |tok AS (SELECT doc_id, w, unnest(list_slice(toks, w * $SegW + 1, w * $SegW + $SegW)) AS tok
       |        FROM e),
       |tc AS MATERIALIZED (
       |  SELECT doc_id, w, tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2, 3),
       |nrm AS MATERIALIZED (
       |  SELECT doc_id, w, CAST(sum(cnt * cnt) AS BIGINT) AS nn FROM tc GROUP BY 1, 2),
       |dots AS (
       |  SELECT a.doc_id, b.w AS w, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
       |  FROM tc a JOIN tc b
       |    ON a.doc_id = b.doc_id AND a.tok = b.tok AND b.w = a.w + 1
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT n1.doc_id, n2.w,
       |         CAST(4 * coalesce(d.dot, 0) * coalesce(d.dot, 0)
       |              < n1.nn * n2.nn AS INTEGER) AS cut
       |  FROM nrm n1
       |  JOIN nrm n2 ON n1.doc_id = n2.doc_id AND n2.w = n1.w + 1
       |  LEFT JOIN dots d ON d.doc_id = n2.doc_id AND d.w = n2.w)
       |SELECT doc_id,
       |       CAST(count(*) + 1 AS INTEGER) AS n_windows,
       |       CAST(sum(cut) AS INTEGER) AS n_cuts,
       |       md5(coalesce(string_agg(CASE WHEN cut = 1 THEN CAST(w AS VARCHAR) END,
       |                               ',' ORDER BY w), '')) AS cuts_md5
       |FROM spine
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

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
        (conv(substring(md5(concat(lit("ict|"), $"doc_id")), 1, 4), 16, 10)
          .cast("long") % size($"ch")).cast("int").as("qi"))
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

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("x175_topic_segments",
      "TextTiling topic cuts: adjacent-window bag cosine < 0.5 decided by the exact integer 4*dot^2 < n1*n2 predicate",
      topicSegments, Some(topicSegmentsOracle)),
    QueryDef("x176_ict_pairs",
      "Inverse Cloze Task pairs: deterministic held-out chunk as query, order-preserving slices as context, md5-pinned",
      ictPairs, Some(ictPairsOracle)))
}
