package graft

import graft.operators.Cdc.Div
import graft.operators.Etl
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Plain built-in-expression references that specs compare the engine's
  * operators against. No query uses them. */
object ReferenceImpls {

  /** Distinct character k-grams as sorted strings: the reference for
    * `TextAnalysis.charNgramLongs`' packed-long grams. */
  def charNgrams(text: Column, k: Int): Column =
    array_sort(array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => substr(text, i, lit(k)))))

  /** Fixed-width counterfactual for the shift-robustness property: chunks
    * of exactly `Cdc.Div` chars at fixed offsets (what x55-style chunking
    * does to raw text). */
  def fixedChunkTexts(text: String, len: String): Column =
    expr(
      s"""transform(sequence(1, CAST(ceil(CAST($len AS DOUBLE) / $Div) AS INT)), k ->
         |  substring($text, (k - 1) * $Div + 1, $Div))""".stripMargin)

  /** Page envelope schema (salesforce_extractor.py:268,:291,:345 and
    * FIXTURES.md "Reference-shape fixtures"). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("count", LongType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("keys", StructType(Seq(
        StructField("lead_id", StringType),
        StructField("url", StringType),
        StructField("session_id", StringType),
        StructField("order", StringType)))),
      StructField("values", StructType(Seq(
        StructField("type_id", StringType),
        StructField("event_category", StringType),
        StructField("event_name", StringType),
        StructField("date", StringType))))))))))

  /** Envelope JSON → flattened lead-activity rows through Spark's own JSON
    * parser (`from_json` FAILFAST + `explode`): the reference for
    * `PaginatedSource.flattenPages` over the graft-pages scan. Reads the
    * `value` column of a string Dataset of page bodies. */
  def flattenEnvelopes(pages: Dataset[_]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(from_json($"value", envelopeSchema, Map("mode" -> "FAILFAST")).as("page"))
      .select(explode($"page.items").as("item"))
      .select(
        Etl.emptyStringDefault($"item.keys.lead_id").as("lead_id"),
        Etl.emptyStringDefault($"item.keys.url").as("url"),
        Etl.emptyStringDefault($"item.keys.session_id").as("session_id"),
        Etl.emptyStringDefault($"item.keys.order").as("order"),
        Etl.parseSfmcDate($"item.values.date").as("date"),
        Etl.emptyStringDefault($"item.values.type_id").as("type_id"),
        Etl.emptyStringDefault($"item.values.event_category").as("event_category"),
        Etl.cleanEventName(Etl.emptyStringDefault($"item.values.event_name")).as("event_name"),
        Etl.contentHash(
          $"item.keys.lead_id", $"item.keys.url", $"item.keys.session_id", $"item.keys.order",
          $"item.values.type_id", $"item.values.event_category", $"item.values.event_name",
          $"item.values.date").as("hash"))
  }
}
