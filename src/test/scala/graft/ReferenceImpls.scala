package graft

import graft.operators.Cdc.Div
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

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
}
