package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Content-defined chunking (the rsync/LBFS/backup-dedup boundary rule):
  * cut positions are decided by a rolling window hash of the CONTENT, so an
  * edit early in a document shifts only the chunk it lands in — fixed-width
  * chunking re-aligns every later chunk (PropertySpec proves both halves:
  * reassembly identity and shift-robust hash sharing vs the fixed-width
  * counterfactual).
  *
  * Pure `Column` builders (array-local per row, zero shuffle) shared by
  * `x122_cdc_chunks` and the specs, so the property-tested expression IS
  * the registered query's expression. Arguments are column NAMES (the
  * lambda forms have no stable Column API, so the expressions are SQL
  * strings); a miswired name fails analysis loudly.
  */
object Cdc {

  /** Window width of the boundary hash. */
  val W = 8

  /** Boundary divisor: a position cuts when the 16-bit window hash ≡ 0
    * mod [[Div]]; 64 divides 2^16, so the cut probability is exactly 1/64
    * (no modulo bias) and the expected chunk is ≈ [[Div]]+[[W]] chars. */
  val Div = 64L

  /** Chunk start positions (1-based, ascending, starts with 1): position
    * i+[[W]] starts a new chunk when the [[W]]-char window at i hashes to
    * a boundary (16-bit md5 prefix ≡ 0 mod [[Div]]). Callers with
    * multi-reference consumers should fence the result (x122 does). */
  def chunkStarts(text: String, len: String): Column =
    expr(
      s"""concat(array(1),
         |  filter(transform(sequence(1, greatest($len - ${W - 1}, 1)),
         |    i -> IF(CAST(conv(substring(md5(substring($text, i, $W)), 1, 4), 16, 10) AS BIGINT) % $Div = 0
         |            AND i + $W <= $len, i + $W, CAST(NULL AS INT))),
         |  x -> x IS NOT NULL))""".stripMargin)

  /** The chunk substrings given `starts` (from [[chunkStarts]]) — the k-th
    * chunk spans [starts[k], next start). Concatenating the result in
    * order reassembles the text exactly (property-tested). */
  def chunkTexts(text: String, starts: String, len: String): Column =
    expr(
      s"""transform(sequence(1, size($starts)), k ->
         |  substring($text, element_at($starts, k),
         |    IF(k < size($starts), element_at($starts, k + 1), $len + 1)
         |      - element_at($starts, k)))""".stripMargin)
}
