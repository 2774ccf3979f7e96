package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level deduplication operators for the LLM-data-pipeline surface
  * (north star X1/X2): exact content-hash dedup, MinHash+LSH near-dup
  * candidate generation, SimHash bucketing, and n-gram Jaccard verification.
  *
  * All signatures/bands are built from md5 (built-in, codegen'd, and exactly
  * reproducible in the DuckDB oracle). Hash-function family j is
  * `md5(j || ':' || shingle)`; the MinHash is the lexicographic min of the
  * hex digests — a valid min-wise permutation family because md5 is uniform
  * on hex strings.
  *
  * Scale (100 TB): signatures/bands are per-row narrow work. The only
  * shuffles are the band-bucket exchange (keyed on (band, bandHash) — small,
  * high-cardinality keys) and the candidate-pair verify join. Giant buckets
  * (degenerate content) should be capped with a per-bucket count filter
  * before the self-join — `lshCandidates` takes `maxBucket` for exactly that.
  */
object Dedup {

  /** Skew guard: LSH band buckets larger than this are dropped (a bucket of
    * m docs contributes m² candidate pairs). Shared with the DuckDB oracle
    * SQL so implementation and oracle can't silently diverge. */
  val DefaultMaxBucket = 1000

  /** Candidate near-dup pairs (a < b on `idCol`) from banded MinHash: docs
    * sharing any band bucket. Signature + band hashes come from the native
    * one-pass `minhash_bands` (band b = md5(mh[b*r] || '|' || ...)).
    * Buckets larger than `maxBucket` are dropped (skew guard — a degenerate
    * bucket of size m contributes m² pairs). */
  def lshCandidates(df: DataFrame, idCol: String, shinglesCol: String,
                    numHashes: Int, rowsPerBand: Int,
                    maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandSelfJoin(df.select(
      col(idCol),
      posexplode(call_function("minhash_bands",
        col(shinglesCol), lit(numHashes), lit(rowsPerBand))).as(Seq("band", "bh"))),
      idCol, maxBucket)

  /** lshCandidates over LONG-packed element sets (see charNgramLongs):
    * multiplicative LongMinHash family instead of md5 — a handful of
    * integer multiplies per (element, hash) and exactly reproducible in the
    * oracle with arithmetic SQL. Same banding/skew-cap semantics. */
  def lshCandidatesLong(df: DataFrame, idCol: String, elemsCol: String,
                        numHashes: Int, rowsPerBand: Int,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandSelfJoin(df.select(
      col(idCol),
      posexplode(call_function("long_minhash_bands",
        col(elemsCol), lit(numHashes), lit(rowsPerBand))).as(Seq("band", "bh"))),
      idCol, maxBucket)

  /** Skew guard shared by every bucket self-join: drop rows whose bucket
    * (the given partition columns) holds more than `maxBucket` rows — a
    * bucket of m rows contributes m² candidate pairs. Oracles mirror this
    * with the identical `count(*) OVER (PARTITION BY ...)` filter. */
  private[graft] def capBuckets(df: DataFrame, bucketCols: Seq[String],
                                maxBucket: Int): DataFrame =
    df.withColumn("__bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(bucketCols.map(col): _*)))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")

  /** Shared tail of the LSH pipelines: cap giant buckets (skew guard),
    * self-join per (band, bh), emit distinct (a < b) candidate pairs.
    * `banded` must have columns (idCol, band, bh). */
  private[graft] def bandSelfJoin(banded: DataFrame, idCol: String, maxBucket: Int): DataFrame = {
    val pruned = capBuckets(banded, Seq("band", "bh"), maxBucket)
    val l = pruned.select(col(idCol).as("a"), col("band"), col("bh"))
    val r = pruned.select(col(idCol).as("b"), col("band"), col("bh"))
    l.join(r, Seq("band", "bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Jaccard similarity of two pre-distinct array columns, as double.
    * |A∩B| / (|A| + |B| − |A∩B|) — the subtraction form matches the oracle,
    * which counts the intersection with list_filter/list_contains. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Jaccard over SORTED-distinct arrays via the native merge-walk
    * intersection count — same value as [[jaccard]], O(n+m) with no
    * per-pair hash set. Use on candidate-pair joins (the hot path). */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = call_function("sorted_intersect_count", a, b).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Jaccard over SORTED long-packed arrays (see charNgramLongs): primitive
    * merge walk, no per-element allocation — the hot-path form for n-gram
    * pair joins. Same value as jaccard/jaccardSorted under any bijective
    * packing. */
  def jaccardSortedLong(a: Column, b: Column): Column = {
    val inter = call_function("sorted_long_intersect_count", a, b).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** SimHash over a (distinct) token array: `bits`-wide sign-of-sums
    * signature rendered as a '0'/'1' string (string form keeps exact DuckDB
    * parity — no cross-engine integer-width concerns). Bit p of a token is
    * bit (3 - p%4) of hex nibble p/4 of md5(token). Native one-pass
    * expression (graft.functions.SimHashBits) — one md5 per token instead
    * of `bits` interpreted aggregate lambdas each re-hashing every token. */
  def simhashBits(toks: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 128, "md5 provides at most 128 signature bits")
    call_function("simhash_bits", toks, lit(bits))
  }
}
