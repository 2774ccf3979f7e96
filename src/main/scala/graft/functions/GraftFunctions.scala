package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot inner loops of the similarity /
  * dedup operators. The built-in higher-order functions (`zip_with` +
  * `aggregate`, `array_intersect`) are interpreted per element — on
  * millions of candidate pairs that dominates the whole bench (60s+49s of a
  * 144s sf0.1 run before these existed). Each expression here keeps the
  * exact semantics of the declarative formula it replaces (same fold order,
  * same hash inputs) so the DuckDB oracles are unchanged.
  *
  * Registered by name via [[GraftFunctions.register]]; call sites use
  * `call_function` — no SQL-text round trip, normal Catalyst resolution.
  */

/** `vec_dot(array<float>, array<float>) -> double`: element-wise
  * double-cast product, sequential left-to-right sum — bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` and to
  * the oracle's `list_sum(list_transform(...))`. Null element or length
  * mismatch → null (fold-with-null poisoning). Whole-stage codegen'd:
  * the loop runs over primitive floats with no per-element allocation. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n$$ = $a.numElements();
         |if (n$$ != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double acc$$ = 0.0;
         |  boolean anyNull$$ = false;
         |  for (int i$$ = 0; i$$ < n$$; i$$++) {
         |    if ($a.isNullAt(i$$) || $b.isNullAt(i$$)) { anyNull$$ = true; break; }
         |    acc$$ += ((double) $a.getFloat(i$$)) * ((double) $b.getFloat(i$$));
         |  }
         |  if (anyNull$$) { ${ev.isNull} = true; } else { ${ev.value} = acc$$; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sorted_intersect_count(array<string>, array<string>) -> int`: merge-walk
  * intersection count over two SORTED-DISTINCT string arrays — equals
  * `size(array_intersect(a, b))` (and the oracle's
  * `len(list_filter(a, s -> list_contains(b, s)))`) but O(n+m) with zero
  * allocation instead of a per-pair hash set. Callers sort with
  * `array_sort(array_distinct(...))`, whose ordering is UTF8String binary
  * order — the same comparison used here. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int i$$ = 0, j$$ = 0, c$$ = 0;
         |int n$$ = $a.numElements(), m$$ = $b.numElements();
         |while (i$$ < n$$ && j$$ < m$$) {
         |  int cmp$$ = $a.getUTF8String(i$$).compareTo($b.getUTF8String(j$$));
         |  if (cmp$$ == 0) { c$$++; i$$++; j$$++; }
         |  else if (cmp$$ < 0) { i$$++; } else { j$$++; }
         |}
         |${ev.value} = c$$;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sorted_long_intersect_count(array<bigint>, array<bigint>) -> int`:
  * merge-walk intersection count over two SORTED long arrays — for set
  * elements that have been bijectively packed into longs (e.g. ≤3 UTF-16
  * chars), where the string merge-walk would spend its time allocating
  * UTF8String wrappers. Count-identical to the string version under any
  * bijective encoding. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_long_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int i$$ = 0, j$$ = 0, c$$ = 0;
         |int n$$ = $a.numElements(), m$$ = $b.numElements();
         |while (i$$ < n$$ && j$$ < m$$) {
         |  long u$$ = $a.getLong(i$$); long v$$ = $b.getLong(j$$);
         |  if (u$$ == v$$) { c$$++; i$$++; j$$++; }
         |  else if (u$$ < v$$) { i$$++; } else { j$$++; }
         |}
         |${ev.value} = c$$;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `simhash_bits(array<string>, bits) -> string`: `bits`-wide (≤ 128)
  * SimHash over a token array in ONE pass — one md5 per token instead of
  * `bits` interpreted `aggregate` lambdas each re-hashing every token. Bit
  * p of a token is bit `3 - p%4` of hex nibble `p/4` of `md5(token)`; the
  * signature is the '0'/'1' string of sign(sum ±1) — identical to the
  * oracle's generated strpos-based SQL. Row-level work (docs, not pairs)
  * → CodegenFallback is fine; the inner loop is tight JVM code. */
case class SimHashBits(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash_bits"

  private lazy val bits: Int = right.eval(null).asInstanceOf[Int]

  override protected def nullSafeEval(input: Any, bitsAny: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Int](bits)
    var t = 0
    val n = toks.numElements()
    while (t < n) {
      if (!toks.isNullAt(t)) {
        val digest = md.digest(toks.getUTF8String(t).getBytes)
        var p = 0
        while (p < bits) {
          val nibble = (digest(p / 4 / 2) >> (if ((p / 4) % 2 == 0) 4 else 0)) & 0xf
          val bit = (nibble >> (3 - p % 4)) & 1
          sums(p) += (if (bit == 1) 1 else -1)
          p += 1
        }
        md.reset()
      }
      t += 1
    }
    UTF8String.fromString(sums.map(s => if (s > 0) '1' else '0').mkString)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Shared lowercase-hex rendering for the md5-based expressions — one
  * definition so an encoding fix can't silently miss a sibling. */
private[functions] object Hex {
  private val chars = "0123456789abcdef".toCharArray
  def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = chars((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = chars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

/** The md5 minhash signature shared by `minhash_sig` and `minhash_bands`. */
object MinHashSig {
  /** `"<j>:"` prefixes, encoded once: per (shingle, j) the digest gets two
    * byte chunks instead of a freshly built and encoded string. */
  def prefixes(k: Int): Array[Array[Byte]] =
    (0 until k).map(j => s"$j:".getBytes("UTF-8")).toArray

  /** For each j, the lexicographic-min md5 hex of `"<j>:<shingle>"` over
    * the non-null shingles; null where there are none. */
  def mins(shingles: ArrayData, prefixes: Array[Array[Byte]],
           md: java.security.MessageDigest): Array[String] = {
    val k = prefixes.length
    val mins = Array.fill[String](k)(null)
    var s = 0
    val n = shingles.numElements()
    while (s < n) {
      if (!shingles.isNullAt(s)) {
        val shBytes = shingles.getUTF8String(s).getBytes
        var j = 0
        while (j < k) {
          md.update(prefixes(j))
          md.update(shBytes)
          val hex = Hex.toHex(md.digest())
          if (mins(j) == null || hex < mins(j)) mins(j) = hex
          j += 1
        }
      }
      s += 1
    }
    mins
  }
}

/** `minhash_sig(array<string>, k) -> array<string>`: k lexicographic-min
  * md5 hex digests of `"<j>:<shingle>"` in one pass over the shingle array —
  * same family as `array_min(transform(shingles, s -> md5(concat(j, ':',
  * s))))` per j, without k interpreted lambda sweeps. */
case class MinHashSig(child: Expression, numHashes: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = numHashes
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def foldable: Boolean = children.forall(_.foldable)

  private lazy val k: Int = numHashes.eval(null).asInstanceOf[Int]

  private lazy val prefixes: Array[Array[Byte]] = MinHashSig.prefixes(k)

  override protected def nullSafeEval(input: Any, kAny: Any): Any = {
    val shingles = input.asInstanceOf[ArrayData]
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = MinHashSig.mins(shingles, prefixes, md)
    new GenericArrayData(mins.map(m => UTF8String.fromString(if (m == null) "" else m)))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, numHashes = r)
}

/** `char_ngram_longs(string, k) -> array<bigint>`: sorted-distinct character
  * k-grams (1 <= k <= 4) bijectively packed into longs (base-65536
  * big-endian over full UTF-16 code units, absent chars -> 0; at k = 4 a
  * first char >= U+8000 sets the sign bit, so the sorted order is
  * signed-long order, not lexicographic gram order — sets and intersection
  * counts are unaffected) — the whole pipeline
  * (positions, pack, sort, dedupe) in one JVM pass. The declarative
  * transform+array_sort form pays an interpreted lambda comparator per
  * element comparison (~5k per doc), which dominated the n-gram join.
  * 16-bit packing keeps the encoding bijective for ALL BMP text (the
  * earlier 8-bit variant silently collided distinct CJK chars equal mod
  * 256); count semantics identical to the string-gram version for BMP
  * input (astral chars occupy two UTF-16 units and would diverge from a
  * code-point oracle — not present in the fixtures). */
case class CharNgramLongs(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_ngram_longs"

  override protected def nullSafeEval(text: Any, kAny: Any): Any = {
    val t = text.asInstanceOf[UTF8String].toString
    val k = kAny.asInstanceOf[Int]
    // 4 × 16-bit units fill the long exactly; k=5 would silently truncate
    require(k >= 1 && k <= 4, s"char_ngram_longs supports 1 <= k <= 4, got $k")
    val n = math.max(t.length - (k - 1), 1)
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) {
      var v = 0L
      var o = 0
      while (o < k) {
        val c = if (i + o < t.length) t.charAt(i + o).toInt else 0
        v = (v << 16) | (c & 0xffffL)
        o += 1
      }
      packed(i) = v
      i += 1
    }
    java.util.Arrays.sort(packed)
    // in-place dedupe of the sorted array
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || packed(i) != packed(w - 1)) { packed(w) = packed(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(packed, w))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Shared parameters of the multiplicative minhash family over long-packed
  * set elements: h_j(v) = (a_j * (v mod P) + b_j) mod P with P = 2^31 - 1.
  * Reducing v mod P BEFORE the multiply keeps every intermediate below
  * 2^62 — no overflow in either Java long or DuckDB BIGINT arithmetic, so
  * the oracle can reproduce the hash exactly with plain integer SQL (md5
  * minhash needs ~12 digests per element; this is a handful of multiplies,
  * ~100× cheaper on char-gram-sized sets). */
object LongMinHash {
  val P: Long = 2147483647L
  def a(j: Int): Long = (1000003L * (j + 1)) % P
  def b(j: Int): Long = (8191L * (j + 127)) % P
  /** Band combine: h = fold(h * 31 + m) over the band's row minhashes —
    * m < 2^31, so r=3 stays below 2^42. */
  val BandMult: Long = 31L
  /** Minhash of an empty set (list_min over empty is NULL in SQL —
    * coalesce to this sentinel, one above any real hash value). */
  val EmptyMin: Long = P
}

/** `long_minhash_bands(array<bigint>, k, rowsPerBand) -> array<bigint>`:
  * LSH band hashes over a long-packed element set in ONE pass — k
  * multiplicative minhashes (LongMinHash family) folded into k/rowsPerBand
  * band values (h = h*31 + m per row). Long-domain sibling of
  * `minhash_bands`: same banding semantics, integer hashing instead of
  * md5, exactly reproducible in the oracle with arithmetic SQL. */
case class LongMinHashBands(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "long_minhash_bands"

  private lazy val k: Int = second.eval(null).asInstanceOf[Int]
  private lazy val rowsPerBand: Int = third.eval(null).asInstanceOf[Int]
  private lazy val aArr: Array[Long] = (0 until k).map(LongMinHash.a).toArray
  private lazy val bArr: Array[Long] = (0 until k).map(LongMinHash.b).toArray

  override protected def nullSafeEval(elemsAny: Any, kAny: Any, rAny: Any): Any = {
    val elems = elemsAny.asInstanceOf[ArrayData]
    val mins = Array.fill[Long](k)(LongMinHash.EmptyMin)
    val n = elems.numElements()
    var s = 0
    while (s < n) {
      if (!elems.isNullAt(s)) {
        val vm = elems.getLong(s) % LongMinHash.P
        var j = 0
        while (j < k) {
          val h = (aArr(j) * vm + bArr(j)) % LongMinHash.P
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      s += 1
    }
    val numBands = k / rowsPerBand
    val bands = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = 0L
      var r0 = 0
      while (r0 < rowsPerBand) {
        h = h * LongMinHash.BandMult + mins(b * rowsPerBand + r0)
        r0 += 1
      }
      bands(b) = h
      b += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

/** `token_ngrams(string, k) -> array<string>`: ALL adjacent k-token grams in
  * document order (NOT distinct — frequency consumers count occurrences),
  * split on single space, joined with space; empty array for docs shorter
  * than k tokens. One JVM pass; replaces the interpreted
  * `transform(sequence(...), i -> concat_ws(...))` lambda that dominated
  * the bigram bench. */
case class TokenNgrams(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_ngrams"

  override protected def nullSafeEval(text: Any, kAny: Any): Any = {
    val t = text.asInstanceOf[UTF8String].toString
    val k = kAny.asInstanceOf[Int]
    val toks = t.split(" ", -1)
    if (toks.length < k) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](toks.length - (k - 1))
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var o = 1
      while (o < k) { sb.append(' ').append(toks(i + o)); o += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `token_shingles(string, k) -> array<string>`: sorted-distinct k-token
  * sequence shingles (split on single space, joined with space), whole-text
  * fallback for docs shorter than k tokens — one JVM pass, UTF8 binary sort
  * order (what sorted_intersect_count expects). */
case class TokenShingles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_shingles"

  override protected def nullSafeEval(text: Any, kAny: Any): Any = {
    val t = text.asInstanceOf[UTF8String].toString
    val k = kAny.asInstanceOf[Int]
    val toks = t.split(" ", -1)
    val out =
      if (toks.length >= k) {
        val shingles = new Array[String](toks.length - (k - 1))
        var i = 0
        while (i < shingles.length) {
          val sb = new java.lang.StringBuilder(toks(i))
          var o = 1
          while (o < k) { sb.append(' ').append(toks(i + o)); o += 1 }
          shingles(i) = sb.toString
          i += 1
        }
        shingles
      } else Array(t)
    val utf8 = out.map(UTF8String.fromString).distinct
    java.util.Arrays.sort(utf8, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(utf8.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sorted_token_set(string) -> array<string>`: sorted-distinct single
  * tokens — TokenShingles with k=1 semantics, for token-set jaccard.
  * Splits on the raw UTF-8 bytes (0x20 never occurs inside a multi-byte
  * sequence, so byte-splitting == `split(' ', -1)` including empty tokens),
  * sorts UTF8String slices of the one shared buffer, and dedupes adjacent
  * equals — no String decode/encode round-trip and no hash-set, which
  * dominated the per-doc cost on large documents. */
case class SortedTokenSet(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sorted_token_set"

  override protected def nullSafeEval(text: Any): Any = {
    val bytes = text.asInstanceOf[UTF8String].getBytes
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val toks = new Array[UTF8String](nTok)
    var t = 0
    var start = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        toks(t) = UTF8String.fromBytes(bytes, start, i - start)
        t += 1
        start = i + 1
      }
      i += 1
    }
    java.util.Arrays.sort(toks, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    var w = 0
    i = 0
    while (i < nTok) {
      if (w == 0 || !toks(i).equals(toks(w - 1))) { toks(w) = toks(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(toks, w).asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `minhash_bands(array<string>, k, rowsPerBand) -> array<string>`: LSH band
  * hashes in ONE call — minhash signature (same md5('<j>:'||shingle) family
  * as MinHashSig) banded as md5(mh[b*r] || '|' || ... || mh[b*r+r-1]).
  * Returning the bands directly (single column reference) sidesteps
  * CollapseProject re-inlining the signature computation into every
  * extracted column. */
case class MinHashBands(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  private lazy val k: Int = second.eval(null).asInstanceOf[Int]
  private lazy val rowsPerBand: Int = third.eval(null).asInstanceOf[Int]
  private lazy val prefixes: Array[Array[Byte]] = MinHashSig.prefixes(k)

  override protected def nullSafeEval(shinglesAny: Any, kAny: Any, rAny: Any): Any = {
    val shingles = shinglesAny.asInstanceOf[ArrayData]
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = MinHashSig.mins(shingles, prefixes, md)
    val numBands = k / rowsPerBand
    val bands = new Array[AnyRef](numBands)
    var b = 0
    while (b < numBands) {
      val joined = (0 until rowsPerBand)
        .map(r0 => { val m = mins(b * rowsPerBand + r0); if (m == null) "" else m })
        .mkString("|")
      bands(b) = UTF8String.fromString(Hex.toHex(md.digest(joined.getBytes("UTF-8"))))
      b += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

/** `kgram_min_md5(string, k) -> string`: lexicographic-min md5 hex digest
  * over all character k-gram substrings (whole text when shorter than k) —
  * the winnowing-style fingerprint `array_min(transform(sequence(...),
  * i -> md5(substr(text, i, k))))` in ONE JVM pass. The declarative form
  * pays an interpreted lambda + UTF8String substring + hex-string
  * allocation per position (~|text| md5 calls through the interpreter per
  * doc). Digests are compared as unsigned bytes, which equals hex-string
  * lexicographic order (hex digits are monotone per nibble). BMP-safe:
  * Java char == code point for BMP text (same caveat as char_ngram_longs). */
case class KgramMinMd5(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "kgram_min_md5"

  override protected def nullSafeEval(text: Any, kAny: Any): Any = {
    val t = text.asInstanceOf[UTF8String].toString
    val k = kAny.asInstanceOf[Int]
    val n = math.max(t.length - (k - 1), 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    var best: Array[Byte] = null
    var i = 0
    while (i < n) {
      val sub = t.substring(i, math.min(i + k, t.length))
      val d = md.digest(sub.getBytes("UTF-8"))
      if (best == null || {
        var c = 0; var r = 0
        while (c < d.length && r == 0) {
          r = java.lang.Integer.compare(d(c) & 0xff, best(c) & 0xff); c += 1
        }
        r < 0
      }) best = d
      i += 1
    }
    UTF8String.fromString(Hex.toHex(best))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `winnow_fps(text, k, w) -> array<string>`: winnowing fingerprints
  * (Schleimer/Wilkerson/Aiken's MOSS scheme): md5 each character k-gram by
  * position, slide a w-window over the position hashes, keep each window's
  * MINIMUM, return the sorted-distinct set — a position-robust document
  * signature where two docs sharing a long-enough substring share a
  * fingerprint. Tie rule doesn't affect the SET (equal mins contribute one
  * value). Whole text hashes as one gram when shorter than k; a single
  * window covers everything when there are fewer than w position hashes.
  * One JVM pass; the declarative form would pay an interpreted lambda per
  * (position × window) pair. BMP-safe like the other gram expressions:
  * Java-char positions equal code-point positions only for BMP text —
  * astral input would diverge from a code-point-indexed SQL oracle. */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(text: Any, kAny: Any, wAny: Any): Any = {
    val t = text.asInstanceOf[UTF8String].toString
    val k = kAny.asInstanceOf[Int]
    val w = wAny.asInstanceOf[Int]
    require(k >= 1 && w >= 1, s"winnow_fps needs k >= 1 and w >= 1, got k=$k w=$w")
    val m = math.max(t.length - (k - 1), 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[String](m)
    var i = 0
    while (i < m) {
      hashes(i) = Hex.toHex(md.digest(
        t.substring(i, math.min(i + k, t.length)).getBytes("UTF-8")))
      i += 1
    }
    val nWin = math.max(m - w + 1, 1)
    val fps = new java.util.TreeSet[String]()
    var j = 0
    while (j < nWin) {
      var min = hashes(j)
      var o = 1
      while (o < w && j + o < m) {
        if (hashes(j + o) < min) min = hashes(j + o)
        o += 1
      }
      fps.add(min)
      j += 1
    }
    val out = new Array[AnyRef](fps.size)
    val it = fps.iterator()
    var p = 0
    while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

/** `stop_strip(text, stopwords) -> struct<clean_text string, n_stop int>`:
  * the x45 normalization pipeline in ONE pass — lowercase (UTF8String
  * toLowerCase, same as `lower`), strip chars outside [a-z0-9 ], trim,
  * split on single space, then drop empty + stopword tokens for
  * `clean_text` and count stopword tokens as `n_stop`. Equals
  * `array_join(filter(split(trim(regexp_replace(lower(text),'[^a-z0-9 ]','')),' '),
  * t -> t NOT IN stops AND t <> ''), ' ')` + the matching size(filter(...)),
  * which paid two interpreted HOF lambdas re-evaluating the split per use.
  * `stopwords` must be a foldable array literal. */
case class StopStrip(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
  override def prettyName: String = "stop_strip"

  private lazy val stops: Set[String] = {
    require(right.foldable,
      "stop_strip stopwords must be a foldable array literal, not a per-row column")
    val arr = right.eval(null).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString).toSet
  }

  override protected def nullSafeEval(text: Any, stopsAny: Any): Any = {
    val lowered = text.asInstanceOf[UTF8String].toLowerCase.toString
    val sb = new java.lang.StringBuilder(lowered.length)
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ') sb.append(c)
      i += 1
    }
    // after the strip only [a-z0-9 ] remain, so trimming spaces == SQL trim
    val toks = sb.toString.trim.split(" ", -1)
    var nStop = 0
    val clean = new java.lang.StringBuilder
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (stops.contains(tok)) nStop += 1
      else if (tok.nonEmpty) {
        if (clean.length > 0) clean.append(' ')
        clean.append(tok)
      }
      t += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(clean.toString), nStop)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `fence(x)`: identity, marked non-deterministic — an optimizer fence.
  * Aliasing an expensive expression (merge-walk jaccard, vec_dot cosine)
  * and then filtering on the alias normally re-inlines the expression into
  * BOTH the pushed-down filter and the projection (PushPredicateThroughNonJoin
  * substitutes aliases; Filter and Project don't share subexpression
  * elimination), doubling the per-pair cost. Predicates are never pushed
  * through a non-deterministic projection, so wrapping the alias in
  * `fence` forces single evaluation; the value is bit-identical to the
  * child's, so oracle parity is untouched. Use ONLY in Project (analysis
  * rejects non-deterministic expressions in most other operators).
  *
  * CAVEAT — the non-determinism is a lie the optimizer believes globally:
  * Catalyst's own rules will not push ANY predicate through a fenced
  * Project, and other determinism-gated rules stay conservative too. The
  * [[FencePushdown]] rule repairs the worst of it: conjuncts that do NOT
  * consume a fenced alias are re-pushed below the Project (and cascade to
  * the scan), so an unrelated filter above a fenced projection no longer
  * loses pruning — spec-proven in OperatorsSpec. Still prefer fencing only
  * the FINAL projection of a subtree: rules other than predicate pushdown
  * (e.g. CollapseProject cost checks) remain fence-conservative. */
case class OptimizerFence(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "fence"
  override protected def nullSafeEval(v: Any): Any = v
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GraftFunctions {
  /** Every graft native function as (name, usage, builder) — the one table
    * both [[register]] and [[GraftExtensions]] install. */
  val natives: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "dot product of two float vectors as double",
      es => FloatVecDot(es(0), es(1))),
    ("sorted_intersect_count", "intersection size of two sorted string arrays",
      es => SortedIntersectCount(es(0), es(1))),
    ("sorted_long_intersect_count", "intersection size of two sorted long arrays",
      es => SortedLongIntersectCount(es(0), es(1))),
    ("simhash_bits", "bits-wide simhash signature of a token array",
      es => SimHashBits(es(0), es(1))),
    ("minhash_sig", "k minhash values of a shingle array",
      es => MinHashSig(es(0), es(1))),
    ("minhash_bands", "LSH band hashes of a shingle array",
      es => MinHashBands(es(0), es(1), es(2))),
    ("char_ngram_longs", "sorted-distinct long-packed char k-grams",
      es => CharNgramLongs(es(0), es(1))),
    ("long_minhash_bands", "LSH band hashes of a long-packed element set",
      es => LongMinHashBands(es(0), es(1), es(2))),
    ("token_ngrams", "all adjacent k-token grams in document order",
      es => TokenNgrams(es(0), es(1))),
    ("token_shingles", "sorted-distinct k-token shingles",
      es => TokenShingles(es(0), es(1))),
    ("sorted_token_set", "sorted-distinct tokens",
      es => SortedTokenSet(es.head)),
    ("kgram_min_md5", "lexicographic-min md5 over char k-grams",
      es => KgramMinMd5(es(0), es(1))),
    ("fence", "identity optimizer fence (blocks predicate pushdown)",
      es => OptimizerFence(es.head)),
    ("stop_strip", "normalize text and strip stopwords in one pass",
      es => StopStrip(es(0), es(1))),
    ("winnow_fps", "winnowing fingerprint set (min per k-gram hash window)",
      es => WinnowFps(es(0), es(1), es(2))),
    ("topk_pairs", "aggregate: exact top-k (v, id) pairs",
      es => ExactTopK(es(0), es(1), es(2)).toAggregateExpression()),
    ("vec_sum_fp", "aggregate: elementwise half-up fixed-point sum of vectors",
      es => VecSumFp(es(0), es(1)).toAggregateExpression()),
    ("argmin_pair", "aggregate: id of the least ord",
      es => ArgExtreme(es(0), es(1), None, isMax = false).toAggregateExpression()),
    ("argmax_pair", "aggregate: id of the greatest ord",
      es => ArgExtreme(es(0), es(1), None, isMax = true).toAggregateExpression()),
    ("argmin_vec", "aggregate: (id, vec) of the least ord",
      es => ArgExtreme(es(0), es(1), Some(es(2)), isMax = false).toAggregateExpression()),
    ("argmax_vec", "aggregate: (id, vec) of the greatest ord",
      es => ArgExtreme(es(0), es(1), Some(es(2)), isMax = true).toAggregateExpression()),
    ("outer_product_sum", "aggregate: sum of the flattened outer products qa x qa",
      es => OuterProductSum(es.head).toAggregateExpression()))

  // ObjectHashAggregate (the execution mode of every TypedImperativeAggregate
  // here: topk_pairs, argmin/argmax, vec_sum_fp, outer_product_sum) falls
  // back to SORT-BASED aggregation once a task's hash map exceeds this
  // threshold — the Spark default of 128 groups re-introduces exactly the
  // per-group sort these aggregates exist to avoid (measured r17: x115's
  // 250 q_id groups pushed the partial agg into the fallback and the
  // topk_pairs tail ran slower than the window it replaced). 64k groups
  // bounds the map at ~45 MB/task for the largest buffer shape
  // (argmin_vec, ~700 B/group) — safely inside executor memory at any
  // corpus scale, because past the threshold Spark still degrades
  // gracefully to the sort path.
  private val ObjAggFallbackThreshold = 65536

  /** Idempotent registration of the native functions into the session's
    * FunctionRegistry (runtime equivalent of SparkSessionExtensions
    * injectFunction — the driver owns session construction, so injection
    * at build time isn't available). Installs only the natives the session
    * lacks, so a repeat call replaces nothing (Spark logs a WARN for every
    * replaced function); the fallback threshold is set on every call. */
  def register(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      ObjAggFallbackThreshold.toString)
    val reg = spark.sessionState.functionRegistry
    natives.foreach { case (name, _, builder) =>
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    // selective pushdown through fenced projections (see FencePushdown);
    // extraOptimizations is the runtime analogue of injectOptimizerRule
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(FencePushdown))
      spark.experimental.extraOptimizations = cur ++ FencePushdown.batch
  }
}
