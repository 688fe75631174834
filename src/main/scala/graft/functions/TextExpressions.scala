package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature over a token array: shingles of `shingleN`
  * consecutive tokens are hashed (xxhash64, seed 42 — same family Spark's
  * xxhash64 uses) and folded through k affine permutations in one tight
  * primitive loop per row.
  *
  * Why an expression and not higher-order functions: Spark's HOF
  * combinators (transform/aggregate/zip_with) evaluate their lambdas
  * interpreted, per element, with boxing — the equivalent HOF pipeline
  * measured ~13 s for 5k docs at sf0.1 where this loop is ~100 ms. Same
  * per-row semantics, CodegenFallback at the ROW level only (the inner
  * loop is compiled Scala, which is what matters).
  */
case class MinHashSig(child: Expression, shingleN: Int, a: Array[Long],
                      b: Array[Long], modulus: Long)
  extends UnaryExpression with CodegenFallback {

  require(modulus == MinHashSig.M,
    "MinHashSig's reduction is specialized to the Mersenne prime 2^61-1 " +
      "(fold-based mulmod, no division) — a different modulus needs a " +
      "different reduction")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    val nShingles = math.max(n - shingleN + 1, 1)
    var i = 0
    while (i < nShingles) {
      // shingle = tokens[i .. i+shingleN-1] joined by " " (truncated at end)
      val parts = new Array[UTF8String](math.min(shingleN, n - i))
      var j = 0
      while (j < parts.length) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      val s = UTF8String.concatWs(space, parts: _*)
      val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      // FULL-RANGE base hash in [0, 2^61-1) — the r22 estimator fix.
      // The previous form truncated the base hash to 31 bits so the
      // affine step (a*h + b) % P could use plain long arithmetic; but
      // over a 31-bit domain the products a_j*h wrap P = 2^61-1 at most
      // ONCE, so the affine maps are largely ORDER-PRESERVING in h and
      // the k "independent" permutations all tend to elect the same
      // argmin (the shingle with the smallest base hash). Measured
      // live at sf0.001: a pair with exact jaccard 0.889 read
      // sig-agreement 0.39 (a 12-sigma deviation under a sound
      // estimator) and was dropped by the candidate prefilter — the
      // engine missed a true near-dup pair the oracle has. With the
      // base hash and coefficients drawn over the full field the
      // products wrap ~2^31 times and the estimator concentrates where
      // the minhash analysis says it must.
      val h = MinHashSig.fold61(h0)
      j = 0
      while (j < k) {
        val v = MinHashSig.fold61(MinHashSig.mulMod61(a(j), h) + b(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** The Mersenne prime 2^61 - 1: the minhash field. Mersenne because
    * reduction is two shift-adds (2^61 ≡ 1, 2^64 ≡ 8 mod M) — the hot
    * loop carries no division at all, which also made the r22 widening
    * from 31-bit to 61-bit arithmetic perf-neutral. */
  val M: Long = (1L << 61) - 1

  /** Reduce any 64-bit value (treated as unsigned) into [0, M). */
  @inline private[functions] def fold61(x: Long): Long = {
    val r = (x & M) + (x >>> 61)
    if (r >= M) r - M else r
  }

  /** (a * h) mod M for a, h in [0, M) — 128-bit product via
    * multiplyHigh, folded with 2^64 ≡ 8 (mod M). */
  @inline private[functions] def mulMod61(a: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h) // a,h < 2^61 => hi < 2^58
    val lo = a * h                   // low 64 bits (wraps, read unsigned)
    fold61(fold61(lo) + (hi << 3))
  }
}

/** 64-bit SimHash over a token array: per-bit majority vote of token
  * xxhash64 values, one pass, primitive arrays. Same rationale as
  * MinHashSig. */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) sig |= (1L << bit); bit += 1 }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 60-bit SimHash whose per-token hash is the first 15 hex chars of the
  * token's MD5 — i.e. `CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)`
  * in ANSI-ish SQL, so the WHOLE signature replays in DuckDB and the
  * simhash catalog entries get full hash oracles instead of rows-only
  * checks. Same multiset vote and `> 0` tie rule as [[SimHash64]]; 60
  * bits (not 64) because 15 hex chars is the widest md5 prefix that fits
  * a signed BIGINT on both engines. xxhash64 remains the default library
  * hash (MD5 is ~5x slower per token); this variant exists for
  * verifiability, chunked 4 x 15 bits for the same pigeonhole banding. */
case class SimHashMd5(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val md = SimHashMd5.digest.get()
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      val d = md.digest(toks.getUTF8String(i).getBytes)
      // first 15 hex chars = (first 8 bytes as unsigned big-endian) >>> 4
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xFFL); b += 1 }
      h = h >>> 4
      var bit = 0
      while (bit < 60) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 60) { if (votes(bit) > 0) sig |= (1L << bit); bit += 1 }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}

object SimHashMd5 {
  // MessageDigest is stateful and not thread-safe; digest() resets it
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
}

/** All character n-grams of a string WITH multiplicity, in order — the
  * BPE-style pair-statistics primitive ([[CharNgrams]] dedups, which
  * destroys exactly the repeat counts merge ranking needs). Returns an
  * empty array for inputs shorter than n (callers pre-filter; no
  * whole-string clipping fallback here, unlike CharNgrams whose shingle
  * oracles require it). Same single-pass UTF-8 offset scan as
  * CharNgrams. */
case class CharNgramsMultiset(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {
  // n <= 0 would index starts(j + n) before starts(j) and fail deep in
  // eval with ArrayIndexOutOfBounds; reject at construction (analysis
  // time for the SQL surface) like SubVectors does for parts
  require(n >= 1, s"char_ngrams_multiset: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    val starts = new Array[Int](bytes.length + 1)
    var count = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(count) = i; count += 1 }
      i += 1
    }
    starts(count) = bytes.length
    if (count < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count - n + 1)
      var j = 0
      while (j <= count - n) {
        out(j) = UTF8String.fromBytes(bytes, starts(j), starts(j + n) - starts(j))
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CharNgramsMultiset =
    copy(child = newChild)
}

/** Distinct character n-grams of a string, as array<string> — tight loop
  * replacement for `transform(sequence(...), i -> substr(text, i, n))`,
  * whose lambda evaluates interpreted per position. */
case class CharNgrams(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"char_ngrams: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // one linear pass to find codepoint start offsets, then direct byte
    // slices per gram. substringSQL per gram re-seeks from byte 0 every
    // call (branchy UTF-8 decode), turning an O(len) loop into O(len^2) —
    // measured ~0.3 ms per 300-char doc, ~20x slower than this form.
    val bytes = s.getBytes
    val starts = new Array[Int](bytes.length + 1)
    var count = 0
    var i = 0
    while (i < bytes.length) {
      // UTF-8 char starts are bytes not matching the 10xxxxxx continuation pattern
      if ((bytes(i) & 0xC0) != 0x80) { starts(count) = i; count += 1 }
      i += 1
    }
    starts(count) = bytes.length
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (count < n) { seen.add(s) }
    else {
      var j = 0
      while (j <= count - n) {
        seen.add(UTF8String.fromBytes(bytes, starts(j), starts(j + n) - starts(j)))
        j += 1
      }
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** Distinct word n-gram shingles of a token array: shingle i joins
  * tokens [i, i+n) with single spaces (clipped at the end), first-
  * occurrence order, exactly the transform+slice+concat_ws+array_distinct
  * HOF composition it replaces — but as one tight loop instead of
  * per-index interpreted lambda plumbing. */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val cnt = math.max(m - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < cnt) {
      val parts = new Array[UTF8String](math.min(n, m - i))
      var j = 0
      while (j < parts.length) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** ALL word n-grams of a token array, in order, WITH multiplicity —
  * unlike WordShingles, which dedups into set semantics for Jaccard.
  * Repetition-quality scoring (Gopher-style duplicate-n-gram fractions)
  * needs the multiset: how often the most common n-gram repeats is
  * exactly the signal the set form destroys. A document shorter than n
  * tokens yields its whole text as the single n-gram, mirroring
  * WordShingles' clipping rule. */
case class WordNgrams(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val cnt = math.max(m - n + 1, 1)
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      val parts = new Array[UTF8String](math.min(n, m - i))
      var j = 0
      while (j < parts.length) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** Fraction of positions where two equal-length long arrays agree — the
  * MinHash signature estimate of Jaccard similarity. Tight loop; the
  * zip_with/filter HOF form is interpreted per element.
  *
  * Not flagged `nullIntolerant`, though a null input still yields null
  * (BinaryExpression.eval): the flag lets InferFiltersFromConstraints
  * derive `isnotnull` of each argument, and where an argument is an
  * aliased kernel (a delta's `minhashsig(...)`) that pushed Filter
  * evaluates the kernel again under the projection that computes it. */
case class SigAgreement(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) eq += 1; i += 1 }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreement =
    copy(left = l, right = r)
}

/** Jaccard similarity of two SORTED long arrays treated as sets — a
  * two-pointer merge intersection, no per-element allocation at all.
  * Used where set elements are 64-bit hashes of the real items (e.g.
  * shingle hashes): far cheaper than string-set intersection at the cost
  * of a ~2^-64 per-pair collision probability. Inputs MUST be sorted and
  * distinct (array_sort over a distinct array). */
case class SortedLongJaccard(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val m = x.numElements(); val n = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < m && j < n) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    val union = m + n - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongJaccard =
    copy(left = l, right = r)
}

/** Exact Jaccard similarity of two string arrays treated as sets
  * (hash-set intersection; inputs are pre-distinct shingle arrays).
  * Not `nullIntolerant`, for the reason [[SigAgreement]] gives: the
  * inferred `isnotnull(wordshingles(...))` would shingle again. */
case class ArrayJaccard(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val sx = new java.util.HashSet[UTF8String](x.numElements() * 2)
    var i = 0
    while (i < x.numElements()) { sx.add(x.getUTF8String(i)); i += 1 }
    var inter = 0
    val sy = new java.util.HashSet[UTF8String](y.numElements() * 2)
    i = 0
    while (i < y.numElements()) {
      val s = y.getUTF8String(i)
      if (sy.add(s) && sx.contains(s)) inter += 1
      i += 1
    }
    val union = sx.size + sy.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayJaccard =
    copy(left = l, right = r)
}

object TextFunctions {
  /** MinHash signature column over a token-array column. */
  def minhash_sig(tokens: Column, shingleN: Int, a: Array[Long], b: Array[Long],
                  modulus: Long): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(tokens), shingleN, a, b, modulus))

  /** SimHash column over a token-array column. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  /** 60-bit SQL-replayable (md5-hashed) SimHash over a token-array column. */
  def simhash_md5(tokens: Column): Column =
    ColumnBridge.column(SimHashMd5(ColumnBridge.expression(tokens)))

  /** Fraction of agreeing positions between two minhash signatures. */
  def sig_agreement(a: Column, b: Column): Column =
    ColumnBridge.column(SigAgreement(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Set-Jaccard of two sorted long arrays (merge intersection). */
  def sorted_long_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact set-Jaccard of two string arrays. */
  def array_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Distinct character n-grams of a string column. */
  def char_ngrams(text: Column, n: Int): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(text), n))

  /** All character n-grams WITH multiplicity (BPE pair statistics). */
  def char_ngrams_multiset(text: Column, n: Int): Column =
    ColumnBridge.column(CharNgramsMultiset(ColumnBridge.expression(text), n))

  /** Distinct word n-gram shingles of a token-array column. */
  def word_shingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), n))

  /** All word n-grams of a token-array column, with multiplicity. */
  def word_ngrams(tokens: Column, n: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(tokens), n))
}
