package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The splitmix64 finalizer every sketch in this package derives secondary
  * hash streams from — ONE definition (r11 review): the sketches and the
  * oracle SQL that replays them depend on these exact constants, and a
  * private per-expression copy is a silent fork waiting to happen. */
private[expressions] object SplitMix {
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/**
 * Custom Catalyst expressions for the sketch hot paths.
 *
 * The pure-`functions._` formulations of MinHash/SimHash fold 32-64
 * per-bit/per-function lambdas over the token-hash array; higher-order
 * functions evaluate interpreted, so every element costs an expression-tree
 * walk × numHashes. These expressions make one imperative pass over the
 * unboxed long array per row — O(n + k) with primitive arithmetic — the
 * (b) tier of the extension-point ladder (custom `Expression` before custom
 * physical operators).
 *
 * `CodegenFallback` is deliberate for the ONCE-PER-ROW expressions (sketches,
 * language ID, term counts): their internal loop is ordinary JVM code, so
 * codegen would only inline the call; the interpreted-lambda tax they
 * replace was per-element. The per-PAIR vector expressions
 * ([[VectorDotExpr]], [[VectorNormExpr]]) are the exception — they sit
 * inside join loops where the call count is |queries| × |corpus|, so they
 * implement `doGenCode` and stay inside the surrounding WholeStageCodegen.
 */

/**
 * One-permutation MinHash signature from an `array<long>` of element hashes:
 * hash space is partitioned into `numHashes` buckets (h mod k); the
 * signature entry is the bucket minimum, with circular-rotation
 * densification for empty buckets (identical sets ⇒ identical signatures;
 * the collision-probability ≈ Jaccard property is preserved).
 *
 * Cost: one pass over the hashes — numHashes× cheaper than evaluating k
 * independent hash functions per element.
 */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  // Construction-time, not eval-time (r12 review — the SQL registration
  // validates via intLitArg but the Scala API path did not): numHashes = 0
  // would throw `h % 0` PER ROW on executors with task retries, the
  // defer-to-executor failure mode the sibling nBits require exists to
  // prevent.
  require(numHashes >= 1,
    s"minhash_signature: numHashes must be >= 1, got $numHashes")

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = numHashes
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      val b = ((h % k) + k) % k
      if (h < sig(b.toInt)) sig(b.toInt) = h
      i += 1
    }
    // densify: empty buckets borrow the next non-empty value (circular) —
    // deterministic in the set alone, so equal sets stay equal
    var b = 0
    while (b < k) {
      if (sig(b) == Long.MaxValue) {
        var j = 1
        while (j < k && sig((b + j) % k) == Long.MaxValue) j += 1
        if (j < k) sig(b) = sig((b + j) % k)
      }
      b += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 64-bit SimHash from an `array<long>` of element hashes: bit b of the
 * sketch is set when more than half the elements have bit b set. One pass,
 * 64 counters, no per-bit lambda.
 */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var sk = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) sk |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sk)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 128-bit SimHash from an `array<long>` of element hashes: the sketch is two
 * 64-bit words; word 0 votes with the element hash itself, word 1 with a
 * splitmix64 remix of it (a second independent hash stream without a second
 * tokenization pass). Doubling the sketch width halves the bit-collision
 * density that makes 64-bit SimHash chunks collide broadly on small-vocab
 * corpora (round-1 verdict: precision weak, buckets tripping the skew guard).
 */
case class SimHash128Expr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash128"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](128)
    var i = 0
    while (i < n) {
      val h0 = arr.getLong(i)
      val h1 = SplitMix.mix(h0)
      var b = 0
      while (b < 64) {
        if (((h0 >>> b) & 1L) == 1L) counts(b) += 1
        if (((h1 >>> b) & 1L) == 1L) counts(64 + b) += 1
        b += 1
      }
      i += 1
    }
    val words = new Array[Long](2)
    var b = 0
    while (b < 128) {
      if (counts(b) * 2 > n) words(b >>> 6) |= (1L << (b & 63))
      b += 1
    }
    new GenericArrayData(words)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Engine-PORTABLE 128-bit SimHash, emitted directly as its eight 16-bit
 * chunk values, from an `array<string>` of per-element md5 hex digests
 * (32 lowercase hex chars = 128 vote bits per element; repeats allowed —
 * tf-weighted votes, like [[SimHash128Expr]]).
 *
 * Bit layout is defined hex-digit-wise so an external engine can replay it
 * with string arithmetic alone: chunk `c` (0..7) reads hex digits
 * `4c..4c+3` big-endian (digit `4c` is the high nibble), i.e. bit `j` of
 * chunk `c` votes with bit `j%4` of hex digit `4c + (3 - j/4)`. Sketch bit
 * = strict majority (2·votes > n). The DuckDB oracle reproduces every chunk
 * with `strpos`-digit extraction + conditional sums — this is what upgrades
 * the full-corpus SimHash driver row from rows-only to hash-certified
 * (round-4 verdict #1); [[SimHash128Expr]] over xxhash64 stays the
 * production-default sketch.
 */
case class SimHashHexChunksExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_hex_chunks"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // counts(d*4 + b) = votes for bit b of hex digit d (d = 0..31, b = 0..3)
    val counts = new Array[Int](128)
    // majority denominator = elements that actually VOTED (r11 review):
    // null/short elements cast no votes, so counting them in n would bias
    // every bit toward 0 — the same 3 valid digests must produce the same
    // sketch whether or not 2 nulls ride along. (md5 of the tokenizer's
    // output is never null/short, so the certified rows are unaffected.)
    var m = 0
    var i = 0
    while (i < n) {
      val hex = arr.getUTF8String(i)
      if (hex != null && hex.numBytes() >= 32) {
        m += 1
        val bytes = hex.getBytes
        var d = 0
        while (d < 32) {
          val ch = bytes(d)
          val v =
            if (ch >= '0' && ch <= '9') ch - '0'
            else if (ch >= 'a' && ch <= 'f') ch - 'a' + 10
            else if (ch >= 'A' && ch <= 'F') ch - 'A' + 10
            else 0
          val base = d * 4
          counts(base) += v & 1
          counts(base + 1) += (v >> 1) & 1
          counts(base + 2) += (v >> 2) & 1
          counts(base + 3) += (v >> 3) & 1
          d += 1
        }
      }
      i += 1
    }
    val chunks = new Array[Long](8)
    var c = 0
    while (c < 8) {
      var value = 0L
      var j = 0
      while (j < 16) {
        val digit = 4 * c + (3 - j / 4)
        if (2 * counts(digit * 4 + (j % 4)) > m) value |= (1L << j)
        j += 1
      }
      chunks(c) = value
      c += 1
    }
    new GenericArrayData(chunks)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Sign-LSH sketch of an `array<float>` vector: `nBits` sign bits of
 * projections onto pseudo-random hyperplanes derived from a splitmix64 mix of
 * (table, bit, dim) — deterministic, no fitted model. One imperative pass over
 * dims × bits replaces nBits × dim interpreted `zip_with` lambda evals.
 */
case class SignLshSketchExpr(child: Expression, table: Int, nBits: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  // the sketch is ONE long: a 65th bit would wrap `1L << b` mod 64 and
  // silently alias hyperplane 64's sign onto bit 0 (r11 review)
  require(nBits >= 1 && nBits <= 64,
    s"sign_lsh_sketch: nBits must be in [1, 64], got $nBits")

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(org.apache.spark.sql.graftbridge.TypeBridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_sketch"

  private lazy val elementIsFloat: Boolean = VectorElem.isFloat(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    var sk = 0L
    var b = 0
    while (b < nBits) {
      val seed = table.toLong * 0x100000001B3L + b
      var proj = 0.0
      var d = 0
      while (d < dim) {
        val comp = SplitMix.mix(seed * 0x9E3779B1L + d).toDouble / Long.MaxValue
        val x = if (elementIsFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        proj += x * comp
        d += 1
      }
      if (proj >= 0.0) sk |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sk)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * ENGINE-PORTABLE sign-LSH sketch — the md5-hashing precedent (minhash /
 * simhash portable modes, r5) applied to the hyperplane family so an
 * external engine can replay buckets AND probes and certify the whole
 * candidate set (r13 verdict item 5: converts `sim_lsh_recall` from a
 * recall-gated rows-only row to a hash row).
 *
 * Hyperplane component (t, b, d) = u60 / 2⁵⁹ − 1.0 ∈ [−1, 1), where u60 is
 * the first 15 hex chars of `md5("t:b:d")` — exactly
 * [[graft.operators.Dedup.portableHash60]]'s digit arithmetic, replayable
 * in any engine with `md5`. Every arithmetic step is IEEE-pinned
 * cross-engine: u60 → double is round-to-nearest, / 2⁵⁹ is an exact
 * power-of-two scaling, and the projection folds `Σ v[d]·comp[d]` in
 * ascending-d order (the oracle folds the same order with `list_reduce`),
 * so the SIGN decisions are bit-identical even for projections near zero.
 *
 * The planes depend only on (table, nBits, dim): they are computed once
 * per expression instance on the first row (nBits·dim md5 calls, ~ms) and
 * cached; per-row work is the same multiply-add loop as
 * [[SignLshSketchExpr]]. xxhash-derived [[SignLshSketchExpr]] stays the
 * production default — md5 setup is irrelevant but this expression exists
 * for certification, and certified-vs-default plan shapes are identical
 * (one leaf expression swap in the same projection).
 */
case class PortableSignLshSketchExpr(child: Expression, table: Int, nBits: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(nBits >= 1 && nBits <= 64,
    s"portable_sign_lsh_sketch: nBits must be in [1, 64], got $nBits")

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(org.apache.spark.sql.graftbridge.TypeBridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "portable_sign_lsh_sketch"

  private lazy val elementIsFloat: Boolean = VectorElem.isFloat(child.dataType)

  // planes cache, keyed by the input dimension (constant in practice; a
  // mixed-dim column just recomputes — correctness never depends on it)
  @transient private var cachedDim: Int = -1
  @transient private var planes: Array[Array[Double]] = _

  private def planesFor(dim: Int): Array[Array[Double]] = {
    if (planes == null || cachedDim != dim) {
      val md = java.security.MessageDigest.getInstance("MD5")
      planes = Array.tabulate(nBits) { b =>
        Array.tabulate(dim) { d =>
          md.reset()
          val hex = md.digest(s"$table:$b:$d"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          val u60 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
          u60.toDouble / 576460752303423488.0 - 1.0 // 2^59
        }
      }
      cachedDim = dim
    }
    planes
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val pl = planesFor(dim)
    var sk = 0L
    var b = 0
    while (b < nBits) {
      val comp = pl(b)
      var proj = 0.0
      var d = 0
      while (d < dim) {
        val x = if (elementIsFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        proj += x * comp(d)
        d += 1
      }
      if (proj >= 0.0) sk |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sk)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Marker-token language ID over an `array<string>` token column: each
 * candidate language scores the number of tokens (with repeats) found in its
 * marker set; argmax wins, ties broken by language-code order, zero score →
 * "und". One pass over the tokens with hash-set probes — the
 * `filter(toks, array_contains(markers, t))`-per-language formulation
 * evaluates interpreted (|langs| × |toks| × |markers| tree walks per row).
 */
case class LanguageIdExpr(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "language_id"

  // langs in code order (the tie-break), each with a hashed marker set
  @transient private lazy val langs: Array[(UTF8String, Set[UTF8String])] =
    markers.sortBy(_._1).map { case (lang, ms) =>
      (UTF8String.fromString(lang), ms.map(UTF8String.fromString).toSet)
    }.toArray
  @transient private lazy val und = UTF8String.fromString("und")

  override def nullSafeEval(input: Any): Any = {
    if (langs.isEmpty) return und // no candidate languages ⇒ no evidence
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val scores = new Array[Int](langs.length)
    var i = 0
    while (i < n) {
      val tok = arr.getUTF8String(i)
      var l = 0
      while (l < langs.length) {
        if (langs(l)._2.contains(tok)) scores(l) += 1
        l += 1
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < langs.length) {
      if (scores(l) > scores(best)) best = l // strict: ties keep first (code order)
      l += 1
    }
    if (scores(best) == 0) und else langs(best)._1
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Per-document term frequencies from an `array<string>` token column:
 * `map<term, count>` built in one imperative pass with a single open hash
 * map. This moves the tf aggregation of tf-idf entirely map-side — the
 * explode→groupBy(doc, term) formulation shuffles one row per token
 * OCCURRENCE; exploding this map emits one row per DISTINCT term with its
 * count already final, so the plan's first exchange disappears and the
 * remaining shuffles carry deduplicated (doc, term) pairs. Null array
 * elements are ignored (the tokenizer never produces them).
 */
case class TermCountsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Long](math.max(16, n))
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        val prev = counts.get(t)
        if (prev == 0L) {
          // clone on first insert: the UTF8String may point into a reused
          // scan/row buffer, and the map key must outlive this row
          counts.put(t.clone(), 1L)
        } else counts.put(t, prev + 1L)
      }
      i += 1
    }
    val m = counts.size()
    val ks = new Array[Any](m)
    val vs = new Array[Any](m)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      ks(j) = e.getKey
      vs(j) = e.getValue
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(ks), new GenericArrayData(vs))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Bloom-filter membership probe for a string column against a pre-built
 * `org.apache.spark.util.sketch.BloomFilter` (serialized form). The filter
 * bytes ride inside the expression, which Spark ships to executors via the
 * per-stage task-binary broadcast — one copy per executor, not per task.
 * Probes use the raw UTF-8 bytes, matching `BloomFilter.putString`'s
 * insertion encoding (`DataFrameStatFunctions.bloomFilter` inserts strings
 * that way), so build and probe cannot disagree on encoding. May return
 * false-positive `true`s (by construction, at the filter's fpp); never
 * false negatives.
 */
case class BloomMightContainExpr(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(filterBytes))

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(
      filter.mightContainBinary(input.asInstanceOf[UTF8String].getBytes))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Point estimate from a serialized Count-Min sketch (the binary produced by
 * Spark's built-in `count_min_sketch` aggregate or [[CmsWeightedAgg]]):
 * frequency of `right` (string) per `left` (the sketch bytes). The
 * deserialized sketch caches EXACTLY on the byte content, with a cheap
 * sampled digest as the fast-path mismatch check — the sketch arrives as
 * a scalar subquery, whose struct accessor (GetStructField → getBinary)
 * hands back a FRESH copy per eval, so a reference check alone would
 * re-deserialize the ~MB sketch on every row. A digest mismatch proves the
 * sketch changed without scanning it; a digest match is CONFIRMED by a
 * full byte compare before reuse (a flat memcmp, ~100× cheaper than
 * re-deserializing and never wrong — the r7 digest-only variant could
 * silently reuse a stale sketch across a collision). Items hash via their
 * UTF-8 bytes, mirroring how the aggregate added them (`addBinary` on
 * `UTF8String.getBytes`). Like every view-caching expression here, one
 * instance must only be evaluated by a single thread (Spark's
 * one-task-one-thread model guarantees this).
 */
case class CmsEstimateExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  @transient private var cachedDigest: Long = 0L
  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedSketch: org.apache.spark.util.sketch.CountMinSketch = _

  // length + first/middle/last 8 bytes: a DIFFERENT sketch almost always
  // differs here (totalCount rides in the header), skipping the memcmp
  private def digestOf(b: Array[Byte]): Long = {
    var d = 1125899906842597L * b.length
    var i = 0
    while (i < 8 && i < b.length) { d = d * 31 + b(i); i += 1 }
    val mid = b.length / 2
    i = mid
    while (i < mid + 8 && i < b.length) { d = d * 31 + b(i); i += 1 }
    i = math.max(0, b.length - 8)
    while (i < b.length) { d = d * 31 + b(i); i += 1 }
    d
  }

  override def nullSafeEval(sk: Any, item: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    val d = digestOf(bytes)
    // the cached copy is OURS (cloned): a caller-owned array could be
    // mutated in place between rows, making a reference/self comparison
    // vacuously pass while the cached sketch goes stale
    val hit = cachedSketch != null && d == cachedDigest &&
      java.util.Arrays.equals(bytes, cachedBytes)
    if (!hit) {
      cachedSketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      cachedDigest = d
      cachedBytes = bytes.clone()
    }
    java.lang.Long.valueOf(
      cachedSketch.estimateCount(item.asInstanceOf[UTF8String].getBytes))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * WEIGHTED Count-Min-Sketch aggregate: like Spark's built-in
 * `count_min_sketch(item, …)` but each row inserts `item` with multiplicity
 * `weight` instead of 1. CMS counters are additive, so the sketch built
 * from a pre-grouped `(term, count)` table is BIT-IDENTICAL (same
 * eps/confidence/seed ⇒ same serialized bytes) to one built from the raw
 * occurrence stream — which lets an audit query that ALREADY pays the
 * vocabulary-sized grouped count derive the sketch from that table's few
 * rows instead of re-scanning the corpus ([[graft.operators.HeavyHitters]]).
 * Null items and non-positive weights contribute nothing (the raw stream
 * never produces either). Uses `org.apache.spark.util.sketch.CountMinSketch`
 * (the built-in aggregate's implementation) for buffer, merge, and
 * serialized form.
 */
case class CmsWeightedAgg(item: Expression, weight: Expression,
                          eps: Double, confidence: Double, seed: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[org.apache.spark.util.sketch.CountMinSketch] {

  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.util.sketch.CountMinSketch
  import org.apache.spark.sql.catalyst.InternalRow

  override def children: Seq[Expression] = Seq(item, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "cms_weighted"

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.create(eps, confidence, seed)

  override def update(buffer: CountMinSketch, input: InternalRow): CountMinSketch = {
    val it = item.eval(input)
    if (it != null) {
      val w = weight.eval(input)
      if (w != null) {
        val n = w.asInstanceOf[Number].longValue()
        if (n > 0) buffer.addBinary(it.asInstanceOf[UTF8String].getBytes, n)
      }
    }
    buffer
  }

  override def merge(buffer: CountMinSketch, other: CountMinSketch): CountMinSketch =
    buffer.mergeInPlace(other)

  override def eval(buffer: CountMinSketch): Any = serialize(buffer)

  override def serialize(buffer: CountMinSketch): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    buffer.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsWeightedAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsWeightedAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(item = newChildren(0), weight = newChildren(1))
}

/** Element accessor shared by the vector expressions: arrays arrive as
  * `array<float>` (raw embeddings) or `array<double>` (post-normalization). */
private[expressions] object VectorElem {
  def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @inline def get(arr: ArrayData, i: Int, float: Boolean): Double =
    if (float) arr.getFloat(i).toDouble else arr.getDouble(i)
}

/**
 * Dot product of two numeric-array vectors — one imperative pass with a
 * double accumulator. Replaces `aggregate(zip_with(a, b, _*_), 0.0, _+_)`,
 * whose lambdas evaluate INTERPRETED per element (dim × 2 tree walks per
 * pair; the dominant cost of brute-force cosine top-k at bench scale).
 *
 * Unlike the per-row sketch expressions above, this one implements
 * `doGenCode`: it is evaluated once per JOIN PAIR (queries × corpus inside
 * the brute-force scan), so the boxed fallback call sits in the hottest
 * multiplied position the engine has — the generated loop keeps the whole
 * projection inside one WholeStageCodegen span with primitive locals
 * (`VectorExprCodegenSpec` compiles it with codegen fallback disabled).
 */
case class VectorDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(
    org.apache.spark.sql.graftbridge.TypeBridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)),
    org.apache.spark.sql.graftbridge.TypeBridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  private lazy val lFloat = VectorElem.isFloat(left.dataType)
  private lazy val rFloat = VectorElem.isFloat(right.dataType)

  // Mismatched dimensions are an ERROR, not a min-length truncation (r11
  // review): a prefix dot product is a plausible-looking wrong similarity —
  // the silent kind of retrieval bug — and no caller has a legitimate
  // mixed-dimension pair (embeddings tables are single-model by schema).
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vector_dot: dimension mismatch ($n vs ${y.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += VectorElem.get(x, i, lFloat) * VectorElem.get(y, i, rFloat)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val getL = if (lFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getR = if (rFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vector_dot: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $getL * $getR;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a numeric-array vector (one pass, double accumulator; codegen
  * like [[VectorDotExpr]] — it rides in the same hot projections). */
case class VectorNormExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(org.apache.spark.sql.graftbridge.TypeBridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_norm"

  private lazy val isFloat = VectorElem.isFloat(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = VectorElem.get(arr, i, isFloat)
      acc += x * x
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $get;
         |  $acc += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Unit-normalize a numeric-array vector → `array<double>`; zero vectors pass
 * through unchanged (cosine against them is defined as 0 downstream).
 */
case class NormalizeVectorExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(org.apache.spark.sql.graftbridge.TypeBridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "normalize_vector"

  private lazy val isFloat = VectorElem.isFloat(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = VectorElem.get(arr, i, isFloat)
      out(i) = x
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    if (norm > 0.0) {
      var j = 0
      while (j < n) { out(j) /= norm; j += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * k-token shingles of an `array<string>` token column in ONE imperative
 * pass — bit-identical to the declarative formulation
 * `array_distinct(transform(sequence(1, greatest(size(toks)-(k-1), 1)),
 * i => concat_ws(" ", slice(toks, i, k))))` that
 * [[graft.operators.Dedup.shinglesOfTokensHof]] keeps for the equivalence
 * spec (ShinglesExprSpec pins both on the corner fixtures).
 *
 * Why (r14 optimization round): shingling is the shared leading cost of
 * every sketch query — an isolated stagewise min-of-5 measured the HOF
 * chain at 0.6 s of the 0.8 s tokens→shingles step over the 55k-doc corpus
 * (vs ~0.05 s for the md5/xxhash64 hashing it feeds), because each of the
 * ~n shingles pays an interpreted lambda walk, a `slice` array allocation,
 * and a generic `concat_ws` dispatch, then `array_distinct` re-walks the
 * result. One imperative loop with a LinkedHashSet does the same work in
 * O(total bytes).
 *
 * Semantics replicated exactly, including the documented short-doc
 * fallback (fewer than k tokens ⇒ ONE truncated shingle — the whole text)
 * and the degenerate inputs: a NULL token array and an empty token array
 * both yield `[""]` (the HOF chain's `greatest(null/−k, 1)` + null-skipping
 * `concat_ws` produce exactly that), and NULL elements are skipped by
 * `UTF8String.concatWs` just as `concat_ws` skips them. First-occurrence
 * order is preserved (`array_distinct` semantics).
 */
case class ShinglesOfTokensExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(k >= 1, s"shingles_of_tokens: k must be >= 1, got $k")

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // never null: degenerate inputs produce [""], mirroring the HOF chain
  // (greatest(_, 1) keeps the sequence non-empty even for null/short input)
  override def nullable: Boolean = false
  override def prettyName: String = "shingles_of_tokens"

  private val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val v = child.eval(input)
    if (v == null)
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = math.max(n - (k - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var i = 0
    while (i < m) {
      val end = math.min(i + k, n)
      val parts = new Array[UTF8String](math.max(end - i, 0))
      var j = i
      while (j < end) {
        parts(j - i) = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
        j += 1
      }
      // concatWs COPIES bytes, so results never alias a reused row buffer
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * POSITIONAL n-grams of an `array<string>` token column in one pass — the
 * non-distinct sibling of [[ShinglesOfTokensExpr]], covering the two HOF
 * formulations the operators used (both pinned equivalent in
 * ShinglesExprSpec):
 *
 *  - `emitShortDoc = true` — [[graft.text.TextAnalysis.repetitionMetricsOfTokens]]'
 *    gram stream: `transform(sequence(1, greatest(size-(n-1), 1)),
 *    i => concat_ws(" ", slice(toks, i, n)))` — a doc shorter than n emits
 *    its whole text as one truncated gram; null/empty input yields [""].
 *  - `emitShortDoc = false` — [[graft.operators.Dedup.exciseDuplicateSpans]]'
 *    positional grams: `when(size >= n, transform(sequence(0, size-n),
 *    i => concat_ws(" ", slice(toks, i+1, n)))).otherwise(empty)` — exact
 *    n-token resolution only; short/null docs emit NOTHING (a report can be
 *    inclusive, a cut cannot — see that operator's scaladoc).
 *
 * Element order is position order, so `posexplode` positions are the gram
 * start indices, exactly as with the HOF form.
 */
case class NgramsOfTokensExpr(child: Expression, n: Int, emitShortDoc: Boolean)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(n >= 1, s"ngrams_of_tokens: n must be >= 1, got $n")

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "ngrams_of_tokens"

  private val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val v = child.eval(input)
    if (v == null)
      return if (emitShortDoc)
        new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
      else new GenericArrayData(Array.empty[Any])
    val arr = v.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n && !emitShortDoc) return new GenericArrayData(Array.empty[Any])
    val m = math.max(len - (n - 1), 1)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val end = math.min(i + n, len)
      val parts = new Array[UTF8String](math.max(end - i, 0))
      var j = i
      while (j < end) {
        parts(j - i) = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
        j += 1
      }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Count of array<string> elements contained in a literal string set — the
 * one-pass twin of `size(filter(toks, tk => array_contains(array(lits…),
 * tk)))`, which pays an interpreted lambda plus a linear array_contains
 * scan per token. Used for the stopword counts on the quality/filter hot
 * paths. NULL input → NULL (like size(null)); NULL elements don't count
 * (array_contains(_, null) is never true).
 *
 * Config sensitivity (r14 advice): the NULL-input equivalence holds under
 * `spark.sql.legacy.sizeOfNull = false` (the Spark 3.1+/ANSI default this
 * engine runs with everywhere — bench, verify, tests); a session running
 * with legacy size-of-null semantics gets `size(null) = -1` from the HOF
 * chain while this expression stays NULL. No caller feeds null token
 * arrays (the tokenizer maps null text to null BEFORE the count, and every
 * consumer guards on the text side), so the divergence is unreachable in
 * the declared queries — but don't swap this in for the HOF form in a
 * legacy-configured session.
 */
case class CountInSetExpr(child: Expression, items: Seq[String])
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in_set"

  @transient private lazy val set = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](items.size * 2)
    items.foreach(i => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(i)))
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    var c = 0
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Thread-local MD5 instance shared by the md5-hashing expressions:
  * `MessageDigest` is stateful (NOT thread-safe, so a plain lazy val would
  * be wrong), and `getInstance` per row is avoidable provider-lookup
  * overhead on the sketch hot paths (r14 advice). Spark's
  * one-task-one-thread execution model makes ThreadLocal reuse safe; the
  * instance is reset before every hand-out. */
private[expressions] object Md5Local {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def get(): java.security.MessageDigest = {
    val md = local.get()
    md.reset()
    md
  }
}

/**
 * One-pass whitespace tokenizer — bit-identical to
 * `split(trim(lower(text)), "\\s+")`, the [[graft.text.TextAnalysis.tokens]]
 * chain every text/sketch path starts from (kept there as `tokensHof` for
 * the equivalence spec; the DuckDB oracles replay this tokenization in SQL,
 * so the semantics below are pinned operator by operator, and
 * TokensExprSpec fuzzes the equivalence over adversarial whitespace):
 *
 *  - `lower` is `CollationSupport.Lower.exec(v, UTF8_BINARY, useICU)` with
 *    `useICU = spark.sql.icu.caseMappings.enabled` resolved lazily per
 *    expression instance — exactly what the `Lower` expression does. The
 *    fast path below applies plain ASCII `A–Z`+32 lowering only to
 *    FULL-ASCII strings, where the JVM and ICU case mappings agree
 *    byte-for-byte; any non-ASCII byte bails to the verbatim
 *    `CollationSupport` call (ICU can change byte LENGTH there — İ → i̇).
 *  - Input is UTF8_BINARY only. `inputTypes` is the plain `StringType`,
 *    and analysis does not cast a collated string to it: a `STRING COLLATE
 *    tr_CI` / `UNICODE_CI` / `UTF8_LCASE` argument fails with
 *    `DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE`. So no locale-aware case
 *    mapping (Turkish I → ı) can reach the ASCII lowering, and TokensExprSpec
 *    pins the rejection.
 *  - `trim` strips 0x20 SPACES only (`UTF8String.trim()`), never other
 *    whitespace — a leading tab survives the trim, and Java split then
 *    emits a leading "" field.
 *  - `split(s, "\\s+")` is `java.lang.String.split` with limit −1
 *    (`UTF8String.split` delegates to it): fields between MAXIMAL runs of
 *    the six ASCII `\s` chars `[ \t\n\x0B\f\r]`; a positive-width match at
 *    position 0 yields a leading "" field; limit −1 keeps the trailing ""
 *    field; no match returns the input itself, so "" → [""] and an
 *    all-whitespace remainder → ["", ""]. Every `\s` char is a single
 *    UTF-8 byte and continuation bytes are ≥ 0x80, so a byte-level scan is
 *    exact even inside multi-byte text; Unicode whitespace (NBSP, U+2028,
 *    U+3000, NEL, …) is NOT `\s` in default Java regex mode and is treated
 *    as token bytes, matching the regex.
 *
 * Why (r15, guide §4): the chain pays a lowercase copy, a UTF-16
 * `toString`, a regex-engine scan, and a per-field String→UTF8String
 * re-encode for EVERY row of EVERY text query — measured as the leading
 * remaining per-row scalar after the r14 shingle work. This expression is
 * one byte scan with per-token byte copies (ASCII lowering fused into the
 * copy on the fast path).
 */
case class WhitespaceTokensExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(StringType)
  // containsNull stays TRUE to mirror split()'s ArrayType(StringType) even
  // though no null element is ever produced — a drop-in swap must not
  // change the schema downstream operators resolve against
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "tokens_ws"

  // resolved lazily from the session conf, exactly like Lower's useICU
  @transient private lazy val useICU: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < n) {
      if (s.getByte(i) < 0) ascii = false
      i += 1
    }
    if (ascii) fastAscii(s, n) else slow(s)
  }

  /** FULL-ASCII path: lower + trim + split fused into one scan over the
    * input's own bytes; A–Z lowering happens during the per-token copy. */
  private def fastAscii(s: UTF8String, n: Int): GenericArrayData = {
    // trim(): 0x20 spaces only, both ends
    var from = 0
    while (from < n && s.getByte(from) == 0x20) from += 1
    var until = n
    while (until > from && s.getByte(until - 1) == 0x20) until -= 1
    if (from >= until)
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val out = new java.util.ArrayList[AnyRef](8)
    var start = from
    var i = from
    while (i < until) {
      if (isWs(s.getByte(i))) {
        out.add(tokenOf(s, start, i)) // "" exactly when the range starts with ws
        i += 1
        while (i < until && isWs(s.getByte(i))) i += 1
        start = i
      } else i += 1
    }
    out.add(tokenOf(s, start, until)) // trailing field; "" when range ends with ws
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  private def tokenOf(s: UTF8String, from: Int, until: Int): UTF8String = {
    if (until == from) return UTF8String.EMPTY_UTF8
    val b = new Array[Byte](until - from)
    var k = 0
    while (k < b.length) {
      val c = s.getByte(from + k)
      b(k) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      k += 1
    }
    UTF8String.fromBytes(b)
  }

  /** Non-ASCII path: the verbatim Lower + trim calls, then the same exact
    * byte-split (see scaladoc for why byte-level splitting is exact). The
    * split slices wrap `b` without copying: `lowered` is always a fresh
    * private buffer here (a non-ASCII input never takes UTF8String's
    * return-this ASCII shortcut), never a reused scan/row buffer. */
  private def slow(s0: UTF8String): GenericArrayData = {
    val lowered = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
      .exec(s0, org.apache.spark.sql.catalyst.util.CollationFactory.UTF8_BINARY_COLLATION_ID,
        useICU)
    val b = lowered.trim().getBytes
    val n = b.length
    if (n == 0)
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val out = new java.util.ArrayList[AnyRef](8)
    var start = 0
    var i = 0
    while (i < n) {
      if (isWs(b(i))) {
        out.add(if (i == start) UTF8String.EMPTY_UTF8
          else UTF8String.fromBytes(b, start, i - start))
        i += 1
        while (i < n && isWs(b(i))) i += 1
        start = i
      } else i += 1
    }
    out.add(if (start == n) UTF8String.EMPTY_UTF8
      else UTF8String.fromBytes(b, start, n - start))
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Per-element xxhash64 of an `array<string>` column in one pass — the
 * array-level twin of `transform(arr, x => xxhash64(x))`, which pays an
 * interpreted lambda-tree walk per element (higher-order functions never
 * codegen). Value-identical by construction: each element's UTF-8 bytes go
 * through the same `XxHash64Function` with the same default seed 42 the
 * `xxhash64` expression uses; a NULL element hashes to the seed itself
 * (hash expressions are null-TOLERANT — `xxhash64(null)` is 42, not null),
 * so the output array never contains nulls, exactly like the transform.
 * Pinned against the HOF form in TokensExprSpec.
 */
case class XxHash64ArrayExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "xxhash64_array"

  private val seed = 42L // xxhash64's literal default

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) out(i) = seed
      else {
        // the same call XxHash64.eval makes per element
        out(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(arr.getUTF8String(i), StringType, seed)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Fused tokens→md5→SimHash-chunks: one pass over an `array<string>` token
 * column, md5-digesting each element and voting with the digest NIBBLES
 * directly — bit-identical to
 * `simhash_hex_chunks(transform(toks, t => md5(t)))` (hex digit `d` of the
 * md5 hex string IS nibble `d` of the digest: byte `i` supplies digit `2i`
 * from its high nibble and digit `2i+1` from its low nibble), without the
 * interpreted per-token lambda, the 32-char hex rendering, or the hex
 * re-parse. NULL elements cast no votes and do not count toward the
 * majority denominator, exactly as `md5(null)` → null is skipped by
 * [[SimHashHexChunksExpr]]. Pinned against the chained form in
 * TokensExprSpec; [[SimHashHexChunksExpr]] stays — the DuckDB oracle
 * replays ITS hex-digit contract, and the certified values are equal.
 */
case class SimHashMd5ChunksExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_md5_chunks"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // counts(d*4 + b) = votes for bit b of hex digit d — same layout as
    // SimHashHexChunksExpr, filled from digest nibbles instead of hex chars
    val counts = new Array[Int](128)
    val md = Md5Local.get()
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = md.digest(arr.getUTF8String(i).getBytes) // digest() resets md
        m += 1
        var bi = 0
        while (bi < 16) {
          val hi = (d(bi) >> 4) & 0xF // hex digit 2*bi
          val lo = d(bi) & 0xF        // hex digit 2*bi + 1
          val base = bi * 8
          counts(base) += hi & 1
          counts(base + 1) += (hi >> 1) & 1
          counts(base + 2) += (hi >> 2) & 1
          counts(base + 3) += (hi >> 3) & 1
          counts(base + 4) += lo & 1
          counts(base + 5) += (lo >> 1) & 1
          counts(base + 6) += (lo >> 2) & 1
          counts(base + 7) += (lo >> 3) & 1
          bi += 1
        }
      }
      i += 1
    }
    // identical chunk assembly to SimHashHexChunksExpr
    val chunks = new Array[Long](8)
    var c = 0
    while (c < 8) {
      var value = 0L
      var j = 0
      while (j < 16) {
        val digit = 4 * c + (3 - j / 4)
        if (2 * counts(digit * 4 + (j % 4)) > m) value |= (1L << j)
        j += 1
      }
      chunks(c) = value
      c += 1
    }
    new GenericArrayData(chunks)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Engine-portable 60-bit md5 hash of every element of an `array<string>`
 * column in one pass — the array-level twin of
 * `transform(arr, x => conv(substring(md5(x), 1, 15), 16, 10).cast("long"))`
 * ([[graft.operators.Dedup.portableHash60]] under a transform). The value
 * of the first 15 hex digits of the md5 equals the first 8 digest bytes
 * read big-endian, unsigned-shifted right by 4 — pure long arithmetic
 * instead of hex-string rendering + generic radix conversion per element
 * (and no interpreted lambda walk). NULL elements stay NULL (md5(null) is
 * null through the chain); pinned against the conv chain in
 * ShinglesExprSpec.
 */
case class PortableHash60ArrayExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "portable_hash60_array"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    // ThreadLocal, not getInstance-per-row (r14 advice): provider lookup on
    // the portable-sketch hot path; digest() leaves the instance reset
    val md = Md5Local.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
        out(i) = v >>> 4 // first 15 hex digits, non-negative, < 2^60
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * MinHash band-key strings of an `array<long>` signature in one pass — the
 * twin of `transform(sequence(0, bands-1), b => concat_ws(",",
 * slice(sig, b*rowsPerBand+1, rowsPerBand)))` inside
 * [[graft.operators.Dedup]]'s band stream, which re-rendered every slot
 * through a generic cast + concat_ws per band per reference (the band
 * stream is consumed three times per LSH execution). Decimal rendering is
 * `Long.toString` — exactly the long→string cast concat_ws applies. NULL
 * slots are skipped like concat_ws skips null inputs; a NULL signature
 * yields `bands` empty strings (slice(null) → null → concat_ws → ""),
 * keeping posexplode row counts identical.
 */
case class MinhashBandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(bands >= 1 && rowsPerBand >= 1,
    s"minhash_band_keys: bands and rowsPerBand must be >= 1, got $bands/$rowsPerBand")

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_band_keys"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val v = child.eval(input)
    val out = new Array[Any](bands)
    if (v == null) {
      var b = 0
      while (b < bands) { out(b) = UTF8String.EMPTY_UTF8; b += 1 }
      return new GenericArrayData(out)
    }
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sb = new java.lang.StringBuilder(rowsPerBand * 20)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, n)
      var first = true
      while (j < end) {
        if (!arr.isNullAt(j)) { // concat_ws skips nulls
          if (!first) sb.append(',')
          sb.append(arr.getLong(j))
          first = false
        }
        j += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column wrapper: one-pass whitespace tokenizer, bit-identical to
    * `split(trim(lower(text)), "\\s+")` — see [[WhitespaceTokensExpr]]. */
  def tokens_ws(text: Column): Column =
    ColumnBridge.column(WhitespaceTokensExpr(ColumnBridge.expression(text)))

  /** Column wrapper: per-element xxhash64 (seed 42) of an array<string>
    * column — the one-pass twin of `transform(arr, x => xxhash64(x))`. */
  def xxhash64_array(arr: Column): Column =
    ColumnBridge.column(XxHash64ArrayExpr(ColumnBridge.expression(arr)))

  /** Column wrapper: fused per-token md5 → portable 128-bit SimHash chunk
    * values — the one-pass twin of
    * `simhash_hex_chunks(transform(toks, md5))`. */
  def simhash_md5_chunks(toks: Column): Column =
    ColumnBridge.column(SimHashMd5ChunksExpr(ColumnBridge.expression(toks)))

  /** Column wrapper: per-element portable 60-bit md5 hash of an
    * array<string> column — see [[PortableHash60ArrayExpr]]. */
  def portable_hash60_array(arr: Column): Column =
    ColumnBridge.column(PortableHash60ArrayExpr(ColumnBridge.expression(arr)))

  /** Column wrapper: MinHash band-key strings of an array<long> signature —
    * see [[MinhashBandKeysExpr]]. */
  def minhash_band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    ColumnBridge.column(
      MinhashBandKeysExpr(ColumnBridge.expression(sig), bands, rowsPerBand))

  /** Column wrapper: k-token shingles of an array<string> token column
    * (one-pass twin of the declarative formulation — see
    * [[ShinglesOfTokensExpr]]). */
  def shingles_of_tokens(toks: Column, k: Int): Column =
    ColumnBridge.column(ShinglesOfTokensExpr(ColumnBridge.expression(toks), k))

  /** Column wrapper: positional (non-distinct) n-grams of an array<string>
    * token column — see [[NgramsOfTokensExpr]] for the two short-doc
    * conventions. */
  def ngrams_of_tokens(toks: Column, n: Int, emitShortDoc: Boolean): Column =
    ColumnBridge.column(
      NgramsOfTokensExpr(ColumnBridge.expression(toks), n, emitShortDoc))

  /** Column wrapper: count of token-array elements in a literal string set. */
  def count_in_set(toks: Column, items: Seq[String]): Column =
    ColumnBridge.column(CountInSetExpr(ColumnBridge.expression(toks), items))

  /** Column wrapper: OPH MinHash signature of an array<long> hash column. */
  def minhash_signature(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSignatureExpr(ColumnBridge.expression(hashes), numHashes))

  /** Column wrapper: 64-bit SimHash of an array<long> hash column. */
  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(hashes)))

  /** Column wrapper: 128-bit SimHash (array<long> of 2 words) of an
    * array<long> hash column. */
  def simhash128(hashes: Column): Column =
    ColumnBridge.column(SimHash128Expr(ColumnBridge.expression(hashes)))

  /** Column wrapper: engine-portable 128-bit SimHash as its eight 16-bit
    * chunk values, from an array<string> md5-hex column. */
  def simhash_hex_chunks(hexes: Column): Column =
    ColumnBridge.column(SimHashHexChunksExpr(ColumnBridge.expression(hexes)))

  /** Column wrapper: sign-LSH sketch of an array<float> vector column. */
  def sign_lsh_sketch(vec: Column, table: Int, nBits: Int): Column =
    ColumnBridge.column(
      SignLshSketchExpr(ColumnBridge.expression(vec), table, nBits))

  /** Column wrapper: engine-portable (md5-derived hyperplanes) sign-LSH
    * sketch of a numeric-array vector column. */
  def portable_sign_lsh_sketch(vec: Column, table: Int, nBits: Int): Column =
    ColumnBridge.column(
      PortableSignLshSketchExpr(ColumnBridge.expression(vec), table, nBits))

  /** Column wrapper: dot product of two numeric-array vector columns. */
  def vector_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      VectorDotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper: L2 norm of a numeric-array vector column. */
  def vector_norm(v: Column): Column =
    ColumnBridge.column(VectorNormExpr(ColumnBridge.expression(v)))

  /** Column wrapper: unit-normalize a numeric-array vector column. */
  def normalize_vector(v: Column): Column =
    ColumnBridge.column(NormalizeVectorExpr(ColumnBridge.expression(v)))

  /** Column wrapper: marker-set language ID of an array<string> token column. */
  def language_id(tokens: Column, markers: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(LanguageIdExpr(ColumnBridge.expression(tokens), markers))

  /** Column wrapper: map<term, count> of an array<string> token column. */
  def term_counts(tokens: Column): Column =
    ColumnBridge.column(TermCountsExpr(ColumnBridge.expression(tokens)))

  /** Column wrapper: Count-Min point estimate of a string item against a
    * serialized sketch column (from the `count_min_sketch` aggregate). */
  def cms_estimate(sketch: Column, item: Column): Column =
    ColumnBridge.column(
      CmsEstimateExpr(ColumnBridge.expression(sketch), ColumnBridge.expression(item)))

  /** Column wrapper: weighted Count-Min-Sketch AGGREGATE — each row inserts
    * `item` with multiplicity `weight` (additive ⇒ bit-identical to the
    * unweighted sketch of the expanded stream). */
  def cms_weighted(item: Column, weight: Column,
                   eps: Double, confidence: Double, seed: Int): Column =
    ColumnBridge.column(
      CmsWeightedAgg(ColumnBridge.expression(item),
        ColumnBridge.expression(weight), eps, confidence, seed)
        .toAggregateExpression())

  /** Column wrapper: Bloom membership probe of a string column against a
    * serialized `BloomFilter`. (Not SQL-registered — a multi-megabyte
    * filter blob has no sensible SQL-literal form.) */
  def bloom_might_contain(c: Column, filterBytes: Array[Byte]): Column =
    ColumnBridge.column(
      BloomMightContainExpr(ColumnBridge.expression(c), filterBytes))

  /**
   * Plan-time integral-literal argument (e.g. numHashes, nBits): these
   * configure the expression shape, so they must be foldable; evaluating a
   * non-foldable expression here would run it against a null row with a
   * confusing NPE. Integral literals of any width are accepted (SQL integer
   * literals default to INT, but `32L` is legal and means the same thing).
   */
  private def intLitArg(fname: String, argName: String, e: Expression,
                        min: Int = 1, max: Int = Int.MaxValue): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fname: $argName must be a literal integer, got non-foldable ${e.sql}")
    val k = e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long if l >= Int.MinValue && l <= Int.MaxValue => l.intValue()
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte => b.intValue()
      case other => throw new IllegalArgumentException(
        s"$fname: $argName must be an integral literal, got $other " +
          s"of type ${e.dataType.simpleString}")
    }
    if (k < min || k > max) throw new IllegalArgumentException(
      if (max == Int.MaxValue) s"$fname: $argName must be >= $min, got $k"
      else s"$fname: $argName must be in [$min, $max], got $k")
    k
  }

  private def arity(fname: String, n: Int)(exprs: Seq[Expression]): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$fname takes $n arguments, got ${exprs.length}")

  /** The SQL-callable function surface, injected into a session at build
    * time by [[graft.GraftExtensions]]:
    * `SELECT minhash_signature(hashes, 32), simhash64(hashes), …`. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> { exprs =>
      arity("minhash_signature", 2)(exprs)
      MinHashSignatureExpr(exprs.head,
        intLitArg("minhash_signature", "numHashes", exprs(1)))
    },
    "simhash64" -> { exprs =>
      arity("simhash64", 1)(exprs); SimHash64Expr(exprs.head)
    },
    "simhash128" -> { exprs =>
      arity("simhash128", 1)(exprs); SimHash128Expr(exprs.head)
    },
    "simhash_hex_chunks" -> { exprs =>
      arity("simhash_hex_chunks", 1)(exprs); SimHashHexChunksExpr(exprs.head)
    },
    "sign_lsh_sketch" -> { exprs =>
      arity("sign_lsh_sketch", 3)(exprs)
      SignLshSketchExpr(exprs.head,
        intLitArg("sign_lsh_sketch", "table", exprs(1), min = 0),
        intLitArg("sign_lsh_sketch", "nBits", exprs(2), max = 64))
    },
    "vector_dot" -> { exprs =>
      arity("vector_dot", 2)(exprs); VectorDotExpr(exprs.head, exprs(1))
    },
    "vector_norm" -> { exprs =>
      arity("vector_norm", 1)(exprs); VectorNormExpr(exprs.head)
    },
    "term_counts" -> { exprs =>
      arity("term_counts", 1)(exprs); TermCountsExpr(exprs.head)
    },
    "normalize_vector" -> { exprs =>
      arity("normalize_vector", 1)(exprs); NormalizeVectorExpr(exprs.head)
    },
    "unicode_normalize" -> { exprs =>
      if (exprs.length < 1 || exprs.length > 2)
        throw new IllegalArgumentException(
          s"unicode_normalize takes 1-2 arguments, got ${exprs.length}")
      val form = if (exprs.length == 1) "NFC" else {
        if (!exprs(1).foldable)
          throw new IllegalArgumentException(
            "unicode_normalize: form must be a literal string")
        exprs(1).eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"unicode_normalize: form must be a string literal, got $other")
        }
      }
      UnicodeNormalizeExpr(exprs.head, form)
    })
}
