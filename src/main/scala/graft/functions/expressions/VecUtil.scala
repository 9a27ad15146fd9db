package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels called from generated code (Scala object methods are
  * reachable from Janino via their static forwarders). Sums run
  * left-to-right in element order — identical to the higher-order
  * `aggregate` fold they replace and to the DuckDB oracle's
  * `list_reduce`, so swapping implementations cannot change results. */
object VecUtil {

  /** The kernels require DENSE arrays: through the unsafe accessors a
    * null element reads as 0.0 / 0 / "" (silently wrong results), and
    * through the generic path it NPEs with no context. Fail loudly with
    * the kernel name instead; inputs here are short (embedding dims,
    * token lists), so the null-bit scan is noise next to the work. */
  private def requireDense(a: ArrayData, kernel: String): Unit = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        s"$kernel: null array element at position $i — native kernels require " +
          "dense arrays (filter or fill nulls first)")
      i += 1
    }
  }

  /** Silent min-length truncation would mask corrupt/ragged vectors
    * (e.g. assigning a short vector to the wrong k-means cell via a
    * tiny prefix distance) — mismatched lengths are an error. */
  private def requireSameLen(a: ArrayData, b: ArrayData, kernel: String): Unit =
    if (a.numElements() != b.numElements()) throw new IllegalArgumentException(
      s"$kernel: array length mismatch ${a.numElements()} vs ${b.numElements()}")

  /** Dot product of two double arrays. */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    requireSameLen(a, b, "dot_product"); requireDense(a, "dot_product"); requireDense(b, "dot_product")
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Dot product of two float arrays, accumulated in double (each float
    * widens exactly, matching cast-then-multiply semantics). */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    requireSameLen(a, b, "dot_product"); requireDense(a, "dot_product"); requireDense(b, "dot_product")
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  private val P = 1000000007L

  /** floor(v[i] * scale) per dim — the shared integer quantizer the IVF
    * coarse quantizer trains on. Float widens to double exactly and
    * IEEE multiply/floor are bit-identical across engines, so the
    * quantized grid (and everything k-means derives from it) is
    * engine-portable with NO FP accumulation-order sensitivity. */
  def quantizeVec(a: ArrayData, scale: Double): ArrayData = {
    requireDense(a, "quantize_vec")
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = a.getFloat(i)
      // floor(NaN) silently lands on 0 and Inf on Long.MaxValue — a
      // corrupt element must fail loudly (the requireDense discipline),
      // not quietly place the vector near the zero cell
      if (!java.lang.Float.isFinite(v))
        throw new IllegalArgumentException(s"quantize_vec: non-finite element $v")
      out(i) = math.floor(v.toDouble * scale).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Symmetric per-vector int8 quantization: scale = 127/max|v|,
    * q[i] = floor(v[i] * scale) in [-128, 127] (floor rounds toward
    * -infinity, so the most negative element can land on -128 — exactly
    * int8's range). All-zero vectors map to all-zero codes (scale would
    * be infinite). One double multiply + floor per dim — exact IEEE,
    * mirrored by the oracle. */
  def quantizeInt8(a: ArrayData): ArrayData = {
    requireDense(a, "quantize_int8")
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val f = a.getFloat(i)
      if (!java.lang.Float.isFinite(f))
        throw new IllegalArgumentException(s"quantize_int8: non-finite element $f")
      val v = math.abs(f.toDouble)
      if (v > mx) mx = v
      i += 1
    }
    val out = new Array[Long](n)
    if (mx > 0) {
      val s = 127.0 / mx
      i = 0
      while (i < n) {
        out(i) = math.floor(a.getFloat(i).toDouble * s).toLong
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Exact squared L2 distance between two long vectors. */
  def sqDistL(a: ArrayData, b: ArrayData): Long = {
    requireSameLen(a, b, "sq_dist_l"); requireDense(a, "sq_dist_l"); requireDense(b, "sq_dist_l")
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Exact dot product of two long vectors (int8-code ANN ranking —
    * BIGINT arithmetic, no FP anywhere). */
  def dotL(a: ArrayData, b: ArrayData): Long = {
    requireSameLen(a, b, "dot_l"); requireDense(a, "dot_l"); requireDense(b, "dot_l")
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** PQ asymmetric-distance lookup: Σ_s lut[s·ksub + codes[s]] over the
    * m subspace codes of one neighbor against one query's flattened
    * m×ksub distance table ([[graft.operators.Pq]]). Pure BIGINT — the
    * ADC ranking is bit-portable end to end. Out-of-range codes fail
    * loudly (a code ≥ ksub means the codes and the codebook disagree —
    * scanning garbage LUT slots would silently mis-rank). */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Long = {
    requireDense(codes, "pq_adc"); requireDense(lut, "pq_adc")
    val m = codes.numElements()
    if (lut.numElements() != m.toLong * ksub) throw new IllegalArgumentException(
      s"pq_adc: LUT length ${lut.numElements()} != m($m) * ksub($ksub)")
    var s = 0L
    var i = 0
    while (i < m) {
      val c = codes.getLong(i)
      if (c < 0 || c >= ksub) throw new IllegalArgumentException(
        s"pq_adc: code $c at subspace $i outside [0, $ksub)")
      s += lut.getLong(i * ksub + c.toInt)
      i += 1
    }
    s
  }

  /** Token count of a space-separated string under `split(s, " ")`
    * semantics — count of 0x20 bytes + 1 (split keeps empty tokens, so
    * the identity is exact for every input, including "" and runs of
    * spaces). Byte scan is UTF-8-safe: 0x20 never occurs inside a
    * multi-byte sequence. No array materialization — this is what makes
    * token counting ~decode-speed instead of split-speed. */
  def tokenCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var c = 1
    var i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) c += 1
      i += 1
    }
    c
  }

  /** Polynomial rolling hash h = (h*mult + codepoint) mod P over a UTF-8
    * string. ASCII fast path reads bytes directly; non-ASCII falls back
    * to a codepoint loop (same value the per-char `ascii()` fold
    * produces). Different multipliers give independent hash families
    * (31 is the default; 131 is the second family used to widen SimHash
    * fingerprints beyond the 30 bits a single mod-P value carries). */
  def polyHash(s: UTF8String): Long = polyHash(s, 31L)

  def polyHash(s: UTF8String, mult: Long): Long = {
    val n = s.numBytes()
    var h = 0L
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return polyHashSlow(s, mult)
      h = (h * mult + b) % P
      i += 1
    }
    h
  }

  /** MinHash permutation constants: a_i, b_i < P, deterministic (the
    * single source; NearDup and the oracle SQL both read these). */
  def permA(i: Int): Long = (104729L * (i + 1)) % P
  def permB(i: Int): Long = (104659L * (i + 1)) % P

  /** k MinHash signature values over the token n-grams of a document,
    * one row-local pass — the fused form of shingle + polyHash + k
    * permutation mins. Identical values to the column formulation
    * (array_distinct(shingles) -> polyHash -> k array_min passes,
    * [[graft.operators.NearDup.minHashSignaturesCols]]) because a min
    * over the n-gram multiset equals the min over the distinct set.
    *
    * The n-gram hash is built incrementally from per-token hashes
    * without materializing the joined string: polyHash of
    * "t1 t2 ... tn" = fold of (h * 31^steps(t_j) + polyHash(t_j)) with
    * an (h*31 + 32) space step between tokens — algebraically equal to
    * hashing the concatenated string, asserted in EquivalenceSpec.
    * Returns null when the doc has fewer than n tokens (the
    * shingle-set formulation drops those docs). */
  def minHashSigs(tokens: ArrayData, n: Int, k: Int): ArrayData = {
    // built ON [[gramHashes]] — the two hash families must stay
    // byte-identical, so there is exactly one gram-fold loop to change;
    // the (t-n+1)-long intermediate is noise next to th/tp
    val hs = gramHashes(tokens, n)
    if (hs == null) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var g = 0
    while (g < hs.length) {
      val h = hs(g)
      var x = 0
      while (x < k) {
        val v = (h * permA(x) + permB(x)) % P
        if (v < mins(x)) mins(x) = v
        x += 1
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Positional n-gram hashes: element g is the mod-P polyHash of the
    * space-joined gram starting at token g (identical hash to
    * [[shingleHashes]] / [[minHashSigs]], positions preserved). Null
    * when the doc has fewer than n tokens. */
  def gramHashes(tokens: ArrayData, n: Int): Array[Long] = {
    requireDense(tokens, "gram_hashes")
    val t = tokens.numElements()
    if (t < n) return null
    val th = new Array[Long](t)
    val tp = new Array[Long](t)
    var i = 0
    while (i < t) {
      val s = tokens.getUTF8String(i)
      th(i) = polyHash(s, 31L)
      tp(i) = pow31(s)
      i += 1
    }
    val hs = new Array[Long](t - n + 1)
    var g = 0
    while (g <= t - n) {
      var h = 0L
      var j = g
      while (j < g + n) {
        if (j > g) h = (h * 31 + 32) % P
        h = (h * tp(j) + th(j)) % P
        j += 1
      }
      hs(g) = h
      g += 1
    }
    hs
  }

  /** Rebuild a space-joined document from `tokens`, dropping every
    * token whose 0-based index falls in any [starts(i), ends(i))
    * interval. Intervals must be sorted and non-overlapping (the merged
    * islands the span-dedup window produces) — one merge-scan, no
    * per-token interval search. */
  def exciseSpans(tokens: ArrayData, starts: ArrayData,
      ends: ArrayData): UTF8String = {
    requireSameLen(starts, ends, "excise_spans")
    requireDense(tokens, "excise_spans")
    requireDense(starts, "excise_spans"); requireDense(ends, "excise_spans")
    val t = tokens.numElements()
    val m = starts.numElements()
    val kept = new java.util.ArrayList[UTF8String](t)
    var iv = 0
    var i = 0
    while (i < t) {
      while (iv < m && ends.getLong(iv) <= i) iv += 1
      if (!(iv < m && starts.getLong(iv) <= i)) kept.add(tokens.getUTF8String(i))
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      kept.toArray(new Array[UTF8String](kept.size)): _*)
  }

  /** Spread the lower 31 bits of v to even bit positions (Morton
    * encoding half-step): bit i of (v & 0x7fffffff) lands at bit 2i. */
  def spread31(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** 62-bit Morton (Z-order) interleave of two keys' lower 31 bits:
    * x's bit i at position 2i, y's at 2i+1. Monotone in each key when
    * the other is fixed, and close in z ⇒ close in BOTH keys — the
    * property that makes one sort column cluster two dimensions. */
  def interleaveBits(x: Long, y: Long): Long =
    spread31(x) | (spread31(y) << 1)

  /** [[gramHashes]] boxed for the positional_shingle_hashes expression. */
  def positionalShingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val hs = gramHashes(tokens, n)
    if (hs == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(hs)
  }

  /** Distinct, sorted n-gram shingle hashes of a token array — the
    * row-local fused form of shingle-string building + polyHash +
    * array_distinct (same incremental gram hash as [[minHashSigs]]).
    * Null when the doc has fewer than n tokens. */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val hs = gramHashes(tokens, n) // gramHashes runs requireDense itself

    if (hs == null) return null
    java.util.Arrays.sort(hs)
    var w = 1
    var r = 1
    while (r < hs.length) {
      if (hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hs, w))
  }

  /** One-pass repetition statistics over a space-separated document —
    * the fused form of the Gopher-style pair
    * (dup-token fraction, top-bigram fraction): one byte scan finds the
    * token boundaries, exact-distinct tokens are counted via byte
    * equality over zero-copy slices (identical to `array_distinct` on
    * the split array), and bigram mod-P hashes are built incrementally
    * ([[minHashSigs]]'s gram identity) then sorted for the max
    * multiplicity. Replaces three `split` materializations plus
    * interpreted `transform`/`aggregate` lambdas with one call.
    * Returns (dup_token_frac, top_bigram_frac); the bigram field is
    * null for docs with fewer than 2 tokens, mirroring the column
    * formulation's NULL. */
  def repetitionStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val n = b.length
    // token boundaries under split(s, " ") semantics (empty tokens kept)
    var t = 1
    var i = 0
    while (i < n) { if (b(i) == 0x20) t += 1; i += 1 }
    val th = new Array[Long](t)
    val tp = new Array[Long](t)
    val seen = new java.util.HashSet[UTF8String](t * 2)
    var nd = 0
    var tok = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        val slice = UTF8String.fromBytes(b, start, i - start)
        th(tok) = polyHash(slice, 31L)
        tp(tok) = pow31(slice)
        if (seen.add(slice)) nd += 1
        tok += 1
        start = i + 1
      }
      i += 1
    }
    val dup = (t - nd).toDouble / t.toDouble
    val top: Any = if (t < 2) null else {
      val bg = new Array[Long](t - 1)
      var g = 0
      while (g < t - 1) {
        var h = (th(g) * 31 + 32) % P
        h = (h * tp(g + 1) + th(g + 1)) % P
        bg(g) = h
        g += 1
      }
      java.util.Arrays.sort(bg)
      var best = 1
      var run = 1
      var r = 1
      while (r < bg.length) {
        if (bg(r) == bg(r - 1)) { run += 1; if (run > best) best = run }
        else run = 1
        r += 1
      }
      best.toDouble / (t - 1).toDouble
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](dup, top))
  }

  /** Distinct terms of a token array with their in-document counts, in
    * first-occurrence order — the row-local form of
    * `groupBy(doc, term).count()`: term frequencies never need a
    * corpus-wide doc+term shuffle, because every doc's tokens live in
    * one row to begin with. Keys inserted into the map are defensively
    * copied (the incoming UTF8Strings can point into reused codegen
    * buffers). */
  def termCounts(tokens: ArrayData): ArrayData = {
    requireDense(tokens, "term_counts")
    val n = tokens.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Int]](n * 2)
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val c = counts.get(t)
      if (c == null) counts.put(t.clone(), Array(1)) else c(0) += 1
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0).toLong))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Occurrence counts of a SMALL fixed term set over a token array:
    * (term, tf) structs for the set terms that occur, empty array
    * otherwise — the row-local feed for keyword scoring (BM25), where
    * exploding the full per-doc vocabulary just to discard everything
    * but a handful of query terms would dominate the plan. Linear probe
    * per token (UTF8String.equals short-circuits on length): the right
    * trade for query-batch-sized sets. */
  def termSetCounts(tokens: ArrayData, terms: Array[UTF8String]): ArrayData = {
    requireDense(tokens, "term_set_counts")
    val n = tokens.numElements()
    val k = terms.length
    val counts = new Array[Long](k)
    var any = false
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      var j = 0
      while (j < k) {
        if (terms(j).equals(t)) { counts(j) += 1; any = true; j = k }
        else j += 1
      }
      i += 1
    }
    if (!any)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    var m = 0
    var j = 0
    while (j < k) { if (counts(j) > 0) m += 1; j += 1 }
    val out = new Array[Any](m)
    var w = 0
    j = 0
    while (j < k) {
      if (counts(j) > 0) {
        out(w) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](terms(j), counts(j)))
        w += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-occurrence bigram hash pairs of a token array: one
    * (h1, h2) = (polyHash(w1), polyHash("w1 w2")) row per ADJACENT token
    * pair, order preserved, duplicates kept — the row-local feed for
    * bigram language-model counting (c(w1 .) and c(w1 w2) are counts
    * over these rows). Same incremental gram-hash identity as
    * [[minHashSigs]]; no gram strings are materialized. Empty array for
    * docs with fewer than 2 tokens. */
  def bigramHashPairs(tokens: ArrayData): ArrayData = {
    requireDense(tokens, "bigram_hash_pairs")
    val t = tokens.numElements()
    if (t < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val th = new Array[Long](t)
    val tp = new Array[Long](t)
    var i = 0
    while (i < t) {
      val s = tokens.getUTF8String(i)
      th(i) = polyHash(s, 31L)
      tp(i) = pow31(s)
      i += 1
    }
    val out = new Array[Any](t - 1)
    var g = 0
    while (g < t - 1) {
      var h = (th(g) * 31 + 32) % P
      h = (h * tp(g + 1) + th(g + 1)) % P
      out(g) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](th(g), h))
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** fastText-style linear text-classifier logit in integer milli-units:
    * the feature bag is every unigram occurrence plus every adjacent
    * bigram occurrence, each hashed into `buckets` buckets (unigram hash
    * = [[polyHash]] of the token; bigram hash = polyHash of
    * "w1 w2" built incrementally like [[bigramHashPairs]]), and each
    * bucket carries the fixed deterministic pseudo-weight
    * `w(b) = ((b*2654435761 + 40503) mod 2001) - 1000` — milli-units in
    * [-1000, 1000], a stand-in for trained weights (the container has no
    * model artifacts; swapping in a real weight table changes only this
    * one arithmetic line). The sum over all 2t-1 features is exact
    * BIGINT — order-free and engine-portable; callers derive the
    * sigmoid score from (logit_milli, n_features) at the end. */
  def linearLogit(tokens: ArrayData, buckets: Int): Long = {
    requireDense(tokens, "linear_logit")
    val t = tokens.numElements()
    var sum = 0L
    var prevH = 0L
    var i = 0
    while (i < t) {
      val s = tokens.getUTF8String(i)
      val h = polyHash(s, 31L)
      sum += featWeight(h % buckets)
      if (i > 0) {
        val bg = (((prevH * 31 + 32) % P) * pow31(s) + h) % P
        sum += featWeight(bg % buckets)
      }
      prevH = h
      i += 1
    }
    sum
  }

  /** The fixed pseudo-weight table as arithmetic: Knuth-mix the bucket
    * id into [-1000, 1000] milli-units. b < 2^31 keeps b*2654435761
    * within int64. */
  @inline private def featWeight(b: Long): Long =
    ((b * 2654435761L + 40503L) % 2001L) - 1000L

  /** 31^steps(s) mod P, where steps is the number of fold steps
    * [[polyHash]] takes for `s` (bytes on the ASCII fast path,
    * codepoints otherwise). */
  private def pow31(s: UTF8String): Long = {
    val nb = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < nb) { if (s.getByte(i) < 0) ascii = false; i += 1 }
    val steps =
      if (ascii) nb
      else { val str = s.toString; str.codePointCount(0, str.length) }
    var r = 1L
    var b = 31L
    var e = steps
    while (e > 0) {
      if ((e & 1) == 1) r = r * b % P
      b = b * b % P
      e >>= 1
    }
    r
  }

  /** 60-bit SimHash fingerprint of a token array, one row-local pass:
    * per token, hash = two independent mod-P families side by side
    * (bits 0-29 from the *31 family, 30-59 from *131 — one mod-P value
    * carries only 30 varying bits); fingerprint bit b is set when more
    * than half the tokens have hash bit b set (2*ones > n, identical to
    * the sign of the +-1 occurrence sum the aggregate formulation
    * computes). Bit-for-bit equal to [[graft.operators.NearDup.simHashAgg]]
    * — asserted in EquivalenceSpec — with no explode and no shuffle. */
  def simHash60(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](60)
    var total = 0
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      // dense-array contract like every sibling kernel: silently
      // fingerprinting the non-null subset would produce wrong dedup
      // keys with no error
      if (t == null)
        throw new IllegalArgumentException("sim_hash60: null token element")
      val h = polyHash(t, 31L) + (polyHash(t, 131L) << 30)
      var b = 0
      while (b < 60) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      total += 1
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) > total) fp |= 1L << b; b += 1 }
    fp
  }

  /** IEEE 754 binary16 (2 little-endian bytes, the Parquet FLOAT16
    * physical layout) -> binary32. Exact: every half value is a float.
    * Mirrors the reference's fp16 decode path
    * (hybridbackend/common/arrow.cc:48-73); same contract as JDK 21's
    * Float.float16ToFloat (unavailable on 17). */
  def halfToFloat(bytes: Array[Byte]): Float = {
    if (bytes.length != 2)
      throw new IllegalArgumentException(
        s"half_to_float expects 2-byte fp16 values, got ${bytes.length} bytes")
    halfBitsToFloat(((bytes(1) & 0xFF) << 8) | (bytes(0) & 0xFF))
  }

  def halfBitsToFloat(h: Int): Float = {
    val sign = (h & 0x8000) << 16
    val e = (h >> 10) & 0x1F
    val m = h & 0x3FF
    val f =
      if (e == 0x1F) sign | 0x7F800000 | (m << 13) // Inf / NaN
      else if (e == 0) {
        if (m == 0) sign // signed zero
        else { // subnormal half -> normal float
          var mm = m
          var ex = -1
          while ((mm & 0x400) == 0) { mm <<= 1; ex += 1 }
          sign | ((127 - 15 - ex) << 23) | ((mm & 0x3FF) << 13)
        }
      } else sign | ((e - 15 + 127) << 23) | (m << 13)
    java.lang.Float.intBitsToFloat(f)
  }

  // ---- PII redaction scanner -------------------------------------------
  // Hand-rolled byte matchers replicating EXACTLY the three-pass regex
  // chain of TextFunctions.redactPii (java.util.regex and RE2 agree on
  // these patterns; EquivalenceSpec fuzzes the kernel against the regex
  // formulation). Byte-wise scanning is UTF-8-safe: every class char is
  // ASCII and multi-byte sequences never contain ASCII bytes.

  private def isDigitB(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isAlphaB(b: Byte): Boolean = b >= 'a' && b <= 'z'
  // [a-z0-9._%+-]
  private def isLocalB(b: Byte): Boolean =
    isAlphaB(b) || isDigitB(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  // [a-z0-9.-]
  private def isDomainB(b: Byte): Boolean =
    isAlphaB(b) || isDigitB(b) || b == '.' || b == '-'
  // [0-9()./ -]
  private def isPhoneBodyB(b: Byte): Boolean =
    isDigitB(b) || b == '(' || b == ')' || b == '.' || b == '/' || b == ' ' || b == '-'

  /** Match end (exclusive) of `[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}`
    * anchored at `p`, or -1. Mirrors greedy-with-backtrack: maximal
    * local run must land on '@'; the final dot is the LAST dot in the
    * maximal domain run with >= 2 letters after it. */
  private def matchEmail(b: Array[Byte], p: Int): Int = {
    val n = b.length
    if (!isLocalB(b(p))) return -1
    var q = p
    while (q < n && isLocalB(b(q))) q += 1
    if (q >= n || b(q) != '@') return -1
    val r0 = q + 1
    var r = r0
    while (r < n && isDomainB(b(r))) r += 1
    if (r == r0) return -1
    var d = r - 1
    while (d >= r0 + 1) {
      if (b(d) == '.') {
        var e = d + 1
        while (e < n && isAlphaB(b(e))) e += 1
        if (e - (d + 1) >= 2) return e
      }
      d -= 1
    }
    -1
  }

  /** Match end of `([0-9]{1,3}\.){3}[0-9]{1,3}` at `p`, or -1. A group's
    * digit run longer than 3 can never land on its dot (backtrack puts a
    * digit where the dot must be), so runs of 1-3 followed by '.' are
    * the only shapes; the final octet greedily takes up to 3 digits. */
  private def matchIpv4(b: Array[Byte], p: Int): Int = {
    val n = b.length
    var i = p
    var g = 0
    while (g < 3) {
      var l = 0
      while (i + l < n && isDigitB(b(i + l))) l += 1
      if (l == 0 || l > 3 || i + l >= n || b(i + l) != '.') return -1
      i += l + 1
      g += 1
    }
    var l = 0
    while (i + l < n && isDigitB(b(i + l))) l += 1
    if (l == 0) -1 else i + math.min(l, 3)
  }

  /** Match end of `\+?\(?[0-9][0-9()./ -]{6,}[0-9]` at `p`, or -1. The
    * body is the maximal body-class run after the first digit; the final
    * digit is the last digit inside it at distance >= 7 (6 body chars +
    * the closing digit). Shorter optional prefixes need no retry: they
    * put a non-digit under `[0-9]` and fail identically. */
  private def matchPhone(b: Array[Byte], p: Int): Int = {
    val n = b.length
    var i = p
    if (b(i) == '+') i += 1
    if (i < n && b(i) == '(') i += 1
    if (i >= n || !isDigitB(b(i))) return -1
    val d0 = i
    var e = d0 + 1
    while (e < n && isPhoneBodyB(b(e))) e += 1
    var j = e - 1
    while (j >= d0 + 7 && !isDigitB(b(j))) j -= 1
    if (j >= d0 + 7 && isDigitB(b(j))) j + 1 else -1
  }

  private def redactPass(in: Array[Byte], tag: Array[Byte],
      matcher: (Array[Byte], Int) => Int): Array[Byte] = {
    var p = 0
    var out: java.io.ByteArrayOutputStream = null
    var from = 0 // start of the pending unwritten non-match span
    val n = in.length
    while (p < n) {
      val e = matcher(in, p)
      if (e >= 0) {
        if (out == null) out = new java.io.ByteArrayOutputStream(n) // lazy: clean strings copy nothing
        // flush the non-match span in ONE bulk write — per-byte
        // ByteArrayOutputStream.write(int) is synchronized and was the
        // post-first-match hot path
        out.write(in, from, p - from)
        out.write(tag, 0, tag.length)
        p = e
        from = e
      } else {
        p += 1
      }
    }
    if (out == null) in
    else { out.write(in, from, n - from); out.toByteArray }
  }

  private val EmailTag = "<EMAIL>".getBytes("UTF-8")
  private val IpTag = "<IP>".getBytes("UTF-8")
  private val PhoneTag = "<PHONE>".getBytes("UTF-8")

  /** Non-overlapping email matches (the `regexp_count(s, EmailRe)`
    * mirror, same matcher as the redaction pass). */
  def emailCount(s: UTF8String): Int = {
    val b = s.getBytes
    val n = b.length
    var p = 0
    var c = 0
    while (p < n) {
      val e = matchEmail(b, p)
      if (e >= 0) { c += 1; p = e } else p += 1
    }
    c
  }

  /** Three sequential redaction passes (email, IPv4, phone — same order
    * and same find/replace semantics as the regex chain it replaces). */
  def redactPii(s: UTF8String): UTF8String = {
    val pass1 = redactPass(s.getBytes, EmailTag, matchEmail)
    val pass2 = redactPass(pass1, IpTag, matchIpv4)
    val pass3 = redactPass(pass2, PhoneTag, matchPhone)
    // buffers are never mutated after construction, so wrapping a
    // passed-through array (no matches) is safe
    UTF8String.fromBytes(pass3)
  }

  /** One-pass quality score over a space-separated document — the fused
    * form of [[graft.functions.TextFunctions.qualityScoreCols]]:
    * type-token ratio, stopword-hit ratio and length saturation from a
    * single byte scan (exact-distinct via byte-equality on zero-copy
    * slices, identical to `array_distinct` on the split array; stopword
    * hits via `UTF8String.equals` against the marker set, identical to
    * `isin`). The double arithmetic replicates the column formulation's
    * operation order term-for-term, so scores are bit-identical. */
  def qualityScore(s: UTF8String, stops: Array[UTF8String]): Double = {
    val b = s.getBytes
    val n = b.length
    var t = 1
    var i = 0
    while (i < n) { if (b(i) == 0x20) t += 1; i += 1 }
    val seen = new java.util.HashSet[UTF8String](t * 2)
    var nd = 0
    var stop = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        val slice = UTF8String.fromBytes(b, start, i - start)
        if (seen.add(slice)) nd += 1
        var j = 0
        while (j < stops.length) {
          if (stops(j).equals(slice)) { stop += 1; j = stops.length }
          else j += 1
        }
        start = i + 1
      }
      i += 1
    }
    val nt = t.toDouble
    val ttr = nd.toDouble / nt
    val sw = stop.toDouble / nt
    val sat = math.min(1.0, nt / 100.0)
    ttr * 0.4 + sw * 0.3 + sat * 0.3
  }

  /** Stopword-marker hits of a space-separated document — the byte-scan
    * mirror of `size(filter(split(s, " "), isin(stops)))`. */
  def stopwordCount(s: UTF8String, stops: Array[UTF8String]): Int = {
    val b = s.getBytes
    val n = b.length
    var stop = 0
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        val slice = UTF8String.fromBytes(b, start, i - start)
        var j = 0
        while (j < stops.length) {
          if (stops(j).equals(slice)) { stop += 1; j = stops.length }
          else j += 1
        }
        start = i + 1
      }
      i += 1
    }
    stop
  }

  /** [[termCounts]] fused with the tokenize: distinct terms + counts of
    * a space-separated string in first-occurrence order, without
    * materializing the split array (the per-token UTF8String copies
    * `split` performs dominate TF-style pipelines; here only DISTINCT
    * terms are ever copied — once, into the output). */
  def termCountsText(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    var t = 1
    var i = 0
    while (i < n) { if (b(i) == 0x20) t += 1; i += 1 }
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Int]](t * 2)
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        val slice = UTF8String.fromBytes(b, start, i - start)
        val c = counts.get(slice)
        // keys escape this call (output structs), so copy on first sight
        if (c == null) counts.put(slice.clone(), Array(1)) else c(0) += 1
        start = i + 1
      }
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0).toLong))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def polyHashSlow(s: UTF8String, mult: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Corpus text cleaning in one pass: Unicode NFC normalization
    * (canonical composition — both the JDK and RE2-family engines
    * implement the same Unicode algorithm, so an external oracle's
    * `nfc_normalize` agrees byte-for-byte), C0/DEL control chars →
    * space, space runs collapsed, ends trimmed. */
  def cleanText(s: UTF8String): UTF8String = {
    val norm = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val n = norm.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < n) {
      val c = norm.charAt(i)
      val isSpace = c == ' ' || c < ' ' || c == '\u007f'
      if (isSpace) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Greedy BPE encode: whitespace words → per-word repeated
    * lowest-rank adjacent merge until no ranked pair remains (the
    * standard BPE inference loop — rank order reproduces training-time
    * merge order). `ranks` maps "left right" (space-joined symbol pair)
    * to merge rank. Symbols start as single UTF-16 chars (BMP
    * simplification, documented on the operator). */
  def bpeEncode(s: UTF8String, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val text = s.toString
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && text.charAt(i) == ' ') i += 1
      var j = i
      while (j < n && text.charAt(j) != ' ') j += 1
      if (j > i) { bpeWord(text.substring(i, j), ranks, out); i = j }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  private def bpeWord(w: String, ranks: java.util.HashMap[String, Integer],
      out: java.util.ArrayList[AnyRef]): Unit = {
    val syms = new java.util.ArrayList[String](w.length)
    var k = 0
    while (k < w.length) { syms.add(String.valueOf(w.charAt(k))); k += 1 }
    var done = syms.size < 2
    while (!done) {
      var best = -1
      var bestRank = Int.MaxValue
      var t = 0
      while (t < syms.size - 1) {
        val r = ranks.get(syms.get(t) + " " + syms.get(t + 1))
        if (r != null && r < bestRank) { bestRank = r; best = t }
        t += 1
      }
      if (best < 0) done = true
      else {
        syms.set(best, syms.get(best) + syms.get(best + 1))
        syms.remove(best + 1)
        done = syms.size < 2
      }
    }
    var t = 0
    while (t < syms.size) { out.add(UTF8String.fromString(syms.get(t))); t += 1 }
  }

  @inline private def isAsciiAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  @inline private def isSchemeByte(b: Byte): Boolean =
    isAsciiAlpha(b) || (b >= '0' && b <= '9') || b == '+' || b == '.' || b == '-'

  /** End (exclusive) of the anchored `scheme://authority` prefix of
    * b[0, len), or -1 when the prefix regex
    * `^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*` does not match. No
    * backtracking is needed: the scheme class excludes ':', so a
    * shorter greedy run can never satisfy the literal "://" either. */
  private def schemeAuthEnd(b: Array[Byte], len: Int): Int = {
    if (len == 0 || !isAsciiAlpha(b(0))) return -1
    var i = 1
    while (i < len && isSchemeByte(b(i))) i += 1
    if (i + 2 >= len || b(i) != ':' || b(i + 1) != '/' || b(i + 2) != '/') return -1
    var j = i + 3
    while (j < len && b(j) != '/' && b(j) != '?' && b(j) != '#') j += 1
    j
  }

  /** Start of the authority inside a matched prefix (after "://"). */
  private def authStart(b: Array[Byte], len: Int): Int = {
    var i = 1
    while (i < len && isSchemeByte(b(i))) i += 1
    i + 3
  }

  /** Lowercased host of a URL — the byte-scan form of the regex chain
    * `lower(strip-port(strip-userinfo(authority-of-anchored-prefix)))`
    * (see [[graft.functions.WebFunctions.hostCols]]): userinfo = up to
    * the LAST '@' of the authority, bracketed IPv6 unwrapped to the
    * first ']', else a trailing ':' + digits-only port dropped. ""
    * when no scheme-anchored authority exists. Canonical-semantics
    * note: the byte scan treats raw line terminators (\n \r
    *  ) as ORDINARY bytes — dirty crawl input like "u\n@h.com"
    * still strips its userinfo — and this deliberately diverges from
    * the Java-regex Column forms (kept only for the equivalence spec),
    * whose '.' and '$' stop at terminators and would pass such input
    * through unstripped. The kernel is the engine's defined semantics;
    * EquivalenceSpec fuzzes bit-identity on terminator-free input and
    * pins the terminator divergence with fixed golden cases. */
  def urlHost(s: UTF8String): UTF8String = {
    val b = s.getBytes
    val end = schemeAuthEnd(b, b.length)
    if (end < 0) return UTF8String.EMPTY_UTF8
    val as = authStart(b, b.length)
    // userinfo: last '@' within the authority
    var hs = as
    var k = end - 1
    while (k >= as) { if (b(k) == '@') { hs = k + 1; k = as } ; k -= 1 }
    var he = end
    if (hs < end && b(hs) == '[') {
      // bracketed literal: content up to the FIRST ']' ("" if none)
      var e = hs + 1
      while (e < end && b(e) != ']') e += 1
      if (e >= end) return UTF8String.EMPTY_UTF8
      hs += 1; he = e
    } else {
      // trailing ":digits*" port (possibly zero digits)
      var c = end - 1
      var colon = -1
      var ok = true
      while (ok && c >= hs) {
        if (b(c) == ':') { colon = c; ok = false }
        else if (b(c) < '0' || b(c) > '9') ok = false
        else c -= 1
      }
      if (colon >= 0) he = colon
    }
    UTF8String.fromBytes(b, hs, he - hs).toLowerCase
  }

  /** Canonical URL — the byte-scan form of
    * [[graft.functions.WebFunctions.normalizeUrlCols]]: fragment cut at
    * the first '#', scheme+authority prefix lowercased, default :80/:443
    * dropped for http/https, bare authority given the root path (also
    * before a bare query). Path/query bytes preserved verbatim. Same
    * terminator-free input contract as [[urlHost]]. */
  def urlNormalize(s: UTF8String): UTF8String = {
    val b = s.getBytes
    var len = b.length
    var i = 0
    while (i < len) { if (b(i) == '#') { len = i }; i += 1 }
    val preEnd0 = schemeAuthEnd(b, len)
    val preEnd = if (preEnd0 < 0) 0 else preEnd0
    val pre = UTF8String.fromBytes(b, 0, preEnd).toLowerCase
    val pb = pre.getBytes
    var pl = pb.length
    if (pl >= 10 && startsWithAscii(pb, "http://") && endsWithAscii(pb, ":80")) pl -= 3
    else if (pl >= 12 && startsWithAscii(pb, "https://") && endsWithAscii(pb, ":443")) pl -= 4
    val restLen = len - preEnd
    val out =
      if (pl > 0 && restLen == 0) {
        val o = java.util.Arrays.copyOf(pb, pl + 1); o(pl) = '/'; o
      } else if (pl > 0 && b(preEnd) == '?') {
        val o = new Array[Byte](pl + 1 + restLen)
        System.arraycopy(pb, 0, o, 0, pl); o(pl) = '/'
        System.arraycopy(b, preEnd, o, pl + 1, restLen); o
      } else {
        val o = new Array[Byte](pl + restLen)
        System.arraycopy(pb, 0, o, 0, pl)
        System.arraycopy(b, preEnd, o, pl, restLen); o
      }
    UTF8String.fromBytes(out)
  }

  @inline private def startsWithAscii(b: Array[Byte], p: String): Boolean = {
    if (b.length < p.length) return false
    var i = 0
    while (i < p.length) { if (b(i) != p.charAt(i).toByte) return false; i += 1 }
    true
  }
  @inline private def endsWithAscii(b: Array[Byte], p: String): Boolean = {
    val off = b.length - p.length
    if (off < 0) return false
    var i = 0
    while (i < p.length) { if (b(off + i) != p.charAt(i).toByte) return false; i += 1 }
    true
  }

  /** Micro-int round of one double, reproducing the exact composition
    * `CAST(round(x * 1e6) AS BIGINT)` that both the previous Spark plan
    * (`round(_,0)` = BigDecimal HALF_UP on the double product) and the
    * DuckDB oracle compute: NaN casts to 0, ±Inf saturates, everything
    * else is BigDecimal.valueOf(product).setScale(0, HALF_UP). Kept as
    * one function so the gate convention has a single definition. */
  @inline private def microLong(d: Double): Long = {
    val y = d * 1e6
    if (java.lang.Double.isNaN(y)) 0L
    else if (y == java.lang.Double.POSITIVE_INFINITY) Long.MaxValue
    else if (y == java.lang.Double.NEGATIVE_INFINITY) Long.MinValue
    else {
      // HALF_UP (half away from zero) without BigDecimal. Spark's Round
      // goes through BigDecimal.valueOf(y) — y's SHORTEST decimal
      // representation — but for |y| < 2^52 the decimal and binary
      // values never disagree on floor() or on the >= .5 comparison
      // (a ".5" tail in the shortest repr is only produced by doubles
      // that represent n.5 exactly, and m - floor(m) is an exact
      // subtraction there), so magnitude floor + exact frac compare is
      // bit-identical. At |y| >= 2^52 every double is an integer and
      // rounding is the identity; the final toLong saturates like
      // Spark's double->long cast. EquivalenceSpec fuzzes the .5
      // boundaries against the BigDecimal form.
      val neg = y < 0
      val m = if (neg) -y else y
      val r =
        if (m >= 4503599627370496.0) m // 2^52: integral already
        else {
          val f = Math.floor(m)
          if (m - f >= 0.5) f + 1.0 else f
        }
      if (neg) (-r).toLong else r.toLong
    }
  }

  /** CSV of micro-scaled ints from a float/double array — the driver
    * gate serialization (`numCsv`). Null ELEMENTS are skipped exactly
    * like `concat_ws` / DuckDB `array_to_string` skip NULLs, so this
    * kernel is drop-in bit-identical to the interpreted
    * `transform + concat_ws` plan it replaces (EquivalenceSpec) on
    * non-null arrays. A NULL top-level ARRAY deliberately diverges:
    * the expression is null-intolerant (NULL in → NULL out, DuckDB's
    * array_to_string(NULL) semantics), where concat_ws would yield ''
    * — asserted in EquivalenceSpec's null-array case. */
  def microCsv(a: ArrayData, isFloat: Boolean): UTF8String = {
    val n = a.numElements()
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    var first = true
    while (i < n) {
      if (!a.isNullAt(i)) {
        if (!first) sb.append(',')
        first = false
        val d = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        sb.append(microLong(d))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** CSV of a long/int array (elemKind 0 = long, 1 = int); formatting
    * is engine-invariant decimal. Null elements skipped (concat_ws
    * semantics, see [[microCsv]]). */
  def rawCsvNum(a: ArrayData, elemKind: Int): UTF8String = {
    val n = a.numElements()
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    var first = true
    while (i < n) {
      if (!a.isNullAt(i)) {
        if (!first) sb.append(',')
        first = false
        if (elemKind == 0) sb.append(a.getLong(i)) else sb.append(a.getInt(i))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** CSV of a string array via direct UTF8String concat (no UTF-16
    * round-trip). Null elements skipped (concat_ws semantics). */
  def rawCsvStr(a: ArrayData): UTF8String = {
    val n = a.numElements()
    val parts = new java.util.ArrayList[UTF8String](2 * n)
    val comma = UTF8String.fromString(",")
    var i = 0
    var first = true
    while (i < n) {
      if (!a.isNullAt(i)) {
        if (!first) parts.add(comma)
        first = false
        parts.add(a.getUTF8String(i))
      }
      i += 1
    }
    UTF8String.concat(parts.toArray(new Array[UTF8String](parts.size)): _*)
  }
}
