package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Shared loop bodies for the custom kernels in [[Kernels]].
  *
  * Each method is called from BOTH the interpreted `nullSafeEval` path and
  * the generated whole-stage code (as a static call — a top-level Scala
  * object compiles with static forwarders, so Janino-generated Java can
  * invoke `graft.functions.KernelOps.x(...)` directly). Keeping the loop in
  * one compiled method rather than splicing source into the generated
  * function also keeps the generated method small (no 64-iteration unrolls
  * pushing past the JIT inline limit) while preserving the codegen span.
  */
object KernelOps {

  // one portable mixer for the whole library (minhash/simhash kernels,
  // Similarity.projectionSigns) — forking a copy would silently fork
  // the hash family
  private[graft] val GOLDEN = 0x9E3779B97F4A7C15L
  private val MIX1 = 0xBF58476D1CE4E5B9L
  private val MIX2 = 0x94D049BB133111EBL

  /** splitmix64 finalizer (Steele et al. '14) — xor-shift + wrapping
    * multiply, so every step is reproducible with HUGEINT mod-2^64
    * arithmetic in any ANSI engine (the q37/q38 oracles replay it).
    */
  @inline private[graft] def splitmix(z0: Long): Long = {
    var z = z0
    z ^= z >>> 30; z *= MIX1
    z ^= z >>> 27; z *= MIX2
    z ^ (z >>> 31)
  }

  /** Seed-7 polynomial fold over Unicode code points (the
    * [[rollingFingerprint]] token hash) — the shared engine-portable
    * base for the hashed kernels.
    */
  @inline private def polyBase(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val str = s.toString
    var h = 7L
    var k = 0
    while (k < str.length) {
      val cp = str.codePointAt(k)
      h = h * 1000003L + cp
      k += Character.charCount(cp)
    }
    h
  }

  /** k running minima over the string array of the portable hash family
    * h_k(s) = splitmix(polyBase(s) ^ k·GOLDEN): ONE code-point fold per
    * element (not one per hash function), then k cheap finalizer mixes —
    * and every h_k is replayable in engine-portable integer arithmetic,
    * so the LSH banding chain is oracle-checkable end to end.
    */
  def minhashSignature(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = polyBase(arr.getUTF8String(i))
        var k = 0
        while (k < numHashes) {
          val h = splitmix(base ^ (k * GOLDEN))
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Cosine of two equal-length numeric arrays, double accumulation in
    * index order; 0.0 when either norm is zero. Length equality is the
    * caller's contract (the expression null-guards mismatches).
    */
  def cosine(a: ArrayData, b: ArrayData, aDouble: Boolean, bDouble: Boolean): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Pseudo-random plane component in [-0.5, 0.5) — pure function of
    * (plane, dim, seed), reproducible with no RNG state on executors.
    * seed=0 reproduces the original single-table signature bit-for-bit.
    */
  @inline private def planeComp(p: Int, d: Int, seed: Int): Double =
    XXH64.hashLong(p.toLong * 131071L + d, 11L + seed.toLong * 7919L)
      .toDouble / (Long.MaxValue.toDouble * 2.0)

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** `spark.sql.icu.caseMappings.enabled` of the active session, which
    * selects between the two case mappings of [[lower]].
    */
  def icuCaseMappings: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** `lower(.)` of a UTF8_BINARY string, call for call what Catalyst's
    * `Lower` computes (`CollationSupport.Lower.exec`): with ICU case
    * mappings (Spark's default) that is
    * `CollationAwareUTF8String.toLowerCase` — ASCII fast path, else ICU's
    * `UCharacter.toLowerCase` (contextual final sigma, İ → i̇) on the
    * valid-UTF-8 form of the bytes; without them the JVM mapping
    * `UTF8String.toLowerCase`. The call is made here rather than through
    * `CollationAwareUTF8String` because that class's static initializer
    * title-cases every one of the 1,114,112 code points: measured with
    * Spark 4.1.2 on an x86-64 Xeon, 3.2 GB allocated and 1.5 s of CPU on
    * one thread, with every task thread that reaches `lower` blocked on
    * its init lock, where the direct ICU call costs 0.8 MB and 25 ms on
    * first use.
    */
  def lower(s: UTF8String, icu: Boolean): UTF8String =
    if (!icu) s.toLowerCase
    else if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** `filter(split(lower(s), "\\s+"), t => length(t) > 0)` as one
    * compiled call: [[lower]] (Spark's own ICU call, made here so no
    * tokenization reaches `CollationAwareUTF8String`'s class init), then
    * the same Java regex `Pattern.split` that Spark's `split` compiles
    * to, with no per-element interpreted lambda (higher-order functions
    * don't support codegen and would knock the whole projection out of
    * the WholeStageCodegen span).
    */
  def tokens(s: UTF8String, icu: Boolean): ArrayData = {
    val parts = wsPattern.split(lower(s, icu).toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[Any](n)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(j) = UTF8String.fromString(parts(i)); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Unicode normalization via the JDK Normalizer — the normative
    * Unicode algorithm, so independent implementations (e.g. DuckDB's
    * `nfc_normalize`) agree byte for byte. Fast path: already-normalized
    * text (all-ASCII corpora in particular) returns the input UTF8String
    * untouched — one scan, zero allocation. `form` ordinal into
    * [[java.text.Normalizer.Form]] (NFC for canonical dedup keys; NFKC
    * is the compatibility fold SentencePiece-style tokenizer pipelines
    * apply — ﬁ → fi, ² → 2).
    */
  def normalize(s: org.apache.spark.unsafe.types.UTF8String, form: Int)
      : org.apache.spark.unsafe.types.UTF8String = {
    val f = java.text.Normalizer.Form.values()(form)
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, f)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, f))
  }

  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String =
    normalize(s, java.text.Normalizer.Form.NFC.ordinal())

  /** ALL word n-grams with multiplicity, in order — [[wordShingles]]
    * without the distinct (feature streams need counts, not sets). A
    * short array (< n tokens) yields NO n-grams (not the whole-doc
    * fallback: a frequency feature over a 2-token doc has no bigram).
    */
  def wordNgrams(arr: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val space = UTF8String.fromString(" ")
    val cnt = arr.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new Array[Any](cnt - n + 1)
    i = 0
    while (i <= cnt - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingles, insertion-ordered (see
    * [[Kernels.WordShingles]]).
    */
  def wordShingles(arr: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val space = UTF8String.fromString(" ")
    val cnt = arr.numElements()
    val toks = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (cnt < n) {
      out.add(UTF8String.concatWs(space, toks: _*))
    } else {
      i = 0
      while (i <= cnt - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks(i + j); j += 1 }
        out.add(UTF8String.concatWs(space, parts: _*))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** 64-bit SimHash (Charikar '02) over the string array. Element hash =
    * splitmix(polyBase(s)) — the k=0 member of the minhash family, so
    * the bit votes are replayable in portable integer arithmetic (q38's
    * oracle).
    */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = splitmix(polyBase(arr.getUTF8String(i)))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Winnowing-style minimum rolling hash over token windows.
    *
    * ENGINE-PORTABLE by construction (q47's oracle replays it in DuckDB
    * SQL): the token hash is a seed-7 polynomial fold over Unicode CODE
    * POINTS in wrapping 64-bit arithmetic (Scala Long wrap ≡ mod 2^64 on
    * the unsigned view), the window hash is the same base-B polynomial
    * over token hashes, and the fingerprint is the SIGNED minimum across
    * windows — every step reproducible with HUGEINT mod-2^64 arithmetic
    * in any ANSI engine, unlike the Spark-internal XXH64 it replaced.
    * Token hashes are precomputed once (no rehash on window slide-out).
    */
  def rollingFingerprint(arr: ArrayData, window: Int): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val hs = windowHashes(arr, window)
    var minH = hs(0)
    var i = 1
    while (i < hs.length) { if (hs(i) < minH) minH = hs(i); i += 1 }
    minH
  }

  /** ALL window hashes of the token stream (length n−w+1 with
    * w = min(window, n); empty for an empty stream) — the
    * [[rollingFingerprint]] chain without the final min, for operators
    * that need every window (content-defined chunking boundaries).
    * Same engine-portable arithmetic.
    */
  def rollingHashes(arr: ArrayData, window: Int): ArrayData =
    if (arr.numElements() == 0) new GenericArrayData(Array.empty[Long])
    else new GenericArrayData(windowHashes(arr, window))

  private def windowHashes(arr: ArrayData, window: Int): Array[Long] = {
    val B = 1000003L
    val n = arr.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i).toString
      var h = 7L
      var k = 0
      while (k < s.length) {
        val cp = s.codePointAt(k)
        h = h * B + cp
        k += Character.charCount(cp)
      }
      th(i) = h
      i += 1
    }
    val w = math.min(window, n)
    var bPow = 1L // B^(w-1)
    var j = 1
    while (j < w) { bPow *= B; j += 1 }
    val out = new Array[Long](n - w + 1)
    var h = 0L
    i = 0
    while (i < w) { h = h * B + th(i); i += 1 }
    out(0) = h
    while (i < n) {
      h = (h - th(i - w) * bPow) * B + th(i)
      out(i - w + 1) = h
      i += 1
    }
    out
  }

  /** Sign-bit signature of `planes` pseudo-random hyperplanes. */
  def hyperplaneSignature(v: ArrayData, planes: Int, seed: Int, isDouble: Boolean): Long = {
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var d = 0
      while (d < n) {
        val x = if (isDouble) v.getDouble(d) else v.getFloat(d).toDouble
        proj += x * planeComp(p, d, seed)
        d += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Common-element count of two sorted, distinct UTF8String arrays by
    * linear merge (binary order — what sort_array applies). Equals
    * size(array_intersect) on such inputs at a fraction of its cost:
    * no per-row hash set, no result array.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}
