package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the similarity/dedup kernels.
  *
  * The composable higher-order-function formulations (transform/aggregate
  * lambdas) evaluate interpreted, one lambda frame per element — fine for
  * correctness, ~50x too slow for a corpus scan. These are the same kernels
  * as single expressions: one tight JVM loop per row, no per-element
  * allocation. Every kernel implements `doGenCode` — a static call into
  * [[KernelOps]] — so corpus-scan stages stay inside one WholeStageCodegen
  * span with no interpreted fallback (asserted in PlanQualitySpec with
  * spark.sql.codegen.fallback disabled).
  *
  * Nothing comparable exists in the reference (its kernels are Python
  * closures); preference order per SURVEY §7.3: built-ins first, custom
  * Expression where built-ins can't express the op efficiently.
  */
object Kernels {

  private[functions] def requireStringArray(name: String, child: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name requires array<string> input, got $other")
    }

  /** Lowercasing whitespace tokenizer: `lower`, split on `\s+` runs,
    * drop empties. Single codegen'd expression — the composable
    * `filter(split(lower(.)))` form is semantically identical but its
    * higher-order `filter` cannot codegen, which would push every text
    * scan out of the WholeStageCodegen span. The kernel lowercases
    * itself with [[KernelOps.lower]], Spark's own ICU call for `lower(.)`,
    * instead of composing Catalyst's `Lower`: that one routes through
    * `CollationAwareUTF8String`, whose class init costs 3.2 GB of
    * allocation and 1.5 s of CPU on first use. `icu` is
    * `spark.sql.icu.caseMappings.enabled`, read at the same moment
    * `Lower` reads it (its `useICU` lazy val): on first evaluation or
    * code generation of this expression instance, not when the Column
    * is built.
    */
  case class Tokens(child: Expression) extends UnaryExpression {
    private lazy val icu: Boolean = KernelOps.icuCaseMappings

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_tokens"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires string input, got $other")
      }

    override def nullSafeEval(input: Any): Any =
      KernelOps.tokens(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], icu)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.tokens($c, $icu);")

    override protected def withNewChildInternal(c: Expression): Tokens = copy(child = c)
  }

  /** Unicode NFC normalization — the standard pre-fingerprint text
    * normalization: visually-identical strings with different codepoint
    * sequences (é vs e + combining acute) must fingerprint identically
    * or exact dedup silently misses them. The JDK Normalizer implements
    * the normative Unicode algorithm, so DuckDB's `nfc_normalize` agrees
    * byte for byte (the q94 oracle is that agreement). Codegen'd like
    * every kernel; already-normalized (e.g. ASCII) text passes through
    * with no allocation.
    */
  case class NfcNormalize(child: Expression,
                          form: java.text.Normalizer.Form = java.text.Normalizer.Form.NFC)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = s"graft_${form.name.toLowerCase}_normalize"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires string input, got $other")
      }

    override def nullSafeEval(input: Any): Any =
      KernelOps.normalize(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], form.ordinal())

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.normalize($c, ${form.ordinal()});")

    override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
  }

  /** k-wise MinHash signature of an Array[String]: sig[i] = min over
    * elements of the portable hash family splitmix64(polyBase(elem) ^
    * i*GOLDEN) — one code-point fold per element plus k cheap finalizer
    * mixes, replayable in any ANSI engine (q37's oracle). k running
    * minima. Empty/missing arrays produce the degenerate all-MaxValue
    * signature (banding still works: such docs collide only with each
    * other).
    */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      Kernels.requireStringArray(prettyName, child)

    override def nullSafeEval(input: Any): Any =
      KernelOps.minhashSignature(input.asInstanceOf[ArrayData], numHashes)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.minhashSignature($c, $numHashes);")

    override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  }

  /** ALL word n-grams of an Array[String] with multiplicity, in order
    * ([[WordShingles]] without the distinct; short arrays yield none) —
    * the feature stream for frequency-based scoring (DSIR buckets),
    * where a set would lose counts. Codegen'd like every kernel.
    */
  case class WordNgrams(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1, "ngram size must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_ngrams"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      Kernels.requireStringArray(prettyName, child)

    override def nullSafeEval(input: Any): Any =
      KernelOps.wordNgrams(input.asInstanceOf[ArrayData], n)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.wordNgrams($c, $n);")

    override protected def withNewChildInternal(c: Expression): WordNgrams = copy(child = c)
  }

  /** Distinct word n-gram shingles of an Array[String]: element i is
    * tokens[i..i+n-1] joined with a single space; docs shorter than n
    * collapse to one shingle of all tokens. Insertion-ordered distinct.
    * One pass; the equivalent transform/slice/array_join lambda stack
    * evaluates interpreted at ~1.4 ms/doc.
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1, "shingle size must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      Kernels.requireStringArray(prettyName, child)

    override def nullSafeEval(input: Any): Any =
      KernelOps.wordShingles(input.asInstanceOf[ArrayData], n)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.wordShingles($c, $n);")

    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }

  /** 64-bit SimHash of an Array[String] (Charikar '02): each element's
    * portable hash (splitmix64 of the polynomial base — q38's oracle
    * replays it) votes +1/-1 on all 64 bit positions; sign of each sum
    * forms the fingerprint. One pass, 64 counters.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      Kernels.requireStringArray(prettyName, child)

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(KernelOps.simhash64(input.asInstanceOf[ArrayData]))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.simhash64($c);")

    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** Random-hyperplane LSH signature of a numeric vector: bit p of the
    * result is the sign of the dot product with pseudo-random plane p,
    * whose components are derived deterministically from xxh64(p, d, seed)
    * — reproducible with no RNG state shipped to executors. One pass per
    * plane over the vector. Distinct `seed`s give independent plane sets,
    * which is what banded (multi-table) LSH hashes each band with.
    */
  case class HyperplaneSignature(child: Expression, planes: Int, seed: Int = 0)
      extends UnaryExpression {
    require(planes >= 1 && planes <= 63, "planes must be in [1, 63]")
    override def dataType: DataType = LongType
    override def prettyName: String = "hyperplane_signature"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires array<float|double>, got $other")
      }

    private lazy val isDouble =
      child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(
        KernelOps.hyperplaneSignature(input.asInstanceOf[ArrayData], planes, seed, isDouble))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.hyperplaneSignature($c, $planes, $seed, $isDouble);")

    override protected def withNewChildInternal(c: Expression): HyperplaneSignature = copy(child = c)
  }

  /** Rabin-Karp rolling-hash document fingerprint: polynomial hash of the
    * token stream in windows of `window` tokens, keeping the minimum
    * window hash (a winnowing-style representative). Output: one long per
    * document — equal fingerprints flag likely shared long runs. One pass,
    * O(tokens) via the rolling update h' = (h - out*B^(w-1))*B + in.
    */
  case class RollingFingerprint(child: Expression, window: Int)
      extends UnaryExpression {
    require(window >= 1, "window must be >= 1")
    override def dataType: DataType = LongType
    override def prettyName: String = "rolling_fingerprint"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      Kernels.requireStringArray(prettyName, child)

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(KernelOps.rollingFingerprint(input.asInstanceOf[ArrayData], window))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.rollingFingerprint($c, $window);")

    override protected def withNewChildInternal(c: Expression): RollingFingerprint = copy(child = c)
  }

  /** Every window hash of the [[RollingFingerprint]] chain (length
    * n−w+1; empty array for an empty token stream) — the raw material
    * for content-defined chunk boundaries: a boundary falls after each
    * window whose hash has its low bits clear, so boundary positions
    * depend only on local content and survive insertions elsewhere in
    * the document. Same engine-portable arithmetic as the fingerprint.
    */
  case class RollingHashes(child: Expression, window: Int)
      extends UnaryExpression {
    require(window >= 1, "window must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "rolling_hashes"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      Kernels.requireStringArray(prettyName, child)

    override def nullSafeEval(input: Any): Any =
      KernelOps.rollingHashes(input.asInstanceOf[ArrayData], window)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.KernelOps.rollingHashes($c, $window);")

    override protected def withNewChildInternal(c: Expression): RollingHashes = copy(child = c)
  }

  /** Cosine similarity of two numeric arrays (float or double elements),
    * accumulated in double in index order — deterministic across runs and
    * engines. Returns 0.0 when either norm is zero; null on length
    * mismatch or null input.
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity"
    // null on length mismatch even when both inputs are non-null
    override def nullable: Boolean = true

    private def elemType(e: Expression) =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(dt: DataType) = dt match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
    }

    private lazy val aDouble = elemType(left) == DoubleType
    private lazy val bDouble = elemType(right) == DoubleType

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (b.numElements() != a.numElements()) null
      else java.lang.Double.valueOf(KernelOps.cosine(a, b, aDouble, bDouble))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = graft.functions.KernelOps.cosine($a, $b, $aDouble, $bDouble);
           |}
         """.stripMargin)

    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
      copy(left = l, right = r)
  }

  /** Count of common elements of two SORTED, DISTINCT string arrays by
    * linear merge in UTF8String binary order — the ordering `sort_array`
    * itself applies — so it equals `size(array_intersect(a, b))` on the
    * frames the set-similarity verify builds. The difference is cost:
    * array_intersect materializes a per-row hash set of one side plus a
    * result array (measured ~350 µs per candidate pair on the q233
    * verify, the query's dominant stage); the merge is allocation-free
    * and one comparison per element. Codegen'd like every kernel.
    */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "sorted_intersect_count"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      Kernels.requireStringArray(prettyName, left) match {
        case org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess =>
          Kernels.requireStringArray(prettyName, right)
        case fail => fail
      }

    override def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Long.valueOf(KernelOps.sortedIntersectCount(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.KernelOps.sortedIntersectCount($a, $b);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
      copy(left = l, right = r)
  }

  // ---- Column wrappers (classic-session Column <-> Expression bridge) ----
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def graft_tokens(c: Column): Column = column(Tokens(expression(c)))

  /** Bounded top-k aggregate (Spark's CollectTopK, the engine behind
    * pandas-API nlargest): keeps the k smallest values of `c` in a
    * size-k heap with MAP-SIDE PARTIAL MERGE, so a per-key ranking
    * shuffles at most k rows per key per map partition instead of every
    * candidate row (what a row_number window would shuffle). Output array
    * is sorted ascending — rank = position. Order descending by negating
    * the leading struct field. Internal-API contract pinned in
    * [[org.apache.spark.sql.graftbridge.ColumnBridge]].
    */
  def collect_bottom_k(c: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.collectBottomK(c, k)
  def minhash_signature(c: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(c), numHashes))
  def word_shingles(c: Column, n: Int): Column =
    column(WordShingles(expression(c), n))
  def word_ngrams(c: Column, n: Int): Column =
    column(WordNgrams(expression(c), n))
  def rolling_fingerprint(c: Column, window: Int): Column =
    column(RollingFingerprint(expression(c), window))
  def rolling_hashes(c: Column, window: Int): Column =
    column(RollingHashes(expression(c), window))
  def hyperplane_signature(c: Column, planes: Int, seed: Int = 0): Column =
    column(HyperplaneSignature(expression(c), planes, seed))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def nfc_normalize(c: Column): Column = column(NfcNormalize(expression(c)))
  def nfkc_normalize(c: Column): Column =
    column(NfcNormalize(expression(c), java.text.Normalizer.Form.NFKC))
  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}
