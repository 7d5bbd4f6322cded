package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL surface for the graft kernels.
  *
  * Registers the custom expressions as SQL functions so `spark.sql` users
  * get the same operators as the DataFrame API:
  *
  * {{{
  * // at session build time (GraftSession.local does this):
  * builder.withExtensions(new GraftExtensions)...
  * // or via config (no code): spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT simhash64(tokens), minhash_signature(sh, 32) FROM t")
  * }}}
  *
  * The reference has no SQL layer at all (SURVEY §0); this is part of the
  * widened surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule, not just functions: redundant idempotent
    // normalizations (lower∘lower, nfc∘nfc, …) collapse in-plan —
    // see graft.plans.CollapseIdempotentStringOps for the algebra
    ext.injectOptimizerRule(_ => graft.plans.CollapseIdempotentStringOps)
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.SimHash64].getName, "simhash64"),
        (children: Seq[Expression]) => Kernels.SimHash64(children.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_signature"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.MinHashSignature].getName, "minhash_signature"),
        (children: Seq[Expression]) => Kernels.MinHashSignature(
          children.head, children(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.WordShingles].getName, "word_shingles"),
        (children: Seq[Expression]) => Kernels.WordShingles(
          children.head, children(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_similarity"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.CosineSimilarity].getName, "cosine_similarity"),
        (children: Seq[Expression]) => Kernels.CosineSimilarity(children.head, children(1))))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_fingerprint"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.RollingFingerprint].getName, "rolling_fingerprint"),
        (children: Seq[Expression]) => Kernels.RollingFingerprint(
          children.head, children(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hashes"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.RollingHashes].getName, "rolling_hashes"),
        (children: Seq[Expression]) => Kernels.RollingHashes(
          children.head, children(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("nfc_normalize"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.NfcNormalize].getName, "nfc_normalize"),
        (children: Seq[Expression]) => Kernels.NfcNormalize(children.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_tokens"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.Tokens].getName, "graft_tokens"),
        (children: Seq[Expression]) => Kernels.Tokens(children.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("hyperplane_signature"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Kernels.HyperplaneSignature].getName, "hyperplane_signature"),
        (children: Seq[Expression]) => Kernels.HyperplaneSignature(
          children.head,
          children(1).eval(null).asInstanceOf[Number].intValue(),
          if (children.length > 2) children(2).eval(null).asInstanceOf[Number].intValue() else 0)))

    // Composed column operators (built from Spark built-ins) exposed to
    // SQL via the same bridge the DataFrame API uses — one definition,
    // both surfaces. The builder wraps the unresolved child in a Column,
    // applies the public operator, and unwraps; the analyzer resolves the
    // substituted tree as usual.
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression}
    def injectComposed(name: String, build: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column): Unit =
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft.ops.TextAnalysis", name),
          (children: Seq[Expression]) => eagerExpression(build(children.map(column)))))
    injectComposed("redact_pii", cs => graft.ops.TextAnalysis.redactPii(cs.head))
    injectComposed("pii_counts", cs => graft.ops.TextAnalysis.piiCounts(cs.head))
    injectComposed("lang_id", cs => graft.ops.TextAnalysis.langId(cs.head))
    injectComposed("token_count", cs => graft.ops.TextAnalysis.tokenCount(cs.head))
    injectComposed("doc_fingerprint", cs => graft.ops.TextAnalysis.fingerprint(cs.head))
    injectComposed("hash_bucket", cs => graft.ops.Sampling.hashBucket(cs.head))
  }
}
