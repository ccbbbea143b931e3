package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.expr.{ArrayJaccard, CosineSim, L2Distance, MinHashSig, NegInnerProduct, ShingleHashes, SimHash48, WordShingleStrings}

/** SparkSessionExtensions entry point: makes the engine's custom Catalyst
  * expressions available to ANY session created with
  * `spark.sql.extensions=graft.GraftExtensions` — the idiomatic way to
  * ship engine extensions to a cluster (no session-side registration
  * code).
  *
  * Registers the reference's vector operators (SURVEY.md §2.8: `<->`,
  * `<=>` as 1-cosine_sim, `<#>`) as SQL functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    // row-count-aware broadcast veto, in both the static optimizer and
    // AQE's re-optimization (where stages carry exact runtime row
    // counts) — see BroadcastRowGuard's scaladoc for the scale rationale
    e.injectOptimizerRule(_ => graft.plans.BroadcastRowGuard)
    e.injectRuntimeOptimizerRule(_ => graft.plans.BroadcastRowGuard)
    // comparison literals in filters and join conditions load from the
    // plan's references, so plans that differ only in such a value share
    // one compiled class — see TokenizeLiterals
    e.injectColumnar(_ => graft.plans.TokenizeLiterals.columnarRule)

    e.injectFunction((FunctionIdentifier("l2_distance"),
      info("l2_distance", "l2_distance(a, b) - Euclidean distance of two vectors"),
      (es: Seq[Expression]) => L2Distance(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two vectors"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("neg_inner_product"),
      info("neg_inner_product", "neg_inner_product(a, b) - negative dot product"),
      (es: Seq[Expression]) => NegInnerProduct(es(0), es(1))))

    // text-hash kernels (the dedup primitives) as SQL functions, so the
    // MinHash/SimHash pipeline is drivable from plain SQL — widths/sizes
    // must be integer literals (they parameterize codegen)
    def intLit(e: Expression, fn: String): Int = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case _ => throw new IllegalArgumentException(
        s"$fn: size argument must be an integer literal")
    }
    // the placeholder of an extended-protocol template (GenericPlans)
    e.injectFunction((FunctionIdentifier("graft_param"),
      info("graft_param", "graft_param(n) - placeholder $n of a generic plan"),
      (es: Seq[Expression]) => graft.plans.ParamRef(intLit(es(0), "graft_param"))))
    e.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, w) - w-token shingle strings"),
      (es: Seq[Expression]) => WordShingleStrings(es(0), intLit(es(1), "word_shingles"))))
    e.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(text, w) - distinct 31-bit shingle hashes"),
      (es: Seq[Expression]) => ShingleHashes(es(0), intLit(es(1), "shingle_hashes"))))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(hashes, k) - k-slot MinHash signature"),
      (es: Seq[Expression]) => MinHashSig(es(0), intLit(es(1), "minhash_sig"))))
    e.injectFunction((FunctionIdentifier("array_jaccard"),
      info("array_jaccard", "array_jaccard(a, b) - Jaccard of two hash arrays"),
      (es: Seq[Expression]) => ArrayJaccard(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("simhash48"),
      info("simhash48", "simhash48(hashes) - 48-bit SimHash fingerprint"),
      (es: Seq[Expression]) => SimHash48(es(0))))
  }
}
