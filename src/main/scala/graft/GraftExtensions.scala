package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{HashExprs, TextExprs}
import graft.ops.{Dedup, TextStats}

/** Session-extension wiring: registers the engine's custom Catalyst
  * expressions as SQL functions at session build time, so SQL users get
  * them without touching the Scala API:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   // or .withExtensions(new GraftExtensions)
  * }}}
  *
  * This is the pure-SQL surface only, with each function's parameters
  * fixed (the engine's hash coefficients, w = 3, the registry's
  * stopword lists). DataFrame code builds the same expressions directly
  * as Columns through `graft.functions`, with any parameters, and needs
  * no registration. The as-of planner strategy is not injected here: no
  * SQL text produces its `AsOfJoinNode`, and `AsOf.joinPriorExec`
  * installs the strategy on first use in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[HashExprs.MinHashSig].getName, "graft_minhash_sig"),
      (exprs: Seq[Expression]) =>
        HashExprs.MinHashSig(exprs.head, Dedup.hashA, Dedup.hashB, Dedup.MinhashP)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[HashExprs.SimHash32].getName, "graft_simhash32"),
      (exprs: Seq[Expression]) => HashExprs.SimHash32(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_doc"),
      new ExpressionInfo(classOf[HashExprs.MinHashDoc].getName, "graft_minhash_doc"),
      (exprs: Seq[Expression]) =>
        HashExprs.MinHashDoc(exprs.head, 3, Dedup.hashA, Dedup.hashB, Dedup.MinhashP)))
    ext.injectFunction((
      FunctionIdentifier("graft_text_signals"),
      new ExpressionInfo(classOf[TextExprs.TextSignals].getName, "graft_text_signals"),
      (exprs: Seq[Expression]) =>
        TextExprs.TextSignals(exprs.head, TextStats.langStopwords.map(_._2))))
    ext.injectFunction((
      FunctionIdentifier("graft_alpha_tokens"),
      new ExpressionInfo(classOf[TextExprs.AlphaTokens].getName, "graft_alpha_tokens"),
      (exprs: Seq[Expression]) => TextExprs.AlphaTokens(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_word_bigrams"),
      new ExpressionInfo(classOf[TextExprs.WordBigrams].getName, "graft_word_bigrams"),
      (exprs: Seq[Expression]) => TextExprs.WordBigrams(exprs.head)))
  }
}
