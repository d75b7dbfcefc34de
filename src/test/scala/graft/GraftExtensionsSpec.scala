package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must expose the custom expressions to pure-SQL
  * sessions (no Scala API involved). The default session is cleared (not
  * stopped — the SparkContext is shared with other suites) so getOrCreate
  * builds a fresh session that actually applies the extensions. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("custom functions are SQL-callable via withExtensions") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = Session.builder(2)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val sig = spark.sql(
        "SELECT graft_minhash_sig(array('a b c', 'b c d')) AS sig").collect().head
      assert(sig.getSeq[Long](0).length === graft.ops.Dedup.NumHashes)
      val sim = spark.sql(
        "SELECT graft_simhash32(array('spark', 'scala')) AS s," +
          " graft_simhash32(array('spark', 'scala')) AS s2").collect().head
      assert(sim.getLong(0) === sim.getLong(1))
      assert(sim.getLong(0) >= 0L && sim.getLong(0) <= 0xFFFFFFFFL)
      // text family: one-pass signals + tokenizers, pure SQL
      val txt = spark.sql(
        "SELECT graft_text_signals('the quick brown fox') AS sig," +
          " graft_alpha_tokens('The Quick  123 fox!') AS toks," +
          " graft_word_bigrams(array('a', 'b', 'c')) AS grams").collect().head
      assert(txt.getSeq[Long](0).head === 4L) // n_tokens
      assert(txt.getSeq[String](1) === Seq("the", "quick")) // 123, fox! dropped
      assert(txt.getSeq[String](2) === Seq("a b", "b c"))
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }
}
