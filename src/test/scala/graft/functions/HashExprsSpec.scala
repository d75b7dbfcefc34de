package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions.col

class HashExprsSpec extends SparkSuite {

  test("two wordNgrams widths in one select keep their own widths") {
    import spark.implicits._
    val out = Seq("a b c d e f").toDF("text").select(
      HashExprs.wordNgrams(col("text"), 3), HashExprs.wordNgrams(col("text"), 5))
    assert(out.columns === Array("graft_word_ngrams(text)", "graft_word_ngrams(text)"))
    val row = out.collect().head
    assert(row.getSeq[String](0) === Seq("a b c", "b c d", "c d e", "d e f"))
    assert(row.getSeq[String](1) === Seq("a b c d e", "b c d e f"))
  }
}
