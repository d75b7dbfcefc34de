package perfbench

import java.nio.file.Files

class QueryWorkloadSpec extends BenchSuite {

  test("a throwing query is a named failure, never timed, and the others still run") {
    val corpus = tempDir().resolve("corpus")
    Corpus.write(spark, corpus.toString, 1)
    val ok = MixQuery("q1_agg", "ref", graft.SparkEntry.queries("q1_agg"))
    val boom = MixQuery("boom", "ref", (_, _) => throw new IllegalStateException("boom"))
    val w = new QueryWorkload(spark, corpus, tempDir(), Seq(ok, boom))
    val dir = tempDir()
    val p = w.pass(dir, None)
    assert(p.failures.size === 3) // the first call and two rounds of later calls
    assert(p.failures.forall(_.contains("boom: java.lang.IllegalStateException")))
    assert(p.cold.map(_._1) === Seq("q1_agg") && p.warm.map(_._1) === Seq("q1_agg"))
    assert(Files.isDirectory(w.output(dir, "cold", "q1_agg")))
  }

  test("the corpus is the same for the same seed") {
    def rows(seed: Long) = {
      val dir = tempDir().toString
      Corpus.write(spark, dir, seed)
      spark.read.parquet(s"$dir/lineitem.parquet").collect().map(_.toString).sorted.toSeq
    }
    assert(rows(4) === rows(4))
    assert(rows(4) !== rows(5))
  }
}
