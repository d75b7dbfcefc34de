package perfbench

class EtlWorkloadSpec extends BenchSuite {

  test("Pipeline.run leaves the expected warehouse and reports the expected counts") {
    val corpus = new EtlCorpus(11, tinyShape)
    val w = new EtlWorkload(spark, corpus)
    val p = w.pass(tempDir(), None)
    assert(p.failures.isEmpty, p.failures.mkString("\n"))
    assert(p.reports === corpus.steps.map(_.expected))
    assert(p.fact === corpus.expectedFact)
    assert(p.seconds.size === corpus.steps.size)
  }

  test("the traced replica matches Pipeline.run and records every layer") {
    val corpus = new EtlCorpus(12, tinyShape)
    val w = new EtlWorkload(spark, corpus)
    val plain = w.pass(tempDir(), None)
    val t = new Tracer(spark)
    t.attach()
    val traced = try t.span("pass")(w.pass(tempDir(), Some(t))) finally t.detach()
    assert(traced.failures.isEmpty, traced.failures.mkString("\n"))
    assert(traced.fact === plain.fact && traced.reports === plain.reports)

    val spans = t.spans
    val layers = EtlWorkload.layers(spans, spans.head)
    assert(layers("ingest.fetch_calls") === 4 * (corpus.fredSeries.size + 1))
    assert(layers("etl.commits") >= 4)
    assert(layers("etl.fact_rows_written") > 0)
    assert(layers("etl.merge_fact_share") > 0 && layers("etl.merge_fact_share") < 1)
    assert(Tracer.total(spans, spans.head, "spark.jobs") > 0)
    assert(Tracer.total(spans, spans.head, "plan_s") > 0)
  }

  test("a wrong count is a named failure and the pass is not timed") {
    val corpus = new EtlCorpus(13, tinyShape)
    val wrong = new EtlCorpus(13, tinyShape) {
      override val steps: Seq[Step] = corpus.steps.updated(1,
        corpus.steps(1).copy(expected = corpus.steps(1).expected.copy(unchanged = -1)))
    }
    val p = new EtlWorkload(spark, wrong).pass(tempDir(), None)
    assert(p.failures.exists(_.startsWith("unchanged: counts")))
    assert(p.seconds.isEmpty)
  }
}
