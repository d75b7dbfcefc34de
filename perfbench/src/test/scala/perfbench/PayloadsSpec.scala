package perfbench

import java.time.LocalDate

import graft.ingest.State

class PayloadsSpec extends BenchSuite {

  test("the same seed gives the same corpus, another seed a different one") {
    val a = new EtlCorpus(7, tinyShape)
    val b = new EtlCorpus(7, tinyShape)
    val c = new EtlCorpus(8, tinyShape)
    assert(a.fredSeries === b.fredSeries && a.blsSeries === b.blsSeries)
    assert(a.steps === b.steps)
    assert(a.expectedFact === b.expectedFact)
    for (step <- a.steps; (_, id) <- a.fredSeries)
      assert(new BenchSource(step.data).fetchFred(id, None) ===
        new BenchSource(b.steps.find(_.name == step.name).get.data).fetchFred(id, None))
    assert(a.fredSeries !== c.fredSeries)
    assert(a.expectedFact !== c.expectedFact)
  }

  test("the corpus carries both missing markers and the expected counts add up") {
    val corpus = new EtlCorpus(3, tinyShape.copy(fredYears = 10, blsYears = 10))
    val cold = corpus.steps.head.data
    assert(cold.fred.values.flatten.exists(_.raw == "."))
    assert(cold.bls.values.flatten.exists(_.raw == "-"))
    assert(corpus.expectedFact.exists(_.value.isEmpty))
    val Seq(c, unchanged, revision, append) = corpus.steps.map(_.expected)
    assert(c.updated === 0 && c.unchanged === 0 && c.dimInserted === 5)
    assert(unchanged.inserted === 0 && unchanged.updated === 0)
    assert(revision.updated === tinyShape.revised)
    assert(append.inserted === 5 && append.updated === 0)
    assert(corpus.expectedFact.size === c.inserted + append.inserted)
  }

  test("the source honors observationStart and the BLS id list and year range") {
    val corpus = new EtlCorpus(5, tinyShape)
    val data = corpus.steps.head.data
    val src = new BenchSource(data)
    val (_, id) = corpus.fredSeries.head
    val all = data.fred(id)
    val from = all(all.size - 3).date
    val obs = State.fredObservationsJson(src.fetchFred(id, Some(from.toString)))
    assert(obs.split("\"date\"").length - 1 === 3)

    val blsIds = corpus.blsSeries.map(_._2)
    val json = src.fetchBls(blsIds.take(1), 2024, 2024)
    assert(json.contains(blsIds.head) && !json.contains(blsIds(1)))
    assert(!json.contains("\"year\":\"2023\"") && json.contains("\"year\":\"2024\""))
    // most recent first, as the BLS API lists it
    assert(json.indexOf("\"M12\"") < json.indexOf("\"M01\""))
  }

  test("the revision changes only the latest value of the revised series") {
    val corpus = new EtlCorpus(9, tinyShape)
    val Seq(cold, _, revision, _) = corpus.steps.map(_.data)
    val changed = corpus.fredSeries.map(_._2).filter(id => cold.fred(id) != revision.fred(id))
    assert(changed.size === tinyShape.revised)
    for (id <- changed)
      assert(cold.fred(id).init === revision.fred(id).init)
    assert(cold.today === LocalDate.of(2025, 1, 3))
  }
}
