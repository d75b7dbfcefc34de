package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a run that throws comes back as its failure, not as a time") {
    val boom = new IllegalStateException("boom")
    assert(Bench.timed(throw boom) === Left(boom))
  }

  test("a run that returns comes back as its seconds") {
    Bench.timed(Thread.sleep(20)) match {
      case Right(sec) => assert(sec >= 0.02 && sec < 10)
      case Left(e) => fail(e)
    }
  }
}
