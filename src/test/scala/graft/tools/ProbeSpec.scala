package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}

import graft.SparkSuite

class ProbeSpec extends SparkSuite {

  private def probe(mode: String, names: String*): String = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    Probe.run(spark, mode, names, sf0001, out)
    out.flush()
    buf.toString("UTF-8")
  }

  test("plan prints the physical plan before execution") {
    val p = probe("plan", "q5_region_revenue")
    assert(p.contains("===== q5_region_revenue ====="))
    assert(p.contains("== Physical Plan ==") && p.contains("BroadcastHashJoin"), p)
  }

  test("final prints the final adaptive plan after collecting") {
    val p = probe("final", "q5_region_revenue")
    assert(p.contains("isFinalPlan=true") && p.contains("BroadcastHashJoin"), p)
  }

  test("time splits every pass into construct, plan and exec") {
    val lines = probe("time", "q5_region_revenue").linesIterator.toSeq
    assert(lines.size === Probe.Passes)
    lines.zipWithIndex.foreach { case (l, i) =>
      assert(l.startsWith(s"pass ${i + 1} q5_region_revenue"), l)
      assert(Seq("construct=", "plan=", "exec=").forall(l.contains), l)
    }
  }

  test("stream prints each batch and removes its listener") {
    val before = spark.streams.listListeners().toSeq
    val p = probe("stream", "ev_asof_stream")
    assert(p.contains("===== ev_asof_stream"))
    assert(p.linesIterator.exists(_.trim.startsWith("batch ")), p)
    assert(spark.streams.listListeners().toSeq === before)
  }

  test("an unknown mode is refused") {
    intercept[IllegalArgumentException](probe("profile", "q5_region_revenue"))
  }
}
