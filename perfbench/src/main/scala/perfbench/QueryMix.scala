package perfbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** One registered query and the layer group it exercises. */
final case class MixQuery(name: String, group: String, fn: (SparkSession, String) => DataFrame)

/** One pass of the query mix: every query's first call on a fresh copy of
  * the corpus, then rounds of its later calls. `cold` holds the seconds of
  * the first calls that returned, `warm` each query's fastest later call;
  * `failures` names the calls that threw. */
final case class QueryPass(
    cold: Seq[(String, Double)],
    warm: Seq[(String, Double)],
    bytesWritten: Long,
    failures: Seq[String])

object QueryMix {
  /** A budget-sized cut across the layers: reference-parity plans, the
    * table format, the as-of join operator, streaming and a text
    * operator. Each has a DuckDB oracle. */
  val names: Seq[(String, String)] = Seq(
    "q5_region_revenue" -> "ref",
    "graft_file_skip" -> "table",
    "asof_join_exec" -> "asof",
    "ev_asof_stream" -> "stream",
    "text_bm25" -> "ops")

  val groups: Seq[String] = Seq("ref", "table", "asof", "stream", "ops")

  def registered: Seq[MixQuery] =
    names.map { case (n, g) => MixQuery(n, g, graft.SparkEntry.queries(n)) }
}

final class QueryWorkload(spark: SparkSession, corpus: Path, tmp: Path,
    val queries: Seq[MixQuery]) {

  /** Output directory of one call; the oracle check reads it. */
  def output(dir: Path, phase: String, name: String): Path =
    dir.resolve(s"out/$phase/$name")

  def data(dir: Path): Path = dir.resolve("data")

  /** A fresh corpus path per pass, so per-directory staging memos start
    * empty and every first call pays what a user's first call pays. Later
    * calls run in `warmRounds` rounds and the fastest counts: a stall of
    * the host only ever slows a call, so one stalled round moves nothing. */
  def pass(dir: Path, tracer: Option[Tracer], warmRounds: Int = 2): QueryPass = {
    Tree.copy(corpus, data(dir))
    def written() = Tree.sizes(dir) ++ Tree.sizes(tmp)
    val before = written()
    var failures = Vector.empty[String]
    def span[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))
    def run(phase: String): Seq[(String, Double)] = queries.flatMap { q =>
      val out = output(dir, phase, q.name).toString
      val sec = span(s"query:${q.group}:${q.name}") {
        try {
          val t0 = System.nanoTime()
          val df = span("construct")(q.fn(spark, data(dir).toString))
          span("exec")(df.write.mode(SaveMode.Overwrite).parquet(out))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case NonFatal(e) => failures :+= s"$phase ${q.name}: $e"; None
        }
      }
      // cached frames a query left behind are released outside the timing
      spark.catalog.clearCache()
      sec.map(q.name -> _)
    }
    val cold = run("cold")
    val rounds = Seq.fill(warmRounds)(run("warm").toMap)
    val warm = queries.map(_.name).flatMap { n =>
      val xs = rounds.flatMap(_.get(n))
      if (xs.isEmpty) None else Some(n -> xs.min)
    }
    QueryPass(cold, warm, Tree.bytesAdded(before, written()), failures)
  }
}

object QueryWorkload {
  /** Per-layer figures of one traced pass. Times of a single layer are
    * shares of the pass's wall time. */
  def layers(spans: Seq[Span], pass: Span): Map[String, Double] = {
    val inPass = spans.filter(s => s.startMs >= pass.startMs && s.endMs <= pass.endMs)
    val wall = pass.seconds
    val byParent = inPass.groupBy(_.parent)
    def kids(s: Span, n: String) = byParent.getOrElse(s.id, Nil).filter(_.name == n)
    val perGroup = QueryMix.groups.flatMap { g =>
      val qs = inPass.filter(_.name.startsWith(s"query:$g:"))
      val construct = qs.flatMap(kids(_, "construct"))
      val exec = qs.flatMap(kids(_, "exec"))
      Seq(
        s"queries.$g.construct_share" -> construct.map(_.seconds).sum / wall,
        s"queries.$g.construct_jobs" -> construct.map(Tracer.total(spans, _, "spark.jobs")).sum,
        s"queries.$g.plan_share" -> qs.map(Tracer.total(spans, _, "plan_s")).sum / wall,
        s"queries.$g.exec_share" -> exec.map(_.seconds).sum / wall)
    }
    val planned = Tracer.total(spans, pass, "sources.files_planned")
    val skipped = Tracer.total(spans, pass, "sources.files_skipped")
    (perGroup ++ Seq(
      "sources.files_planned" -> planned,
      "sources.files_skipped" -> skipped,
      "sources.skip_ratio" -> (if (planned + skipped > 0) skipped / (planned + skipped) else 0.0),
      "streaming.batches" -> Tracer.total(spans, pass, "streaming.batches"),
      "streaming.batch_share" -> Tracer.total(spans, pass, "streaming.batch_s") / wall,
      "streaming.commit_share" -> Tracer.total(spans, pass, "streaming.commit_s") / wall,
      "op.construct_s" -> inPass.filter(_.name == "construct").map(_.seconds).sum)).toMap
  }
}
