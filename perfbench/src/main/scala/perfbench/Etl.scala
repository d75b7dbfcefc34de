package perfbench

import java.nio.file.{Path, Paths}
import java.time.{Instant, LocalDate}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.etl.{AtomicTable, Pipeline, Transforms}
import graft.ingest.{Normalize, SeriesSource, State}
import graft.model.Schemas

/** One pass of an ETL workload: the corpus's run sequence into a fresh
  * warehouse. `seconds` holds one entry per run that finished with the
  * expected counts; `failures` names every run that threw or was wrong. */
final case class EtlPass(
    seconds: Seq[Double],
    bytesWritten: Long,
    reports: Seq[Counts],
    fact: Seq[FactRow],
    failures: Seq[String])

final class EtlWorkload(spark: SparkSession, val corpus: EtlCorpus) {
  private val now = Instant.parse("2025-01-05T06:00:00Z")

  private def layout(dir: Path) =
    Pipeline.Layout(s"$dir/state", s"$dir/raw", s"$dir/warehouse")

  /** Runs `steps` through `Pipeline.run`, or, with a tracer, through
    * [[tracedRun]]. */
  def pass(dir: Path, tracer: Option[Tracer], steps: Seq[Step] = corpus.steps): EtlPass = {
    val l = layout(dir)
    val before = Tree.sizes(dir)
    var failures = Vector.empty[String]
    var seconds = Vector.empty[Double]
    var reports = Vector.empty[Counts]
    for (step <- steps) {
      if (failures.nonEmpty) failures :+= s"${step.name}: not run after an earlier failure"
      else try {
        val source = new BenchSource(step.data)
        val t0 = System.nanoTime()
        val r = tracer match {
          case None => Pipeline.run(spark, source, l, corpus.fredSeries, corpus.blsSeries,
            step.data.today, now, corpus.blsStartYear)
          case Some(t) => t.span(s"run:${step.name}")(tracedRun(t, source, l, step.data.today))
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val got = Counts(r.factStats("inserted"), r.factStats("updated"),
          r.factStats("unchanged"), r.dimStats("inserted"), r.dimStats("unchanged"))
        reports :+= got
        if (got != step.expected) failures :+= s"${step.name}: counts $got, expected ${step.expected}"
        else seconds :+= sec
      } catch {
        case NonFatal(e) => failures :+= s"${step.name}: $e"
      }
    }
    val written = Tree.bytesAdded(before, Tree.sizes(dir))
    val fact = if (failures.isEmpty) readFact(l) else Nil
    if (failures.isEmpty) {
      if (fact != corpus.expectedFact)
        failures :+= s"${steps.last.name}: warehouse differs from the expected table " +
          s"(${fact.size} rows, expected ${corpus.expectedFact.size}; first difference " +
          s"${fact.zipAll(corpus.expectedFact, null, null).find(p => p._1 != p._2)})"
      else if (readDim(l) != corpus.expectedDim)
        failures :+= s"${steps.last.name}: dim_series differs from the expected rows"
    }
    EtlPass(if (failures.isEmpty) seconds else Nil, written, reports, fact, failures)
  }

  private def readFact(l: Pipeline.Layout): Seq[FactRow] =
    AtomicTable.read(spark, l.factPath, Schemas.fact).collect().toSeq.map { r =>
      FactRow(r.getString(0), r.getString(1), r.getDate(2).toLocalDate,
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getString(4))
    }.sortBy(r => (r.seriesId, r.date.toEpochDay))

  private def readDim(l: Pipeline.Layout): Set[(String, String, String)] =
    spark.read.parquet(l.dimPath).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** The phase functions `Pipeline.run` calls, in its order, each inside
    * a span, with the storage each phase leaves behind recorded at the
    * boundary. When `Pipeline.run` changes shape this replica can drift
    * from it; the traced run compares the two warehouses and marks the
    * trace stale when they differ. */
  private def tracedRun(t: Tracer, source: SeriesSource, l: Pipeline.Layout,
      today: LocalDate): Pipeline.RunReport = {
    val timed = new TimedSource(source)
    val store = State.Store(l.stateDir)
    val rawDir = Paths.get(l.rawDir)
    val rawBefore = Tree.sizes(rawDir).size
    var skipped = List.empty[String]
    val (fredJsons, blsJson) = t.span("extract") {
      val fred = corpus.fredSeries.flatMap { case (name, id) =>
        try Some((id, name, Pipeline.extractFred(id, timed, store, rawDir, today, now)))
        catch { case NonFatal(_) => skipped ::= id; None }
      }
      (fred, Pipeline.extractBls(corpus.blsSeries.map(_._2), timed, store, rawDir, today,
        now, corpus.blsStartYear, today.getYear))
    }
    t.count("ingest.fetch_s", timed.nanos / 1e9)
    t.count("ingest.fetch_calls", timed.calls)
    t.count("ingest.payload_bytes", timed.bytes)
    t.count("ingest.snapshots_written", Tree.sizes(rawDir).size - rawBefore)
    t.count("ingest.series_extracted", fredJsons.size + 1)

    val (fact, dim) = t.span("transform") {
      val fredFrames = fredJsons.map { case (id, name, json) =>
        Normalize.fredObservations(Normalize.readFredJson(spark, json), id, name)
      }
      val blsFrame = Normalize.blsBatch(Normalize.readBlsJson(spark, blsJson), corpus.blsSeries)
      (Transforms.combineFactTables(fredFrames :+ blsFrame),
        Transforms.buildDimSeries(spark, corpus.fredSeries, corpus.blsSeries))
    }
    t.count("etl.fact_plan_nodes", fact.queryExecution.logical.collect { case p => p }.size)

    val factRoot = Paths.get(l.factPath)
    val factBefore = Tree.sizes(factRoot)
    val versionBefore = AtomicTable.currentVersion(factRoot).getOrElse(0L)
    val factStats = t.span("merge_fact")(Pipeline.mergeFact(spark, fact, l.factPath))
    val added = Tree.added(factBefore, Tree.sizes(factRoot)).filter(_._1.endsWith(".parquet"))
    t.count("etl.fact_files_written", added.size)
    t.count("etl.fact_bytes_written", added.map(_._2).sum)
    t.count("etl.partitions_rewritten", added.map(p => Paths.get(p._1).getParent).toSet.size)
    t.count("etl.changed_rows", factStats("inserted") + factStats("updated"))
    val versions = AtomicTable.currentVersion(factRoot).getOrElse(0L) - versionBefore

    val dimRoot = Paths.get(l.dimPath)
    val dimBefore = Tree.sizes(dimRoot)
    val dimStats = t.span("merge_dim")(Pipeline.mergeDim(spark, dim, l.dimPath))
    val dimCommits = if (Tree.added(dimBefore, Tree.sizes(dimRoot)).nonEmpty) 1 else 0
    t.count("etl.commits", versions + dimCommits)
    Pipeline.RunReport(factStats, dimStats, skipped.reverse)
  }
}

object EtlWorkload {
  /** Per-layer figures of one traced pass, from its spans. Times of a
    * single layer are shares of the pass's wall time. */
  def layers(spans: Seq[Span], pass: Span): Map[String, Double] = {
    val inPass = spans.filter(s => s.startMs >= pass.startMs && s.endMs <= pass.endMs)
    val runs = inPass.filter(_.parent == pass.id)
    def named(n: String) = inPass.filter(_.name == n)
    def sumOf(n: String, key: String) = named(n).map(s => Tracer.total(spans, s, key)).sum
    def secs(n: String) = named(n).map(_.seconds).sum
    def runCount(key: String) = runs.map(_.counts(key)).sum
    val wall = pass.seconds
    val fetch = runCount("ingest.fetch_s")
    val factRows = sumOf("merge_fact", "spark.output_rows")
    Map(
      "ingest.fetch_share" -> fetch / wall,
      "ingest.fetch_calls" -> runCount("ingest.fetch_calls"),
      "ingest.payload_bytes" -> runCount("ingest.payload_bytes"),
      "ingest.extract_self_share" -> (secs("extract") - fetch) / wall,
      "ingest.snapshots_written" -> runCount("ingest.snapshots_written"),
      "ingest.changed_ratio" ->
        runCount("ingest.snapshots_written") / runCount("ingest.series_extracted"),
      "etl.transform_construct_share" -> secs("transform") / wall,
      "etl.fact_plan_nodes" -> runs.map(_.counts("etl.fact_plan_nodes")).max,
      "etl.fact_plan_share" -> sumOf("merge_fact", "plan_s") / wall,
      "etl.merge_fact_share" -> secs("merge_fact") / wall,
      "etl.merge_dim_share" -> secs("merge_dim") / wall,
      "etl.commits" -> runCount("etl.commits"),
      "etl.fact_files_written" -> runCount("etl.fact_files_written"),
      "etl.fact_bytes_written" -> runCount("etl.fact_bytes_written"),
      "etl.fact_rows_written" -> factRows,
      "etl.partitions_rewritten" -> runCount("etl.partitions_rewritten"),
      "etl.rows_written_per_changed_row" -> factRows / runCount("etl.changed_rows"),
      "op.construct_s" -> (secs("extract") + secs("transform")))
  }
}
