package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.etl.Pipeline

/** Benchmark driver: sets up a pinned session, runs one workload in timed
  * passes until `--seconds` is used, checks every output it can check in
  * process, and writes a result file for `run.py` to finish.
  *
  * Usage: Main --workload <etl|query_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file>
  */
object Main {

  /** Many short monthly series, one long daily series and a BLS batch:
    * per-series work (one frame per series, the N-way union) and per-row
    * work (JSON explode, merge join, parquet write) both show. */
  val etlShape = EtlShape(fredMonthly = 6, fredDaily = 1, fredYears = 15,
    blsSeries = 4, blsYears = 6, revised = 2)

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The pinned session settings, recorded in every result. */
  def config(spark: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.ui.enabled", "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.get(k)).toMap + ("spark.version" -> spark.version)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Set("etl", "query_mix")(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    // set-up, timed as setup_s: session, inputs, and a warmup pass of the
    // workload on its own inputs. A fresh JVM's first calls are dominated
    // by class loading and JIT compilation and vary by half from JVM to
    // JVM; the warmup pass absorbs them.
    val t0 = System.nanoTime()
    val spark = session(work)
    val run: () => Map[String, Any] = workload match {
      case "etl" =>
        val w = new EtlWorkload(spark, new EtlCorpus(seed, etlShape))
        val warmed = warmupEtl(spark, work.resolve("warmup"))
        () => runEtl(spark, w, warmed, work, seconds, trace)
      case _ =>
        val dir = work.resolve("corpus")
        Corpus.write(spark, dir.toString, seed)
        val w = new QueryWorkload(spark, dir, Paths.get(System.getProperty("java.io.tmpdir")),
          QueryMix.registered)
        val warmed = w.pass(work.resolve("warmup"), None, warmRounds = 0).failures
        () => runQueries(spark, w, warmed, work, seconds, trace)
    }
    val setupSeconds = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup: $setupSeconds%.2f s")
    val result = run()
    val json = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "config" -> config(spark),
      "setup_s" -> setupSeconds,
      "result" -> result)
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(json))
    spark.stop()
  }

  private def timed[P](f: => P): (P, Double) = {
    val t0 = System.nanoTime()
    val p = f
    (p, (System.nanoTime() - t0) / 1e9)
  }

  final case class Runs[P](plain: Seq[P], traced: Option[Traced[P]])
  final case class Traced[P](pass: P, twin: P, layers: Map[String, Double])

  /** The passes of one run. Untraced: timed passes until the budget is
    * used, always one, then another only while the median pass still
    * fits. Traced: the traced pass, then an untraced twin it is compared
    * with for overhead and staleness. */
  def measure[P](spark: SparkSession, work: Path, seconds: Double, trace: Boolean)(
      pass: (Path, Option[Tracer]) => P)(
      layers: (Seq[Span], Span) => Map[String, Double]): Runs[P] = {
    def plain(name: String): (P, Double) = {
      val out = timed(pass(work.resolve(name), None))
      System.err.println(f"[perfbench] $name: ${out._2}%.2f s")
      out
    }
    if (!trace) {
      val t0 = System.nanoTime()
      val out = Vector.newBuilder[P]
      var walls = Vector.empty[Double]
      while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 + median(walls) <= seconds) {
        val (p, wall) = plain(s"pass-${walls.size}")
        out += p
        walls :+= wall
      }
      Runs(out.result(), None)
    } else {
      val t = new Tracer(spark)
      t.resetPeakHeap()
      val gc0 = t.gcSeconds
      t.attach()
      val (tp, tracedWall) = try timed(t.span("pass")(pass(work.resolve("traced"), Some(t))))
        finally t.detach()
      System.err.println(f"[perfbench] traced: $tracedWall%.2f s")
      val (twin, twinWall) = plain("twin")
      val spans = t.spans
      val root = spans.head
      val engine = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
        "spark.task_s", "spark.task_cpu_s", "spark.scheduler_delay_s",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
        "spark.output_bytes", "spark.output_rows")
        .map(k => k -> Tracer.total(spans, root, k)).toMap
      val all = engine ++ layers(spans, root) ++ Map(
        "op.plan_s" -> Tracer.total(spans, root, "plan_s"),
        "op.action_s" -> Tracer.total(spans, root, "action_s"),
        "jvm.gc_s" -> (t.gcSeconds - gc0),
        "jvm.peak_heap_bytes" -> t.peakHeapBytes,
        "trace.pass_s" -> tracedWall,
        "trace.overhead_s" -> (tracedWall - twinWall))
      Runs(Seq(twin), Some(Traced(tp, twin,
        all.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) 0.0 else v) })))
    }
  }

  /** The ETL warmup pass: a cold run and an append run on a tiny corpus.
    * With no revised series, skipping the runs between them leaves the
    * expected counts and table unchanged. */
  private val warmupSteps = Set("cold", "append")

  private def warmupEtl(spark: SparkSession, dir: Path): Seq[String] = {
    val tiny = new EtlCorpus(0, EtlShape(fredMonthly = 1, fredDaily = 0, fredYears = 2,
      blsSeries = 1, blsYears = 2, revised = 0))
    try new EtlWorkload(spark, tiny).pass(dir, None, tiny.steps.filter(s => warmupSteps(s.name)))
      .failures.map("warmup " + _)
    finally Tree.delete(dir)
  }

  private def runEtl(spark: SparkSession, w: EtlWorkload, warmed: Seq[String], work: Path,
      seconds: Double, trace: Boolean): Map[String, Any] = {
    val runs = measure(spark, work, seconds, trace) { (dir, t) =>
      try w.pass(dir, t) finally Tree.delete(dir)
    }(EtlWorkload.layers)
    val all = runs.plain ++ runs.traced.map(_.pass)
    val good = runs.plain.filter(_.failures.isEmpty)
    val stale = runs.traced.toSeq.filter(t => t.pass.fact != t.twin.fact ||
      t.pass.reports != t.twin.reports)
      .map(_ => "the traced sequence's warehouse or counts differ from Pipeline.run's")
    Map(
      "passes" -> runs.plain.map(p => Map("seconds" -> p.seconds,
        "bytes_written" -> p.bytesWritten, "failures" -> p.failures)),
      "attempted" -> (all.size * w.corpus.steps.size + warmupSteps.size),
      "failures" -> (warmed ++ all.flatMap(_.failures)),
      "end_to_end" -> Map(
        "cold_s" -> median(good.map(_.seconds.head)),
        "warm_s" -> median(good.map(_.seconds.tail.sum)),
        "op_p50_s" -> median(good.map(p => median(p.seconds))),
        "bytes_written" -> median(good.map(_.bytesWritten.toDouble))),
      "per_layer" -> runs.traced.map(_.layers),
      "stale" -> stale)
  }

  private def runQueries(spark: SparkSession, w: QueryWorkload, warmed: Seq[String],
      work: Path, seconds: Double, trace: Boolean): Map[String, Any] = {
    // outputs stay on disk for the oracle check in run.py
    val runs = measure(spark, work, seconds, trace)((dir, t) => (dir, w.pass(dir, t)))(
      QueryWorkload.layers)
    val all = runs.plain ++ runs.traced.map(_.pass)
    val good = runs.plain.map(_._2).filter(_.failures.isEmpty)
    val checks = all.flatMap { case (dir, p) =>
      val failed = p.failures.map(_.split(' ')(1).stripSuffix(":")).toSet
      for (q <- w.queries if !failed(q.name); phase <- Seq("cold", "warm")) yield Map(
        "name" -> q.name, "data" -> w.data(dir).toString,
        "output" -> w.output(dir, phase, q.name).toString,
        "sql" -> graft.SparkEntry.oracleSql(q.name))
    }
    Map(
      "passes" -> runs.plain.map { case (_, p) => Map("cold" -> p.cold.toMap,
        "warm" -> p.warm.toMap, "bytes_written" -> p.bytesWritten, "failures" -> p.failures) },
      "attempted" -> (all.size * 3 + 1) * w.queries.size,
      "failures" -> (warmed.map("warmup " + _) ++ all.flatMap(_._2.failures)),
      "end_to_end" -> Map(
        "cold_s" -> median(good.map(_.cold.map(_._2).sum)),
        "warm_s" -> median(good.map(_.warm.map(_._2).sum)),
        "op_p50_s" -> median(good.map(p => median(p.cold.map(_._2)))),
        "bytes_written" -> median(good.map(_.bytesWritten.toDouble))),
      "oracle_checks" -> checks,
      "per_layer" -> runs.traced.map(_.layers),
      "stale" -> Nil)
  }
}
