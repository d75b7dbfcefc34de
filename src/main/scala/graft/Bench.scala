package graft

/** Benchmark main — one JSON line with per-query seconds on
  * SPARK_GRAFT_SF_DIR. Each query is fully materialized through the noop
  * sink (forces every operator, unlike count() which can prune). A generic
  * warmup query runs first so JVM classloading + first-codegen cost is not
  * attributed to whichever query happens to run first.
  *
  * Default is TWO interleaved passes with per-query MIN as the headline:
  * this host occasionally stalls for minutes, inflating whichever queries
  * are in flight 10-100x (r4 and r5 each produced phantom 15-20 s
  * "regressions" that re-measurement erased), and interleaved passes
  * bound a stall's damage to one pass per query. Single-pass wall is now
  * ~190 s at sf0.1, so two passes fit the driver budget that DNF'd the
  * wider r2-r3 surfaces. Override with SPARK_GRAFT_BENCH_PASSES. Raw
  * per-pass numbers stay in the JSON for audit.
  *
  * A run that throws is a failure, never a time: it is left out of
  * `queries`, `medians` and `value`, named under `"failed"`, and the
  * bench exits non-zero after writing its JSON. */
object Bench {

  /** Seconds `body` took, or what it threw. */
  def timed(body: => Unit): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(e) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    val builder = Session.builder()
    // Shuffle-partition sizing is DATA-SCALE CONFIGURATION, not an
    // engine constant: at the 500x corpus the 32-partition default
    // spills (text_bm25 122.7s -> 36.6s, dedup_minhash 80.7s ->
    // 22.8s once widened), while at sf0.1 starting 512-wide costs
    // +47% in map-side bucket overhead across 150 sub-second
    // shuffles. The scale protocol sizes it per decade via this
    // knob; deployments size it to their cluster, as Spark intends.
    // Set ONLY when the scale protocol asks: explicitly configuring
    // initialPartitionNum — even to the same value as
    // shuffle.partitions — measurably changes AQE's coalescing around
    // the streaming queries' auxiliary batch stages (r11 bisect:
    // ev_asof_stream_wm 2.28s unset vs 2.92s set-to-32, same build).
    val spark = sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS")
      .fold(builder)(n => builder.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", n))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-FAMILY width is per-INVOCATION configuration, deliberately
    // NOT a per-query runtime toggle: r12 measured that flipping
    // initialPartitionNum via spark.conf.set around single queries is
    // not equivalent to setting it at session build (text_bm25 at the
    // 1000x corpus: 72.1 s with the env set globally vs 91.6 s toggled
    // standalone vs 312 s toggled inside a mixed panel) — the same
    // non-local AQE behavior the r11 ev_asof bisect found. The scale
    // protocol therefore runs one invocation per width group
    // (SPARK_GRAFT_ONLY selects the group, SPARK_GRAFT_INITIAL_PARTITIONS
    // sets its width); see BASELINE.md round-12.

    val runs = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def run(name: String)(body: => Unit): Unit = {
      val t = timed(body)
      // drop caches a query persisted (LSH candidate tables) so heap
      // pressure never accumulates across the suite
      spark.catalog.clearCache()
      // progress to stderr (stdout stays the single JSON line): long runs
      // on this stall-prone host are otherwise indistinguishable from hangs
      t match {
        case Right(sec) =>
          System.err.println(f"[bench] $name%-28s $sec%8.2fs")
          runs(name) = runs.getOrElse(name, Vector.empty) :+ sec
        case Left(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
      }
    }

    // Warmup: exercise scan/join/agg/sort codegen paths once, untimed.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Local-iteration filter (same contract as Verify's SPARK_GRAFT_ONLY):
    // the driver never sets it, so headline runs cover the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // DRIFT CANARY (frozen at round 13, see tools/BenchControl.scala):
    // pure-Spark control queries over a deterministic spark.range-derived
    // table, one control pass interleaved BEFORE each main pass in this
    // same session. The headline is then reported raw AND normalized by
    // the control's ratio to its freeze-round value, so host-window
    // drift is measured by a standing in-run control instead of
    // adjudicated by one-off experiments after the fact. On for full
    // (headline) runs; SPARK_GRAFT_ONLY subsets skip it unless
    // SPARK_GRAFT_CONTROL=1 forces it.
    val controlOn = sys.env.get("SPARK_GRAFT_CONTROL") match {
      case Some(v) => v != "0"
      case None => only.isEmpty
    }
    val controlPath = if (controlOn) tools.BenchControl.setup(spark) else ""
    val controlQs =
      if (controlOn) tools.BenchControl.queries(spark, controlPath) else Nil
    // I/O limb (frozen at round 14, tools/BenchControlIO.scala): the
    // compute control cannot see fs-stall windows (r13: drift 1.21 vs a
    // 15x commit-family inflation), so a small-file commit + cold point
    // probe + many-file scan run beside it and report their own drift.
    // The headline normalization stays COMPUTE-drift-based; the I/O
    // drift attributes a stalled window in-run.
    val ioCtx = if (controlOn) Some(tools.BenchControlIO.setup(spark)) else None
    val ioQs = ioCtx.map(c => tools.BenchControlIO.queries(spark, c))
      .getOrElse(Nil)

    for (_ <- 1 to passes) {
      for ((cn, q) <- controlQs)
        run(cn)(q().write.format("noop").mode("overwrite").save())
      for ((cn, act) <- ioQs) run(cn)(act())
      for (n <- names) run(n)(SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    }

    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
    }
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    // Headline = per-query MINIMUM across interleaved passes: this host's
    // stall windows (measured 10-100x inflation) can land on the same
    // query in two of three passes, so the median still carries stall
    // time; the minimum of interleaved passes is the least-contended
    // observation of each query. Medians + raw passes stay in the JSON
    // for audit. A name with no successful run has no entry.
    def minsOf(ns: Seq[String]): Seq[(String, Double)] =
      ns.flatMap(n => runs.get(n).map(n -> _.min))
    val mins = minsOf(names)
    val medians = names.flatMap(n => runs.get(n).map(n -> median(_)))
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val raw = names.flatMap(n => runs.get(n).map { xs =>
      "\"" + n + "\":[" + xs.map(fmt).mkString(",") + "]"
    }).mkString("{", ",", "}")
    val total = mins.map(_._2).sum
    val totalMedian = medians.map(_._2).sum
    // control block: per-query mins, the summed control_total, its ratio
    // to the freeze-round reference, and the drift-normalized headline
    // (`value` stays the raw measurement; comparisons should read
    // `total_normalized` when control_drift strays from 1.0)
    val controlJson = if (controlQs.isEmpty) "" else {
      val cmins = minsOf(controlQs.map(_._1))
      val ctotal = cmins.map(_._2).sum
      val cref = sys.env.get("SPARK_GRAFT_CONTROL_REF").map(_.toDouble)
        .getOrElse(tools.BenchControl.Ref)
      val drift = ctotal / cref
      val ioJson = if (ioQs.isEmpty) "" else {
        val iomins = minsOf(ioQs.map(_._1))
        val iototal = iomins.map(_._2).sum
        val ioref = sys.env.get("SPARK_GRAFT_CONTROL_IO_REF").map(_.toDouble)
          .getOrElse(tools.BenchControlIO.Ref)
        s""","control_io":${obj(iomins)},"control_io_total":${fmt(iototal)},"control_io_ref":${fmt(ioref)},"control_io_drift":${fmt(iototal / ioref)}"""
      }
      s""","control":${obj(cmins)},"control_total":${fmt(ctotal)},"control_ref":${fmt(cref)},"control_drift":${fmt(drift)},"total_normalized":${fmt(total / drift)}$ioJson"""
    }
    val failedJson = if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${obj(mins)},"medians":${obj(medians)},"total_median":${fmt(totalMedian)},"passes":$raw,"n_passes":$passes$controlJson$failedJson,"sf":"$sfDir"}"""
    println(json)
    // ALSO persist the full JSON as a repo artifact: the driver's capture
    // of stdout has truncated the tail before (r6 lost its headline), and
    // a /tmp copy does not survive a wipe. SPARK_GRAFT_BENCH_OUT overrides
    // the destination; failures to write never fail the bench.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
