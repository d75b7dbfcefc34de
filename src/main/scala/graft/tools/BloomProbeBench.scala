package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.GraftBloom

/** Measures the DRIVER-side planning cost of the bloom probe at a
  * large zone-admitted file set (r11 watch item #7; r12 verdict weak
  * #3): a point lookup on a bloom column consults one filter per
  * admitted file during split planning (GraftSource.planFromManifest).
  * Since round 13 the probe reads ONE offset-indexed BUNDLE per
  * admitted dir (folded at commit) instead of one 8 KiB sidecar per
  * file, with per-file sidecars as the fallback — this tool measures
  * both, cold and warm, against a full-scan control.
  *
  * The optional third arg simulates object-store GET latency
  * (GraftBloom.simulatedReadDelayMs, applied once per remote read):
  * at 10 ms/GET a 10k-file probe is ~100 s under per-file sidecars and
  * one GET under the bundle — the number that proves planning is
  * bounded by the commit structure, not the file count.
  *
  * Usage: runMain graft.tools.BloomProbeBench [nFiles] [rowsPerFile]
  * [simReadMs] (defaults 10000 x 20 x 0). Prints one JSON line.
  */
object BloomProbeBench {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(10000)
    val rowsPer = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val simMs = args.drop(2).headOption.map(_.toLong).getOrElse(0L)
    val spark = graft.Session.builder()
      // wide shuffle + no coalescing: the salted write must actually
      // fan out to ~nFiles tasks at this tool's toy data volume (AQE
      // would rightly fold a few-KB shuffle back to one task)
      .config("spark.sql.shuffle.partitions", math.max(32, nFiles).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()

    val warehouse = java.nio.file.Files
      .createTempDirectory("graft-bloomprobe").toString
    spark.conf.set("spark.sql.catalog.gpb",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpb.root", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpb.db")
    val n = nFiles.toLong * rowsPer
    // write_salt fans the single partition out to nFiles writer tasks
    // (the write path otherwise clusters one partition value = one
    // file); each file's ids are hash-scattered over the whole key
    // space, so file zone maps admit everything — the probe is the only
    // skipping tier, and it must consult every admitted file. Catalog
    // table: the salt's bucket transform resolves through the catalog's
    // function registry.
    spark.sql(s"CREATE TABLE gpb.db.probe (id BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES (" +
      s"'write_salt'='id:$nFiles', 'bloom_columns'='id', " +
      "'stats_columns'='id', 'retain'='2')")
    spark.range(n).select(col("id"), lit("a").as("p"))
      .createOrReplaceTempView("probe_src")
    spark.sql("INSERT INTO gpb.db.probe SELECT * FROM probe_src")
    val dir = java.nio.file.Paths.get(warehouse, "db", "probe").toString
    val actualFiles = graft.etl.AtomicTable.dataFileCount(
      java.nio.file.Paths.get(dir))
    System.err.println(s"[probe] staged $actualFiles data files")

    def timeMs[A](f: => A): (Long, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1000000L, a)
    }
    val key = 7L * nFiles + 3L // lives in exactly one file
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
      case o => o.children.flatMap(scansOf)
    }
    var lastPlanned = -1
    def point(): Long = {
      val df = spark.read.format("graft").load(dir)
        .filter(col("id") === key)
      val n = df.count()
      lastPlanned = scansOf(df.queryExecution.executedPlan).headOption
        .flatMap(b => graft.sources.GraftSource.plannedFileCount(b.scan))
        .getOrElse(-1)
      n
    }
    val (fullMs, total) = timeMs(
      spark.read.format("graft").load(dir).count())

    // --- bundled probe (the committed layout): one read per dir
    GraftBloom.clearCaches()
    GraftBloom.bundleReads.set(0L)
    GraftBloom.sidecarReads.set(0L)
    GraftBloom.simulatedReadDelayMs = simMs
    val (bundleColdMs, c1) = timeMs(point())
    val (bundleWarmMs, c2) = timeMs(point())
    val bundlePlanned = lastPlanned
    val bundlePhaseReads =
      (GraftBloom.bundleReads.get(), GraftBloom.sidecarReads.get())

    // --- per-file fallback (pre-r13 posture): delete the bundles so
    // the probe pays one read per (file, col) — the object-store
    // worst case the bundle exists to bound
    GraftBloom.simulatedReadDelayMs = 0L
    val dataDir = java.nio.file.Paths.get(dir, "data")
    var bundlesDeleted = 0
    val walk = java.nio.file.Files.walk(dataDir)
    try walk.filter(_.getFileName.toString == GraftBloom.BundleName)
      .forEach(p => {
        if (java.nio.file.Files.deleteIfExists(p)) bundlesDeleted += 1
        ()
      })
    finally walk.close()
    System.err.println(s"[probe] deleted $bundlesDeleted bundle files")
    GraftBloom.clearCaches()
    GraftBloom.bundleReads.set(0L)
    GraftBloom.sidecarReads.set(0L)
    GraftBloom.simulatedReadDelayMs = simMs
    val (sidecarColdMs, c3) = timeMs(point())
    val (sidecarWarmMs, c4) = timeMs(point())
    GraftBloom.simulatedReadDelayMs = 0L
    val sidecarPlanned = lastPlanned
    val sidecarPhaseReads =
      (GraftBloom.bundleReads.get(), GraftBloom.sidecarReads.get())

    require(c1 == 1L && c2 == 1L && c3 == 1L && c4 == 1L && total == n,
      s"probe must find exactly its row: $c1/$c2/$c3/$c4 of $total")
    println(s"""{"metric":"bloom_probe","n_files":$nFiles,""" +
      s""""actual_files":$actualFiles,""" +
      s""""sim_read_ms":$simMs,"full_scan_ms":$fullMs,""" +
      s""""bundle_cold_ms":$bundleColdMs,"bundle_warm_ms":$bundleWarmMs,""" +
      s""""bundle_gets":${bundlePhaseReads._1},""" +
      s""""bundle_phase_sidecar_gets":${bundlePhaseReads._2},""" +
      s""""sidecar_cold_ms":$sidecarColdMs,"sidecar_warm_ms":$sidecarWarmMs,""" +
      s""""sidecar_gets":${sidecarPhaseReads._2},""" +
      s""""sidecar_phase_bundle_gets":${sidecarPhaseReads._1},""" +
      s""""bundle_planned_files":$bundlePlanned,""" +
      s""""sidecar_planned_files":$sidecarPlanned}""")
    spark.stop()
  }
}
