package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSuite

/** Driver-side DSv2 CustomMetrics for the graft scan: every pruning
  * tier (partition key/zone-map admission, file zone maps, bloom
  * sidecars, DPP/runtime values, LIMIT truncation) reports what it
  * skipped through the standard metric channel, so the Spark UI shows
  * the skipping the specs otherwise only pin plan-side. These tests
  * assert BOTH layers: the values the scan reports, and that they
  * land in BatchScanExec's SQLMetric accumulators (the UI path). */
class GraftScanMetricsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-metrics").toString
    spark.conf.set("spark.sql.catalog.gm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.root", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gm.db")
    w
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansOf(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scansOf(q.plan)
    case b: BatchScanExec => Seq(b)
    case o => o.children.flatMap(scansOf)
  }

  /** Run `df`, return the scan node's metric values by name (driver
    * metrics post on inputRDD creation, so they are set after collect). */
  private def metricsOf(df: DataFrame): Map[String, Long] = {
    df.collect()
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a graft BatchScanExec in the plan")
    scans.head.metrics.collect {
      case (n, m) if GraftScanMetrics.all.exists(_.name == n) => n -> m.value
    }
  }

  test("advertised metric names cover exactly what driver and tasks report") {
    val supported = GraftScanMetrics.all.map(_.name).toSet
    assert(supported.size === GraftScanMetrics.all.length, "no dup names")
    warehouse
    spark.sql("CREATE TABLE gm.db.names (id BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    val q = spark.sql("SELECT id FROM gm.db.names")
    q.collect()
    val scan = scansOf(q.queryExecution.executedPlan).head.scan
    val driverReported = scan.asInstanceOf[GraftScan]
      .reportDriverMetrics().map(_.name).toSet
    val taskReported = new GraftTaskDecodeCounters.Holder()
      .values.map(_.name).toSet
    assert(driverReported.intersect(taskReported).isEmpty,
      "a name must be driver-side or task-side, never both")
    assert(driverReported ++ taskReported === supported)
  }

  test("task metrics attribute rows to their decode path and DV subtraction") {
    import org.apache.spark.sql.functions.col
    warehouse
    spark.sql("CREATE TABLE gm.db.paths (k BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    (0L until 100L).map(i => (i, i * 1.0, "a")).toDF("k", "v", "p")
      .createOrReplaceTempView("src_paths")
    spark.sql("INSERT INTO gm.db.paths SELECT * FROM src_paths")
    // vector-free: all rows decode columnar
    val plain = metricsOf(spark.sql("SELECT k, v FROM gm.db.paths"))
    assert(plain("rowsDecodedColumnar") === 100L)
    assert(plain("rowsDecodedVectorizedRow") === 0L)
    assert(plain("dvRowsSubtracted") === 0L)
    // after a keyed MOR delete: rows decode on the vectorized ROW path
    // and the subtraction is visible
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    graft.etl.MergeInto.deleteKeysMor(spark,
      java.nio.file.Paths.get(warehouse, "db", "paths").toString, schema,
      Seq((7L, "a"), (13L, "a")).toDF("k", "p").select(col("k"), col("p")),
      Seq("k"), "p", retain = 5)
    val dv = metricsOf(spark.sql("SELECT k FROM gm.db.paths"))
    assert(dv("rowsDecodedVectorizedRow") === 98L)
    assert(dv("dvRowsSubtracted") === 2L)
    assert(dv("rowsDecodedColumnar") === 0L)
  }

  test("partition pruning reports skipped partitions and their files") {
    warehouse
    spark.sql("CREATE TABLE gm.db.parts (id BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    // two appends per partition: the writer clusters by partition key
    // (one file per partition per insert), so each key holds 2 files
    (1 to 2).foreach { _ =>
      Seq("a", "b", "c").foreach { p =>
        (0L until 10L).map(i => (i, i * 1.0, p)).toDF("id", "v", "p")
          .createOrReplaceTempView("src_parts")
        spark.sql("INSERT INTO gm.db.parts SELECT * FROM src_parts")
      }
    }
    val m = metricsOf(
      spark.sql("SELECT id, v FROM gm.db.parts WHERE p = 'b'"))
    assert(m("partitionsPlanned") === 1L)
    assert(m("partitionsSkippedStatic") === 2L)
    assert(m("filesSkippedPartition") === 4L, "2 skipped parts x 2 files")
    assert(m("filesPlanned") === 2L)
    assert(m("bytesPlanned") > 0L)
    // unfiltered control: nothing skipped, everything planned
    val c = metricsOf(spark.sql("SELECT id FROM gm.db.parts"))
    assert(c("partitionsPlanned") === 3L)
    assert(c("partitionsSkippedStatic") === 0L)
    assert(c("filesPlanned") === 6L)
  }

  test("file zone maps and bloom sidecars report their own skip tiers") {
    warehouse
    spark.sql("CREATE TABLE gm.db.files (id BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='10', " +
      "'stats_columns'='id', 'bloom_columns'='id')")
    // three appends with disjoint id ranges: three files, each with its
    // own zone map and bloom sidecar
    Seq(0L until 10L, 100L until 110L, 200L until 210L).foreach { r =>
      r.map(i => (i, i * 1.5, "a")).toDF("id", "v", "p")
        .coalesce(1).createOrReplaceTempView("src_files")
      spark.sql("INSERT INTO gm.db.files SELECT * FROM src_files")
    }
    // range predicate: zone maps alone refute two of three files
    val z = metricsOf(
      spark.sql("SELECT v FROM gm.db.files WHERE id >= 100 AND id < 110"))
    assert(z("filesSkippedZoneMap") === 2L)
    assert(z("filesPlanned") === 1L)
    // bloom tier needs a point ABSENT from a file whose zone map (if
    // any) still admits it — a sparse table with no stats_columns makes
    // the bloom sidecar the only file-granular refuter
    spark.sql("CREATE TABLE gm.db.sparse (id BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='10', " +
      "'bloom_columns'='id')")
    // no stats_columns: zone maps don't track id, bloom is the only
    // file-granular tier; even ids only, so an odd probe bloom-skips
    Seq(0L until 20L by 2, 100L until 120L by 2).foreach { r =>
      r.map(i => (i, "a")).toDF("id", "p")
        .coalesce(1).createOrReplaceTempView("src_sparse")
      spark.sql("INSERT INTO gm.db.sparse SELECT * FROM src_sparse")
    }
    val b = metricsOf(spark.sql("SELECT id FROM gm.db.sparse WHERE id = 7"))
    assert(b("filesSkippedBloom") === 2L, "both files bloom-refute id=7")
    assert(b("filesSkippedZoneMap") === 0L)
    assert(b("filesPlanned") === 0L)
  }

  test("write metrics report rows, files, and bloom sidecars per task") {
    warehouse
    spark.sql("CREATE TABLE gm.db.wm (id BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5', " +
      "'bloom_columns'='id')")
    (0L until 90L).map(i => (i, i * 1.0, s"p${i % 3}")).toDF("id", "v", "p")
      .createOrReplaceTempView("src_wm")
    val df = spark.sql("INSERT INTO gm.db.wm SELECT * FROM src_wm")
    def writeExecs(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        writeExecs(c.commandPhysicalPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        writeExecs(a.executedPlan)
      case w: org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec =>
        Seq(w)
      case o => o.children.flatMap(writeExecs)
    }
    val writes = writeExecs(df.queryExecution.executedPlan)
    assert(writes.nonEmpty, "expected a V2 write exec in the plan")
    val m = writes.head.metrics
    assert(m(GraftWriteMetrics.RowsWritten).value === 90L)
    // clustered write: one file per partition value
    assert(m(GraftWriteMetrics.FilesWritten).value === 3L)
    // one bloom builder per (partition value, bloom column)
    assert(m(GraftWriteMetrics.BloomBuilders).value === 3L)
  }

  test("a zero-exchange join task keeps each scan's decode tally separate") {
    warehouse
    spark.sql("CREATE TABLE gm.db.j1 (k BIGINT, a DOUBLE) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('retain'='5')")
    spark.sql("CREATE TABLE gm.db.j2 (k BIGINT, b DOUBLE) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('retain'='5')")
    (0L until 50L).map(i => (i, i * 1.0)).toDF("k", "a")
      .createOrReplaceTempView("src_j1")
    (0L until 30L).map(i => (i, i * 2.0)).toDF("k", "b")
      .createOrReplaceTempView("src_j2")
    spark.sql("INSERT INTO gm.db.j1 SELECT * FROM src_j1")
    spark.sql("INSERT INTO gm.db.j2 SELECT * FROM src_j2")
    val prev = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = spark.sql("SELECT t1.k, t1.a, t2.b FROM gm.db.j1 t1 " +
        "JOIN gm.db.j2 t2 ON t1.k = t2.k")
      j.collect()
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "precondition: the join must be zero-exchange so both scans " +
          "share tasks")
      val scans = scansOf(j.queryExecution.executedPlan)
      assert(scans.length === 2)
      // each scan's metric must carry ITS rows only — a task-wide
      // counter would report 80 on both sides
      val tallies = scans.map(_.metrics("rowsDecodedColumnar").value).sorted
      assert(tallies === Seq(30L, 50L),
        s"per-scan decode tallies must not bleed across the join: $tallies")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("LIMIT truncation reports the files it did not plan") {
    warehouse
    spark.sql("CREATE TABLE gm.db.lim (id BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='10', " +
      "'stats_columns'='id')")
    Seq("a", "b", "c", "d").foreach { p =>
      (0L until 50L).map(i => (i, p)).toDF("id", "p")
        .coalesce(1).createOrReplaceTempView("src_lim")
      spark.sql("INSERT INTO gm.db.lim SELECT * FROM src_lim")
    }
    val m = metricsOf(spark.sql("SELECT id FROM gm.db.lim LIMIT 30"))
    assert(m("filesSkippedLimit") >= 1L, "limit covers within one file")
    assert(m("filesPlanned") < 4L)
  }
}
