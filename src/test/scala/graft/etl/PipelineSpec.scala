package graft.etl

import java.nio.file.Files
import java.time.{Instant, LocalDate}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite
import graft.ingest.{FileSeriesSource, Fixtures, Normalize, SeriesSource}

/** End-to-end offline pipeline runs against canned payloads in temp dirs —
  * the Spark analog of `/root/reference/tests/test_main.py` +
  * `tests/test_load.py` integration behavior. */
class PipelineSpec extends SparkSuite {

  private val fredSeries = Seq("UNRATE" -> "UNRATE")
  private val today = LocalDate.parse("2024-03-15")
  private val now = Instant.parse("2024-03-15T12:00:00Z")

  private def freshLayout(): (Pipeline.Layout, java.nio.file.Path) = {
    val base = Files.createTempDirectory("graft-pipe")
    val payloads = base.resolve("payloads")
    Files.createDirectories(payloads)
    Files.writeString(payloads.resolve("fred_UNRATE.json"), Fixtures.fredPayload)
    Files.writeString(payloads.resolve("bls.json"), Fixtures.blsPayload)
    (Pipeline.Layout(
      s"$base/state", s"$base/raw", s"$base/warehouse"), payloads)
  }

  test("first run inserts everything; rerun is fully unchanged (idempotent)") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    val r1 = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r1.factStats("inserted") === 9) // 3 FRED + 6 BLS
    assert(r1.factStats("updated") === 0)
    assert(r1.dimStats("inserted") === 3) // 1 FRED + 2 BLS series
    assert(r1.skippedSeries.isEmpty)

    val r2 = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r2.factStats("unchanged") === 9)
    assert(r2.factStats("inserted") === 0 && r2.factStats("updated") === 0)
    assert(r2.dimStats("inserted") === 0 && r2.dimStats("unchanged") === 3)
  }

  test("value revision becomes an update; null persists as null") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)

    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"5.9\""))
    val r2 = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r2.factStats("updated") === 1)
    assert(r2.factStats("unchanged") === 8)

    val fact = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
    val revised = fact.filter("series_id = 'UNRATE' AND date = DATE'2024-03-01'")
      .collect().head
    assert(revised.getDouble(3) === 5.9)
    assert(fact.filter("series_id = 'UNRATE' AND value IS NULL").count() === 1)
  }

  test("raw snapshots land once per content hash; state advances watermark") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    val raws = Files.list(java.nio.file.Paths.get(layout.rawDir)).toArray.map(_.toString)
    assert(raws.exists(_.endsWith("FRED_UNRATE_2024_03_15.json")))
    assert(raws.exists(_.endsWith("BLS_batch_2024_03_15.json")))

    val store = graft.ingest.State.Store(layout.stateDir)
    assert(store.load("fred", "UNRATE").get.lastObservationDate === Some("2024-03-01"))

    // unchanged rerun on a later day: no new snapshot (hash-skip)
    val later = LocalDate.parse("2024-03-16")
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, later, now)
    val raws2 = Files.list(java.nio.file.Paths.get(layout.rawDir)).toArray.map(_.toString)
    assert(!raws2.exists(_.contains("2024_03_16")))
  }

  test("fact warehouse is source-partitioned and prunes on source filters") {
    val (layout, payloads) = freshLayout()
    Pipeline.run(spark, new FileSeriesSource(payloads), layout,
      fredSeries, Fixtures.blsSeriesMap, today, now)
    val m = AtomicTable.manifest(java.nio.file.Paths.get(layout.factPath)).get
    assert(m.partitions.keySet === Set("FRED", "BLS"))
    val scan = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
      .filter("source = 'FRED'")
    val plan = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      "source#\\d+ = FRED".r.findFirstIn(plan).isDefined,
      s"expected partition pruning in:\n$plan")
    assert(scan.count() === 3)
  }

  test("a FRED-only revision rewrites only the FRED partition") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(Files.list(java.nio.file.Paths.get(layout.dimPath)).toArray
      .count(_.toString.endsWith(".parquet")) === 1, "the cold run writes dim_series as one file")
    def partFiles(source: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(layout.factPath)
      val dir = root.resolve(AtomicTable.manifest(root).get.partitions(source).head)
      Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val blsBefore = partFiles("BLS")
    assert(blsBefore.size === 1 && partFiles("FRED").size === 1)
    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"6.1\""))
    val r = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r.factStats("updated") === 1)
    assert(partFiles("BLS") === blsBefore,
      "BLS partition files must be byte-identical (carried by reference)")
    assert(partFiles("FRED").size === 1, "a rewritten partition is one file")
    val fred = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
      .filter("source = 'FRED' AND date = DATE'2024-03-01'").collect()
    assert(fred.head.getDouble(fred.head.fieldIndex("value")) === 6.1)
  }

  test("a crash before the version swap leaves the table at the old version") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    def snapshot(): Seq[String] =
      AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
        .collect().map(_.toString).sorted.toSeq
    val before = snapshot()
    val v1 = AtomicTable.currentVersion(java.nio.file.Paths.get(layout.factPath))

    // stage a revision but die at the worst moment: data durable, manifest
    // written, version pointer NOT yet swapped
    val revised = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
      .filter("source = 'FRED'")
      .withColumn("value", org.apache.spark.sql.functions.lit(99.9))
    val boom = intercept[RuntimeException] {
      AtomicTable.replacePartitions(spark, layout.factPath, revised, "source",
        beforeCommit = () => throw new RuntimeException("boom: killed mid-commit"))
    }
    assert(boom.getMessage.contains("killed mid-commit"))
    assert(AtomicTable.currentVersion(java.nio.file.Paths.get(layout.factPath)) === v1)
    assert(snapshot() === before, "reader must still see the pre-crash version")

    // the retry commits cleanly; the crashed attempt's never-referenced
    // staging dir is reclaimed by the explicit age-gated vacuum (post-r7
    // gc deletes only once-committed dirs, so a CONCURRENT writer's
    // in-flight staging can never be destroyed — WriterRaceSpec)
    AtomicTable.replacePartitions(spark, layout.factPath, revised, "source")
    val after = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
    assert(after.filter("source = 'FRED' AND value = 99.9").count() === 3)
    assert(after.filter("source = 'BLS'").count() === 6, "BLS partition untouched")
    val root = java.nio.file.Paths.get(layout.factPath)
    AtomicTable.vacuum(root, olderThanMs = 0L)
    val referenced = AtomicTable.manifest(root).get.partitions.values.flatten.toSet
    val onDisk = Files.list(root.resolve("data")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .flatMap(t => Files.list(t).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(Files.isDirectory(_))
        .map(p => s"data/${t.getFileName}/${p.getFileName}"))
    assert(onDisk.toSet === referenced, "GC must leave only referenced partition dirs")
  }

  test("a failing FRED series is skipped, not fatal; BLS failure aborts") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    val r = Pipeline.run(spark, src,
      layout, Seq("UNRATE" -> "UNRATE", "MISSING" -> "NOPE"),
      Fixtures.blsSeriesMap, today, now)
    assert(r.skippedSeries === Seq("NOPE"))
    assert(r.factStats("inserted") === 9) // UNRATE + BLS still loaded

    val badBls = new SeriesSource {
      def fetchFred(id: String, start: Option[String]): String = Fixtures.fredPayload
      def fetchBls(ids: Seq[String], sy: Int, ey: Int): String =
        """{"status": "REQUEST_NOT_PROCESSED", "Results": {"series": []}}"""
    }
    val (layout2, _) = freshLayout()
    val e = intercept[RuntimeException] {
      Pipeline.run(spark, badBls, layout2, fredSeries, Fixtures.blsSeriesMap, today, now)
    }
    assert(e.getMessage.contains("extract"))
  }

  private def factFrame(fredPayload: String): DataFrame =
    Transforms.combineFactTables(Seq(
      Normalize.fredObservations(Normalize.readFredJson(spark, fredPayload), "UNRATE", "UNRATE"),
      Normalize.blsBatch(Normalize.readBlsJson(spark, Fixtures.blsPayload),
        Fixtures.blsSeriesMap)))

  /** The result of `body` and the actions it ran, by the function names a
    * `QueryExecutionListener` sees ("command" is a parquet write). */
  private def actionsOf[T](body: => T): (T, Seq[String]) = {
    val actions = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.add(s"failed $funcName")
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = body
      ListenerBusDrain(spark.sparkContext)
      (result, actions.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The result of `body` and the Spark jobs it started, each named by
    * its call site's first word ("collect", "parquet", or the
    * adaptive-execution stage runner). */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.maxBy(_.stageId).name.takeWhile(_ != ' '))
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      ListenerBusDrain(spark.sparkContext)
      (result, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("each Pipeline.run starts a fixed handful of Spark jobs") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    def jobs(): Int = jobsOf(Pipeline.run(spark, src, layout, fredSeries,
      Fixtures.blsSeriesMap, today, now))._2.size
    val cold = jobs()
    val unchanged = jobs()
    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"6.1\""))
    val revision = jobs()
    assert((cold, unchanged, revision) === ((6, 6, 9)),
      "jobs of a (cold, unchanged, one-series revision) run")
  }

  test("mergeFact evaluates the fact plan once: one collect, at most one write") {
    val (layout, _) = freshLayout()
    val revised = Fixtures.fredPayload.replace("\"5.2\"", "\"5.9\"")
    for ((payload, changed) <- Seq(
        (Fixtures.fredPayload, 9L), (Fixtures.fredPayload, 0L), (revised, 1L))) {
      val fact = factFrame(payload)
      val (stats, seen) = actionsOf(Pipeline.mergeFact(spark, fact, layout.factPath))
      assert(stats("inserted") + stats("updated") === changed)
      // an unchanged run writes nothing
      assert(seen === (if (changed > 0) Seq("collect", "command") else Seq("collect")))
    }
  }

  test("mergeDim starts at most one read job and one write job") {
    val (layout, _) = freshLayout()
    def dim(fred: Seq[(String, String)]) =
      Transforms.buildDimSeries(spark, fred, Fixtures.blsSeriesMap)
    // "collect" reads the stored ids; "parquet" appends. The incoming
    // rows are a local frame, so collecting them starts no job, and a dim
    // that does not exist yet is not read.
    for ((fred, expected, jobs) <- Seq(
        (fredSeries, Map("inserted" -> 3L, "unchanged" -> 0L), Seq("parquet")),
        (fredSeries, Map("inserted" -> 0L, "unchanged" -> 3L), Seq("collect")),
        (fredSeries :+ ("GDP" -> "GDP"), Map("inserted" -> 1L, "unchanged" -> 3L),
          Seq("collect", "parquet")))) {
      val (stats, seen) = jobsOf(Pipeline.mergeDim(spark, dim(fred), layout.dimPath))
      assert(stats === expected)
      assert(seen === jobs)
    }
    assert(spark.read.parquet(layout.dimPath).count() === 4)

    // a series configured twice is stored twice; each incoming row still
    // counts once
    val (twice, _) = freshLayout()
    val doubled = dim(fredSeries ++ fredSeries)
    assert(Pipeline.mergeDim(spark, doubled, twice.dimPath) ===
      Map("inserted" -> 4L, "unchanged" -> 0L))
    assert(Pipeline.mergeDim(spark, doubled, twice.dimPath) ===
      Map("inserted" -> 0L, "unchanged" -> 4L))

    // a NULL id matches nothing, so its row is inserted on every run
    val (nulls, _) = freshLayout()
    val nameless = Transforms.buildDimSeries(spark, Seq("Nameless" -> null), Nil)
    for (_ <- 1 to 2)
      assert(Pipeline.mergeDim(spark, nameless, nulls.dimPath) ===
        Map("inserted" -> 1L, "unchanged" -> 0L))
  }
}
