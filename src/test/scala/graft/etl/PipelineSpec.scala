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

  /** `payload` with one FRED observation, 2024-04-01 = 5.4, appended. */
  private def withApril(payload: String): String = {
    val march = payload.linesIterator.find(_.contains("\"date\": \"2024-03-01\"")).get.trim
    val out = payload.replace(march, march.stripSuffix(",") +
      """, {"date": "2024-04-01", "value": "5.4", """ +
      """"realtime_start": "2024-04-01", "realtime_end": "9999-12-31"}""")
    assert(out != payload)
    out
  }

  /** The BLS fixture with one new observation, CUUR0000SA0 2024-04. */
  private val blsWithApril: String = {
    val march = """{"year": "2024", "period": "M03", "periodName": "March",    "value": "314.2""""
    val out = Fixtures.blsPayload.replace(march,
      """{"year": "2024", "period": "M04", "periodName": "April", "value": "315.0", """ +
        "\"footnotes\": [{}]},\n        " + march)
    assert(out != Fixtures.blsPayload)
    out
  }

  /** Every parquet file of one fact partition, over all its dirs, with
    * its modification time. */
  private def partFiles(layout: Pipeline.Layout, source: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(layout.factPath)
    AtomicTable.manifest(root).get.partitions(source).flatMap { d =>
      Files.list(root.resolve(d)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
    }.toMap
  }

  private def dirs(layout: Pipeline.Layout, source: String): Seq[String] =
    AtomicTable.manifest(java.nio.file.Paths.get(layout.factPath)).get.partitions(source)

  private def version(layout: Pipeline.Layout): Long =
    AtomicTable.currentVersion(java.nio.file.Paths.get(layout.factPath)).getOrElse(0L)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(graft.model.Schemas.fact.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted.toSeq

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
    val blsBefore = partFiles(layout, "BLS")
    assert(blsBefore.size === 1 && partFiles(layout, "FRED").size === 1)
    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"6.1\""))
    val r = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r.factStats("updated") === 1)
    assert(partFiles(layout, "BLS") === blsBefore,
      "BLS partition files must be byte-identical (carried by reference)")
    assert(partFiles(layout, "FRED").size === 1, "a rewritten partition is one file")
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
    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      withApril(Fixtures.fredPayload.replace("\"5.2\"", "\"6.1\"")))
    val insertOnly = jobs()
    assert((cold, unchanged, revision, insertOnly) === ((6, 5, 8, 7)),
      "jobs of a (cold, unchanged, one-series revision, one-row insert) run")
  }

  test("an insert-only run appends one dir and leaves the stored files alone") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    // the warehouse retains one version; a properties-only commit that
    // tags itself keeps the pre-run version for the change feed's diff
    val root = java.nio.file.Paths.get(layout.factPath)
    AtomicTable.commitManifest(root, Map.empty,
      properties = Map(AtomicTable.TagPrefix + "pre" -> (version(layout) + 1).toString))
    val pre = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact).collect()
    val (fredFiles, blsFiles) = (partFiles(layout, "FRED"), partFiles(layout, "BLS"))
    val (fredDirs, blsDirs) = (dirs(layout, "FRED"), dirs(layout, "BLS"))
    val v = version(layout)

    val payload = withApril(Fixtures.fredPayload)
    Files.writeString(payloads.resolve("fred_UNRATE.json"), payload)
    val r = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r.factStats === Map("inserted" -> 1L, "updated" -> 0L, "unchanged" -> 9L))

    assert(version(layout) === v + 1, "one commit")
    val after = partFiles(layout, "FRED")
    assert(fredFiles.forall { case (f, t) => after.get(f).contains(t) },
      "the stored FRED files keep their paths and mtimes")
    assert(after.size === fredFiles.size + 1, "the insert lands as one new file")
    assert(dirs(layout, "FRED").size === fredDirs.size + 1 &&
      dirs(layout, "FRED").startsWith(fredDirs), "FRED gains exactly one dir")
    assert(partFiles(layout, "BLS") === blsFiles && dirs(layout, "BLS") === blsDirs)

    val snapshot = spark.createDataFrame(pre.toSeq.asJava, graft.model.Schemas.fact)
    assert(rowsOf(AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)) ===
      rowsOf(Merge.upsert(snapshot, factFrame(payload), Seq("series_id", "date"))))

    val feed = ChangeFeed.changes(spark, layout.factPath, graft.model.Schemas.fact,
      v + 1, v + 1, Seq("series_id", "date")).collect()
    assert(feed.map(r => (r.getAs[String]("series_id"), r.getAs[java.sql.Date]("date").toString,
      r.getAs[Double]("value"), r.getAs[String](ChangeFeed.ChangeTypeCol))).toSeq ===
      Seq(("UNRATE", "2024-04-01", 5.4, "insert")))
  }

  test("a mixed run rewrites the updated source and appends the other, in one commit") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    val (blsFiles, blsDirs) = (partFiles(layout, "BLS"), dirs(layout, "BLS"))
    val v = version(layout)

    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"6.1\""))
    Files.writeString(payloads.resolve("bls.json"), blsWithApril)
    val r = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r.factStats === Map("inserted" -> 1L, "updated" -> 1L, "unchanged" -> 8L))

    assert(version(layout) === v + 1, "one commit")
    assert(dirs(layout, "FRED").size === 1 && partFiles(layout, "FRED").size === 1,
      "FRED is rewritten as one file")
    assert(dirs(layout, "BLS").size === blsDirs.size + 1 &&
      dirs(layout, "BLS").startsWith(blsDirs), "BLS gains one dir")
    val after = partFiles(layout, "BLS")
    assert(blsFiles.forall { case (f, t) => after.get(f).contains(t) } &&
      after.size === blsFiles.size + 1, "BLS is appended, its stored files untouched")
    val fact = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
    assert(fact.count() === 10)
    assert(fact.filter("series_id = 'UNRATE' AND date = DATE'2024-03-01'")
      .collect().head.getAs[Double]("value") === 6.1)
    assert(fact.filter("series_id = 'CUUR0000SA0' AND date = DATE'2024-04-01'")
      .collect().head.getAs[Double]("value") === 315.0)
  }

  test("mergeFact keeps vector-deleted rows deleted") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    val schema = graft.model.Schemas.fact
    val keys = Seq("series_id", "date")
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    def deleteUnrate(date: String): Unit =
      MergeInto.deleteKeysMor(spark, layout.factPath, schema,
        spark.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row("UNRATE", java.sql.Date.valueOf(date))),
          org.apache.spark.sql.types.StructType(keys.map(schema(_)))),
        keys, "source")
    def fredDates(): Seq[String] = MergeInto.readMerged(spark, layout.factPath, schema)
      .filter("source = 'FRED'").collect().map(_.getAs[java.sql.Date]("date").toString)
      .sorted.toSeq
    def deletes() = AtomicTable.manifest(java.nio.file.Paths.get(layout.factPath)).get.deletes

    // a revision whose payload no longer carries the deleted January
    deleteUnrate("2024-01-01")
    assert(fredDates() === Seq("2024-02-01", "2024-03-01"))
    val revised = Fixtures.fredPayload.linesIterator
      .filterNot(_.contains("\"date\": \"2024-01-01\"")).mkString("\n")
      .replace("\"5.2\"", "\"6.1\"")
    Files.writeString(payloads.resolve("fred_UNRATE.json"), revised)
    val r = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r.factStats("updated") === 1)
    assert(fredDates() === Seq("2024-02-01", "2024-03-01"), "January stays deleted")
    assert(deletes().isEmpty, "the rewrite folded the vector")

    // an insert-only run into a partition with a vector rewrites it
    deleteUnrate("2024-02-01")
    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      withApril(revised).linesIterator
        .filterNot(_.contains("\"date\": \"2024-02-01\"")).mkString("\n"))
    val r2 = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r2.factStats === Map("inserted" -> 1L, "updated" -> 0L, "unchanged" -> 7L))
    assert(fredDates() === Seq("2024-03-01", "2024-04-01"))
    assert(deletes().isEmpty)
    assert(dirs(layout, "FRED").size === 1, "the vectored partition is rewritten")
    assert(rowsOf(AtomicTable.read(spark, layout.factPath, schema).filter("source = 'FRED'")) ===
      rowsOf(MergeInto.readMerged(spark, layout.factPath, schema).filter("source = 'FRED'")))
  }

  test("reading a committed table starts no Spark job before an action") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    Files.writeString(payloads.resolve("fred_UNRATE.json"), withApril(Fixtures.fredPayload))
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(dirs(layout, "FRED").size === 2, "two txn dirs to read")
    val schema = graft.model.Schemas.fact
    val (fact, seen) = jobsOf(AtomicTable.read(spark, layout.factPath, schema))
    assert(seen.isEmpty)
    assert(fact.schema.map(f => f.name -> f.dataType) === schema.map(f => f.name -> f.dataType))
    assert(fact.count() === 10)
    val typo = schema.add("vlaue", org.apache.spark.sql.types.DoubleType)
    val e = intercept[Exception](AtomicTable.read(spark, layout.factPath, typo))
    assert(e.getMessage.contains("vlaue"))
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

  test("replacePartitions reads its staged dir for zone maps and blooms with no inference job") {
    val table = Files.createTempDirectory("graft-staged").resolve("t").toString
    val rows = spark.range(0, 90).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS p")
    // the staged write, then the zone-map aggregation's two adaptive
    // stages; no job infers the staged files' schema
    val (stats, seen) = jobsOf(AtomicTable.replacePartitions(spark, table, rows, "p",
      statsColumns = Seq("k")).stats)
    assert(seen.size === 3 && seen.head === "parquet" && seen.count(_ == "parquet") === 1,
      seen)
    val expected = (0 to 2).map(r => r.toString ->
      AtomicTable.PartStats(30, Map("k" -> r.toString), Map("k" -> (87 + r).toString))).toMap
    assert(stats === expected)
    // zone maps and blooms in one commit: both read the staged files as
    // listed before the bloom sidecars landed next to them
    val both = AtomicTable.replacePartitions(spark, table, rows, "p",
      statsColumns = Seq("k"), bloomBy = Seq("k"))
    assert(both.stats === expected)
    assert(spark.read.format("graft").load(table).where("k = 40").count() === 1)
  }
}
