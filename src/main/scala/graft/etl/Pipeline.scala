package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Normalize, SeriesSource, State}
import graft.model.Schemas
import graft.model.Schemas.ExtractionState

/** The 3-phase pipeline driver (O1-O3, `/root/reference/src/main.py:18-74`)
  * re-expressed Spark-first: extract is driver-side HTTP + raw-zone
  * snapshots + state commits; transform builds one lazy fact plan
  * (explode → cast → union) with no action, normalizing every FRED
  * response of the run as one batch frame ([[Normalize.fredBatch]]) so
  * the plan does not grow with the number of series; load evaluates it
  * exactly once, as the persisted classification of [[mergeFact]] that
  * feeds both the run report and the one staged write, which rewrites
  * the source partitions that gained updates and appends to those that
  * only gained rows. The load path does not sort the fact rows: the
  * MERGE's dedup window reshuffles them anyway, and the writer orders
  * each partition it writes. Phase
  * failures abort the run with a phase-tagged error; a single bad FRED
  * series is skipped, not fatal (O2, `src/main.py:41-47`).
  */
object Pipeline {

  final case class RunReport(
      factStats: Map[String, Long],
      dimStats: Map[String, Long],
      skippedSeries: Seq[String])

  final case class Layout(stateDir: String, rawDir: String, warehouseDir: String) {
    def factPath: String = s"$warehouseDir/fact_economic_observations"
    def dimPath: String = s"$warehouseDir/dim_series"
  }

  /** Extract one FRED series: fetch (with offset pushdown), hash-compare,
    * snapshot, advance state (`src/extract.py:69-122`). Returns the raw
    * JSON whether or not it changed — transform always runs
    * (`src/extract.py:102`). */
  def extractFred(seriesId: String, source: SeriesSource, store: State.Store,
      rawDir: Path, today: LocalDate, now: Instant): String = {
    val prev = store.load("fred", seriesId)
    val json = source.fetchFred(seriesId, prev.flatMap(_.lastObservationDate))
    val obsJson = State.fredObservationsJson(json)
    val hash = State.contentHash(obsJson)
    if (!prev.exists(_.lastHash == hash)) {
      Files.createDirectories(rawDir)
      Files.writeString(rawDir.resolve(
        s"FRED_${seriesId}_${today.toString.replace('-', '_')}.json"), json)
    }
    val newest = lastObservationDate(obsJson)
    store.save(ExtractionState("fred", seriesId,
      State.advanceOffset(prev.flatMap(_.lastObservationDate), newest),
      hash, now.toString))
    json
  }

  /** Extract the BLS batch: whole-response hash, app-level status check
    * distinct from transport errors (`src/extract.py:129-175`). */
  def extractBls(seriesIds: Seq[String], source: SeriesSource, store: State.Store,
      rawDir: Path, today: LocalDate, now: Instant, startYear: Int, endYear: Int): String = {
    val json = source.fetchBls(seriesIds, startYear, endYear)
    if (!json.contains("\"REQUEST_SUCCEEDED\""))
      throw new RuntimeException(s"BLS API error: status not REQUEST_SUCCEEDED")
    val hash = State.contentHash(json)
    val prev = store.load("bls", "batch")
    if (!prev.exists(_.lastHash == hash)) {
      Files.createDirectories(rawDir)
      Files.writeString(rawDir.resolve(
        s"BLS_batch_${today.toString.replace('-', '_')}.json"), json)
    }
    store.save(ExtractionState("bls", "batch", None, hash, now.toString))
    json
  }

  private def lastObservationDate(obsJson: String): Option[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.readTree(obsJson)
    if (arr == null || !arr.isArray || arr.size() == 0) None
    else Option(arr.get(arr.size() - 1).get("date")).map(_.asText)
  }

  /** Load phase: join-based MERGE into the transactional parquet warehouse
    * (AtomicTable), writing ONLY what changed — the R1 hash-skip idea
    * applied at the storage layer: a one-series revision must not rewrite
    * the other sources' terabytes, and a day of new observations must not
    * rewrite the history it lands next to.
    *
    * The incoming plan is classified once against the table's merged
    * state (data minus delete vectors, [[MergeInto.readMerged]]): the
    * classified frame is persisted, one `(source, action)` count over it
    * yields both the report and the plan below, and the write reads its
    * incoming rows back from the same cache, so the fact plan is never
    * re-evaluated. The cache holds one run's fetch, so the count runs in
    * a single task, with no exchange. Per changed source partition:
    *  - a source with any update, or with outstanding delete vectors, is
    *    REWRITTEN: its stored rows minus the changed keys, plus the
    *    changed rows; the commit clears the folded vectors, so a deleted
    *    row stays deleted;
    *  - every other changed source only gained rows, and APPENDS its
    *    inserts as a new dir: its stored files are carried by reference,
    *    with no second scan of the table and no join (the reference's
    *    batch insert, `src/load.py:79-84`).
    * On both paths a stored row whose incoming twin is unchanged is kept
    * as stored, as in the reference, which never writes an unchanged row
    * (`src/load.py:68-77`). Both kinds are one staged write, rebalanced
    * by source and sorted within tasks (one file per written partition,
    * unless AQE splits a skewed partition across tasks), and one commit:
    * AtomicTable's single version-pointer rename, matching the
    * reference's one-transaction MERGE (`src/load.py:86-103`). A crash
    * mid-write leaves the table readable at the previous version, and
    * staged txn dirs never overwrite the files the plan is reading. */
  def mergeFact(spark: SparkSession, incoming: DataFrame, factPath: String): Map[String, Long] = {
    val stored = AtomicTable.manifest(Paths.get(factPath))
    val existing = stored.fold(AtomicTable.emptyFrame(spark, Schemas.fact))(
      MergeInto.readMerged(spark, factPath, Schemas.fact, _))
    val keys = Seq("series_id", "date")
    val deduped = Merge.lastWinsByKey(incoming, keys, col("value").desc_nulls_last)
    val classified = Merge.classify(deduped, existing, keys, "value").persist()
    try {
      val counts = classified.coalesce(1).groupBy("source", "action").count().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // sources with at least one insert/update; unchanged partitions are
      // neither read again nor written
      val changedSources = counts.collect { case (s, a, _) if a != "unchanged" => s }.toSet
      if (changedSources.nonEmpty) {
        // an append may not land next to outstanding delete vectors, so
        // such a partition is rewritten, as is any with an update
        val rewritten = counts.collect { case (s, "update", _) => s }.toSet ++
          changedSources.filter(s => stored.exists(_.deletes.get(s).exists(_.nonEmpty)))
        val changes = classified.filter(col("action") =!= "unchanged").drop("action")
        val rows =
          if (rewritten.isEmpty) changes
          else Merge.upsert(existing.filter(col("source").isInCollection(rewritten)),
            changes, keys)
        AtomicTable.replacePartitions(spark, factPath,
          rows.hint("rebalance", col("source"))
            .sortWithinPartitions("source", "series_id", "date"), "source",
          appends = changedSources -- rewritten)
      }
      def total(action: String) = counts.collect { case (_, `action`, n) => n }.sum
      Map("inserted" -> total("insert"), "updated" -> total("update"),
        "unchanged" -> total("unchanged"))
    } finally classified.unpersist()
  }

  /** Dim load: insert-if-absent, append-only (`src/load.py:108-134`).
    * The dim holds one row per configured series, so it is classified on
    * the driver: one job collects the stored `series_id`s, the incoming
    * rows are a local frame whose collect starts no job, and the absent
    * rows are appended as one file. A NULL id never matches, so such a
    * row is inserted on every run; a series configured twice is stored
    * twice, and each incoming row counts once. */
  def mergeDim(spark: SparkSession, incoming: DataFrame, dimPath: String): Map[String, Long] = {
    val present: Set[String] =
      if (Files.exists(Paths.get(dimPath)))
        spark.read.schema(Schemas.dim).parquet(dimPath).select("series_id")
          .collect().map(_.getString(0)).toSet
      else Set.empty
    val rows = incoming.collect()
    val absent = rows.filter { r =>
      val id = r.getAs[String]("series_id")
      id == null || !present(id)
    }
    if (absent.nonEmpty)
      spark.createDataFrame(absent.toSeq.asJava, incoming.schema).coalesce(1)
        .write.mode(SaveMode.Append).parquet(dimPath)
    Map("inserted" -> absent.length.toLong, "unchanged" -> (rows.length - absent.length).toLong)
  }

  /** Full run: extract → transform → load with the reference's failure
    * semantics (phase-tagged abort, per-series skip). */
  def run(spark: SparkSession, source: SeriesSource, layout: Layout,
      fredSeries: Seq[(String, String)], blsSeries: Seq[(String, String)],
      today: LocalDate, now: Instant,
      blsStartYear: Int = 2021): RunReport = {

    val store = State.Store(layout.stateDir)
    val rawDir = Paths.get(layout.rawDir)

    // Phase 1: extract (driver-side; BLS aborts the phase, FRED series skip)
    var skipped = List.empty[String]
    val fredJsons: Seq[(String, String, String)] =
      try {
        fredSeries.flatMap { case (name, id) =>
          try Some((id, name, extractFred(id, source, store, rawDir, today, now)))
          catch {
            case NonFatal(_) => skipped ::= id; None
          }
        }
      } catch {
        case NonFatal(e) => throw new RuntimeException("Pipeline failed during extract", e)
      }
    val blsJson =
      try extractBls(blsSeries.map(_._2), source, store, rawDir, today, now,
        blsStartYear, today.getYear)
      catch {
        case NonFatal(e) => throw new RuntimeException("Pipeline failed during extract", e)
      }

    // Phase 2: transform (lazy plan construction only)
    val (fact, dim) =
      try {
        val fredFrame = Normalize.fredBatch(spark, fredJsons)
        val blsFrame = Normalize.blsBatch(Normalize.readBlsJson(spark, blsJson), blsSeries)
        val fact = fredFrame.unionByName(blsFrame)
        val dim = Transforms.buildDimSeries(spark, fredSeries, blsSeries)
        (fact, dim)
      } catch {
        case NonFatal(e) => throw new RuntimeException("Pipeline failed during transform", e)
      }

    // Phase 3: load (the only actions in the run)
    try {
      val factStats = mergeFact(spark, fact, layout.factPath)
      val dimStats = mergeDim(spark, dim, layout.dimPath)
      RunReport(factStats, dimStats, skipped.reverse)
    } catch {
      case NonFatal(e) => throw new RuntimeException("Pipeline failed during load", e)
    }
  }
}
