package graft

import java.nio.file.Paths
import java.time.{Instant, LocalDate, ZoneOffset}

import graft.etl.Pipeline
import graft.ingest.{FileSeriesSource, HttpSeriesSource, SeriesSource}
import graft.model.SeriesRegistry

/** The user entry point — the Spark analog of the reference's
  * `python -m src.main` (`/root/reference/src/main.py`).
  *
  * Usage:
  *   runMain graft.RunPipeline <baseDir> [payloadsDir]
  *
  * With `payloadsDir`, payloads are read from canned files (offline mode:
  * `fred_{id}.json` per series + `bls.json`); without it, the live REST
  * APIs are used (requires FRED_API_KEY, optional BLS_API_KEY). State,
  * raw snapshots, and the parquet warehouse land under `baseDir`.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/tmp/graft-pipeline")
    val source: SeriesSource = args.lift(1) match {
      case Some(payloads) => new FileSeriesSource(Paths.get(payloads))
      case None => new HttpSeriesSource(
        sys.env.getOrElse("FRED_API_KEY",
          sys.error("FRED_API_KEY required for live mode; pass payloadsDir for offline")),
        sys.env.get("BLS_API_KEY"))
    }
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val now = Instant.now()
      val report = Pipeline.run(spark, source,
        Pipeline.Layout(s"$baseDir/state", s"$baseDir/raw", s"$baseDir/warehouse"),
        SeriesRegistry.fredSeries, SeriesRegistry.blsSeries,
        LocalDate.ofInstant(now, ZoneOffset.UTC), now)
      // O3: structured run report (src/main.py:72-74)
      println(s"Pipeline complete. Observations: ${report.factStats}. " +
        s"Series dim: ${report.dimStats}. Skipped: ${report.skippedSeries.mkString(",")}")
    } finally spark.stop()
  }
}
