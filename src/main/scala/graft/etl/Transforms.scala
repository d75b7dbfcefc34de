package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transform-layer operators that are not per-source normalizers:
  * dimension building (T11, `/root/reference/src/transform.py:73-94`),
  * fact combining (T12, `src/transform.py:97-115`), and the canonical
  * total sort key (SURVEY.md §7.4 risk #3).
  */
object Transforms {

  /** T11: derive dim_series from the config registry — FRED rows then BLS
    * (`src/transform.py:87-93`); explicit columns even for empty input. */
  def buildDimSeries(spark: SparkSession,
      fred: Seq[(String, String)], bls: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val rows = fred.map { case (name, id) => (id, name, "FRED") } ++
      bls.map { case (name, id) => (id, name, "BLS") }
    rows.toDF("series_id", "series_name", "source")
  }

  /** T12: n-ary union of per-source fact frames + re-sort oldest-first.
    * In Spark the unions fuse into one plan node, and no input adds an
    * exchange of its own ([[graft.ingest.Normalize]] sorts per document
    * locally, and its FRED batch does not sort), so this sort's range
    * exchange is the only exchange. [[Pipeline.run]] does not call this:
    * its MERGE reshuffles the rows by key, and the writer orders each
    * partition it rewrites, so the load path never pays for the sort.
    * Empty frames union fine (`tests/test_transform.py:213-218`). */
  def combineFactTables(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "combineFactTables needs at least one frame")
    canonicalSort(frames.reduce(_ unionByName _))
  }

  /** Total, deterministic fact ordering: the reference sorts by date only
    * (`src/transform.py:69`), leaving tie order unspecified; we pin
    * (date, series_id) so results are reproducible and oracle-comparable. */
  def canonicalSort(fact: DataFrame): DataFrame =
    fact.orderBy(col("date"), col("series_id"))
}
