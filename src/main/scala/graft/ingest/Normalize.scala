package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Source normalizers: raw API JSON → the canonical 5-column fact frame
  * `(series_id, series_name, date, value, source)`.
  *
  * Re-expresses `/root/reference/src/transform.py` as lazy DataFrame plans:
  * T1/T6 nested explodes, T2 date cast, T3 null-on-error numeric cast
  * (FRED "." and BLS "-" markers → null), T4 literal stamping, T5 column
  * order, T7 date-from-parts, T8 reverse-map lookup with fallback, T10
  * oldest-first ordering. All built-ins — the plans stay fully inside
  * whole-stage codegen and Catalyst prunes the unused raw fields at the
  * scan.
  *
  * FRED has two entry points over one T2–T5 column list: the per-document
  * API ([[readFredJson]] + [[fredObservations]], one frame per response)
  * and [[fredBatch]], which parses every response of a run in one plan, so
  * the plan does not grow with the number of series.
  *
  * T10 is a property of the per-document API: a raw response is one JSON
  * document, so its exploded rows already sit in one partition, and
  * `coalesce(1)` plus `sortWithinPartitions` gives the same total order as
  * a global sort without a range exchange or its sampling job.
  * `coalesce(1)` keeps the order total when a caller hands in a
  * multi-partition raw frame. [[fredBatch]] does not sort: the pipeline's
  * load path needs no row order, and the warehouse writer orders each
  * partition it writes. A caller that wants T12's canonical order applies
  * [[graft.etl.Transforms.combineFactTables]].
  */
object Normalize {

  val factColumns: Seq[String] =
    Seq("series_id", "series_name", "date", "value", "source")

  /** T2–T5 over one exploded FRED observation `o`, shared by both entry
    * points. */
  private def fredColumns(seriesId: Column, seriesName: Column): Seq[Column] = Seq(
    seriesId.as("series_id"),
    seriesName.as("series_name"),
    to_date(col("o.date"), "yyyy-MM-dd").as("date"),
    expr("try_cast(o.value AS double)").as("value"), // "." -> null
    lit("FRED").as("source"))

  /** Parse a raw FRED `series/observations` response.
    * (`src/transform.py:4-30`; fixture FIXTURES.md A1.) */
  def fredObservations(raw: DataFrame, seriesId: String, seriesName: String): DataFrame =
    raw.select(explode(col("observations")).as("o"))
      .select(fredColumns(lit(seriesId), lit(seriesName)): _*)
      .coalesce(1).sortWithinPartitions("date")

  /** Parse every FRED response of a run, given as `(seriesId, seriesName,
    * json)`, in one plan: a local frame of the documents, `from_json` and
    * a single explode. Rows equal the union of the per-document
    * [[fredObservations]] frames, in no particular order. */
  def fredBatch(spark: SparkSession, docs: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("series_id", "series_name", "json")
      .select(col("series_id"), col("series_name"),
        explode(from_json(col("json"), Schemas.fredResponse)("observations")).as("o"))
      .select(fredColumns(col("series_id"), col("series_name")): _*)
  }

  /** Parse a raw BLS v2 batch response for all requested series.
    * (`src/transform.py:33-70`; fixture FIXTURES.md A2.) BLS data arrives
    * most-recent-first and is re-sorted oldest-first; dates are synthesized
    * first-of-month from year + "Mxx" period; unknown seriesIDs fall back
    * to the id as the name (`src/transform.py:60`). */
  def blsBatch(raw: DataFrame, seriesMap: Seq[(String, String)]): DataFrame = {
    val idToName = typedlit(seriesMap.map(_.swap).toMap)
    raw
      .select(explode(col("Results.series")).as("s"))
      .select(col("s.seriesID").as("series_id"), explode(col("s.data")).as("d"))
      .select(
        col("series_id"),
        coalesce(element_at(idToName, col("series_id")), col("series_id"))
          .as("series_name"),
        make_date(
          expr("try_cast(d.year AS int)"),
          expr("try_cast(substring(d.period, 2, 2) AS int)"),
          lit(1)).as("date"),
        expr("try_cast(d.value AS double)").as("value"), // "-" -> null
        lit("BLS").as("source"))
      .coalesce(1).sortWithinPartitions("date", "series_id")
  }

  /** Read one raw JSON document string into a typed single-row frame. */
  def readFredJson(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.fredResponse).json(Seq(json).toDS)
  }

  def readBlsJson(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.blsResponse).json(Seq(json).toDS)
  }
}
