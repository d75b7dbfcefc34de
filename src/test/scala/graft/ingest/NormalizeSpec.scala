package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSuite
import graft.model.Schemas

/** Port of the reference's transform tests
  * (`/root/reference/tests/test_transform.py`) against the Spark
  * normalizers. */
class NormalizeSpec extends SparkSuite {

  private def fred = Normalize.fredObservations(
    Normalize.readFredJson(spark, Fixtures.fredPayload), "UNRATE", "UNRATE")

  private def bls = Normalize.blsBatch(
    Normalize.readBlsJson(spark, Fixtures.blsPayload), Fixtures.blsSeriesMap)

  test("FRED: exact column contract and row count") {
    assert(fred.columns.toSeq === Normalize.factColumns)
    assert(fred.count() === 3)
  }

  test("FRED: '.' missing marker becomes null; numbers parse as double") {
    val rows = fred.orderBy("date").collect()
    assert(rows(0).getDouble(3) === 5.0)
    assert(rows(1).isNullAt(3))
    assert(rows(2).getDouble(3) === 5.2)
  }

  test("FRED: response metadata fields do not survive normalization") {
    assert(!fred.columns.exists(_.startsWith("realtime")))
  }

  test("FRED: literal stamping of id/name/source") {
    val r = fred.collect().head
    assert(r.getString(0) === "UNRATE" && r.getString(1) === "UNRATE" &&
      r.getString(4) === "FRED")
  }

  test("BLS: two series x three observations explode to 6 rows") {
    assert(bls.columns.toSeq === Normalize.factColumns)
    assert(bls.count() === 6)
  }

  test("BLS: date synthesized first-of-month from year+period") {
    val dates = bls.orderBy("date", "series_id").collect().map(_.getDate(2).toString)
    assert(dates === Array("2024-01-01", "2024-01-01", "2024-02-01",
      "2024-02-01", "2024-03-01", "2024-03-01"))
  }

  test("BLS: most-recent-first input comes out oldest-first") {
    val first = bls.collect().head
    assert(first.getDate(2).toString === "2024-01-01")
  }

  test("BLS: reverse-map lookup with fallback to id for unknown series") {
    val names = bls.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(names("CUUR0000SA0") === "CPI_URBAN")
    assert(names("CES0500000003") === "AVG_WAGES")
    val unknown = Normalize.blsBatch(
      Normalize.readBlsJson(spark, Fixtures.blsPayload), Seq("CPI_URBAN" -> "CUUR0000SA0"))
    val fallback = unknown.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fallback("CES0500000003") === "CES0500000003")
  }

  test("BLS: '-' missing marker becomes null") {
    val df = Normalize.blsBatch(
      Normalize.readBlsJson(spark, Fixtures.blsMissingPayload), Fixtures.blsSeriesMap)
    assert(df.collect().head.isNullAt(3))
  }

  test("fredBatch: rows equal the union of the per-document frames; same column contract") {
    val docs = Seq(
      ("UNRATE", "Unemployment Rate", Fixtures.fredPayload), // carries a "." marker
      ("EMPTY", "Empty", """{"count": 0, "observations": []}"""),
      ("NOKEY", "No observations", """{"realtime_start": "2024-01-01", "count": 0}"""),
      ("GDP", "GDP", Fixtures.fredPayload.replace("\"5.0\"", "\"7.5\"")))
    val batch = Normalize.fredBatch(spark, docs)
    val perDoc = docs.map { case (id, name, json) =>
      Normalize.fredObservations(Normalize.readFredJson(spark, json), id, name)
    }.reduce(_ unionByName _)
    assert(batch.columns.toSeq === Normalize.factColumns)
    assert(batch.schema.map(f => f.name -> f.dataType) ===
      perDoc.schema.map(f => f.name -> f.dataType))
    def multiset(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
    val expected = multiset(perDoc)
    assert(expected.values.sum === 6, "precondition: two documents carry rows")
    assert(multiset(batch) === expected)
  }

  /** One raw document per entry, range-partitioned newest-first into 3
    * partitions, so the exploded rows arrive out of order across
    * partitions. */
  private def scattered(docs: Seq[String], schema: StructType, key: Column): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(docs.toDS).repartitionByRange(3, key.desc)
  }

  private def arrival(raw: DataFrame, dates: Column): Seq[String] = {
    assert(raw.select(spark_partition_id()).distinct().count() === 3)
    raw.select(explode(dates)).collect().map(_.getString(0)).toSeq
  }

  test("T10: a multi-partition raw frame still comes out in total oldest-first order") {
    val fredRaw = scattered(
      Seq("2024-03-01" -> "5.2", "2024-02-01" -> ".", "2024-01-01" -> "5.0").map {
        case (d, v) => s"""{"observations": [{"date": "$d", "value": "$v"}]}"""
      },
      Schemas.fredResponse, col("observations")(0)("date"))
    val fredArrival = arrival(fredRaw, col("observations.date"))
    assert(fredArrival !== fredArrival.sorted, "precondition: rows arrive out of order")
    val fredRows = Normalize.fredObservations(fredRaw, "UNRATE", "UNRATE").collect()
    assert(fredRows.map(_.getDate(2).toString).toSeq ===
      Seq("2024-01-01", "2024-02-01", "2024-03-01"))

    val blsRaw = scattered(
      Seq("M03", "M02", "M01").map { p =>
        s"""{"status": "REQUEST_SUCCEEDED", "Results": {"series": [
           |  {"seriesID": "CUUR0000SA0", "data": [{"year": "2024", "period": "$p", "value": "1"}]},
           |  {"seriesID": "CES0500000003", "data": [{"year": "2024", "period": "$p", "value": "2"}]}
           |]}}""".stripMargin
      },
      Schemas.blsResponse, col("Results.series")(0)("data")(0)("period"))
    val blsArrival = arrival(blsRaw, col("Results.series")(0)("data")("period"))
    assert(blsArrival !== blsArrival.sorted, "precondition: rows arrive out of order")
    val blsRows = Normalize.blsBatch(blsRaw, Fixtures.blsSeriesMap).collect()
      .map(r => r.getDate(2).toString -> r.getString(0)).toSeq
    assert(blsRows === Seq("2024-01-01", "2024-02-01", "2024-03-01")
      .flatMap(d => Seq(d -> "CES0500000003", d -> "CUUR0000SA0")))
  }
}
