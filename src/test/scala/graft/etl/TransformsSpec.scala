package graft.etl

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkSuite
import graft.ingest.{Fixtures, Normalize}
import graft.model.SeriesRegistry

class TransformsSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("buildDimSeries yields 14 rows, FRED before BLS, fixed columns") {
    val dim = Transforms.buildDimSeries(spark,
      SeriesRegistry.fredSeries, SeriesRegistry.blsSeries)
    assert(dim.columns.toSeq === Seq("series_id", "series_name", "source"))
    val rows = dim.collect()
    assert(rows.length === 14)
    assert(rows.take(9).forall(_.getString(2) == "FRED"))
    assert(rows.drop(9).forall(_.getString(2) == "BLS"))
    assert(rows.map(_.getString(0)).distinct.length === 14)
  }

  test("buildDimSeries with empty input keeps explicit columns") {
    val dim = Transforms.buildDimSeries(spark, Seq(), Seq())
    assert(dim.columns.toSeq === Seq("series_id", "series_name", "source"))
    assert(dim.count() === 0)
  }

  test("combineFactTables unions (incl. empty frame) and sorts oldest-first") {
    def f(rows: Seq[(String, String, String, Option[Double], String)]) =
      rows.map { case (id, nm, d, v, src) => (id, nm, Date.valueOf(d), v, src) }
        .toDF("series_id", "series_name", "date", "value", "source")
    val a = f(Seq(("A", "A", "2024-03-01", Some(1.0), "FRED")))
    val b = f(Seq(("B", "B", "2024-01-01", Some(2.0), "BLS"),
      ("A", "A", "2024-01-01", Some(3.0), "FRED")))
    val empty = a.limit(0)
    val out = Transforms.combineFactTables(Seq(a, b, empty)).collect()
    assert(out.length === 3)
    assert(out.map(r => (r.getDate(2).toString, r.getString(0))).toSeq ===
      Seq(("2024-01-01", "A"), ("2024-01-01", "B"), ("2024-03-01", "A")))
  }

  test("combineFactTables over normalized sources: the canonical sort is the only exchange") {
    val fact = Transforms.combineFactTables(Seq(
      Normalize.fredObservations(
        Normalize.readFredJson(spark, Fixtures.fredPayload), "UNRATE", "UNRATE"),
      Normalize.blsBatch(Normalize.readBlsJson(spark, Fixtures.blsPayload),
        Fixtures.blsSeriesMap)))
    val plan = fact.queryExecution.executedPlan
    val exchanges = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size <= 1 &&
      exchanges.forall(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      s"per-source sorts must stay local:\n$plan")
    val dates = Seq("2024-01-01", "2024-02-01", "2024-03-01")
    assert(fact.collect().map(r => (r.getDate(2).toString, r.getString(0))).toSeq ===
      dates.flatMap(d => Seq(d -> "CES0500000003", d -> "CUUR0000SA0", d -> "UNRATE")))
  }

  test("the fact plan Pipeline.run builds does not grow with the number of FRED series") {
    def fact(series: Int): DataFrame = Normalize.fredBatch(spark,
        (1 to series).map(i => (s"S$i", s"Series $i", Fixtures.fredPayload)))
      .unionByName(Normalize.blsBatch(Normalize.readBlsJson(spark, Fixtures.blsPayload),
        Fixtures.blsSeriesMap))
    def shape(series: Int): (Int, Int) = {
      val df = fact(series)
      assert(df.collect().length === 3 * series + 6)
      (df.queryExecution.optimizedPlan.collect { case p => p }.size,
        collect(df.queryExecution.executedPlan) { case s: WholeStageCodegenExec => s }.size)
    }
    val (small, large) = (shape(2), shape(20))
    assert(small._2 > 0, "precondition: the executed plan has codegen stages")
    assert(large === small,
      "(optimized plan nodes, whole-stage codegen stages) for 20 series vs 2")
  }
}
