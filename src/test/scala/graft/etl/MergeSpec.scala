package graft.etl

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Behavioral spec of the join-based MERGE, transcribed from the
  * reference's load tests (`/root/reference/tests/test_load.py` via
  * FIXTURES.md A3): first run inserts all, identical rerun is all
  * unchanged (idempotency), a value change updates exactly that key,
  * nulls round-trip, ε=1e-9 null-safe compare. */
class MergeSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def fact(rows: Seq[(String, String, String, Option[Double], String)]): DataFrame =
    rows.map { case (id, nm, d, v, src) => (id, nm, Date.valueOf(d), v, src) }
      .toDF("series_id", "series_name", "date", "value", "source")

  private val sample = Seq(
    ("UNRATE", "UNRATE", "2024-01-01", Some(4.0), "FRED"),
    ("UNRATE", "UNRATE", "2024-02-01", None, "FRED"),
    ("FEDFUNDS", "MONEY_COST", "2024-01-01", Some(5.33), "FRED"))

  private val keys = Seq("series_id", "date")

  private def statsMap(classified: DataFrame): Map[String, Long] =
    Merge.stats(classified).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("first run inserts all rows") {
    val incoming = fact(sample)
    val empty = incoming.limit(0)
    assert(statsMap(Merge.classify(incoming, empty, keys, "value")) ===
      Map("insert" -> 3L))
  }

  test("classifying against a table with no commits plans no join and no exchange") {
    val table = java.nio.file.Files.createTempDirectory("graft-never-committed")
    val classified = Merge.classify(fact(sample),
      AtomicTable.read(spark, table.toString, graft.model.Schemas.fact), keys, "value")
    assert(statsMap(classified) === Map("insert" -> 3L))
    val plan = classified.queryExecution.executedPlan
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty &&
      collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty,
      s"an empty table must fold away:\n$plan")
  }

  test("identical rerun is all unchanged (idempotency)") {
    val incoming = fact(sample)
    assert(statsMap(Merge.classify(incoming, incoming, keys, "value")) ===
      Map("unchanged" -> 3L))
  }

  test("value change updates exactly that key; update-wins state") {
    val existing = fact(sample)
    val incoming = fact(sample.map {
      case ("FEDFUNDS", n, d, _, s) => ("FEDFUNDS", n, d, Some(5.50), s)
      case row => row
    })
    assert(statsMap(Merge.classify(incoming, existing, keys, "value")) ===
      Map("unchanged" -> 2L, "update" -> 1L))
    val state = Merge.upsert(existing, incoming, keys)
    assert(state.count() === 3)
    val fed = state.filter($"series_id" === "FEDFUNDS").select("value")
      .collect().head.getDouble(0)
    assert(fed === 5.50)
  }

  test("null value round-trips as null and both-null compares unchanged") {
    val existing = fact(sample)
    val state = Merge.upsert(existing, existing, keys)
    val nullRow = state.filter($"series_id" === "UNRATE" && $"date" === lit("2024-02-01").cast("date"))
    assert(nullRow.filter($"value".isNull).count() === 1)
    assert(statsMap(Merge.classify(existing, existing, keys, "value")) ===
      Map("unchanged" -> 3L))
  }

  test("one-sided null is an update; epsilon compare within 1e-9") {
    val existing = fact(sample)
    val incoming = fact(sample.map {
      case ("UNRATE", n, "2024-02-01", _, s) => ("UNRATE", n, "2024-02-01", Some(1.0), s)
      case ("UNRATE", n, d, Some(v), s) => ("UNRATE", n, d, Some(v + 1e-12), s)
      case row => row
    })
    assert(statsMap(Merge.classify(incoming, existing, keys, "value")) ===
      Map("unchanged" -> 2L, "update" -> 1L))
  }

  test("merge is idempotent: merge(merge(S,X),X) == merge(S,X)") {
    val s0 = fact(sample)
    val x = fact(sample.map {
      case ("FEDFUNDS", n, d, _, src) => ("FEDFUNDS", n, d, Some(9.99), src)
      case row => row
    })
    val once = Merge.upsert(s0, x, keys)
    val twice = Merge.upsert(once, x, keys)
    assert(twice.exceptAll(once).count() === 0)
    assert(once.exceptAll(twice).count() === 0)
  }

  test("insert-if-absent never overwrites existing dim rows") {
    val existing = Seq(("UNRATE", "UNRATE", "FRED")).toDF("series_id", "series_name", "source")
    val incoming = Seq(
      ("UNRATE", "RENAMED", "FRED"),
      ("CUUR0000SA0", "CPI_URBAN", "BLS")).toDF("series_id", "series_name", "source")
    val inserted = Merge.insertIfAbsent(incoming, existing, Seq("series_id"))
    assert(inserted.collect().map(_.getString(0)).toSeq === Seq("CUUR0000SA0"))
  }

  test("duplicate keys in a batch resolve last-wins") {
    val dup = fact(Seq(
      ("UNRATE", "UNRATE", "2024-01-01", Some(1.0), "FRED"),
      ("UNRATE", "UNRATE", "2024-01-01", Some(2.0), "FRED")))
    val resolved = Merge.lastWinsByKey(dup, keys, col("value").desc)
    assert(resolved.count() === 1)
    assert(resolved.select("value").collect().head.getDouble(0) === 2.0)
  }
}
