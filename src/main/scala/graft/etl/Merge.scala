package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-based MERGE — the Spark re-expression of the reference's row-loop
  * upsert (`/root/reference/src/load.py:42-134`). The reference pulls the
  * whole target table into a Python dict and classifies row-by-row (its
  * acknowledged scaling cliff, `src/load.py:121-122`); here classification
  * is one left-outer join, shuffle-partitioned on the merge keys — at
  * 100 TB a sort-merge join co-partitioned by key, with no driver-side
  * state. The new state of a partition with updates is [[upsert]]'s
  * anti-join ∪ incoming; a partition that only gained rows needs neither:
  * [[Pipeline.mergeFact]] appends its inserts, as the reference
  * batch-inserts them (`src/load.py:79-84`).
  */
object Merge {

  /** ε for value-change detection (`/root/reference/src/load.py:35`).
    * "Unchanged" is ε-approximate, not bitwise — documented divergence-free
    * with the reference. */
  val Epsilon = 1e-9

  /** Null-safe ε-equality (L1, `src/load.py:27-35`): both-null → equal,
    * one-null → unequal (a null-valued abs() comparison is null → falls
    * through to the update branch), else |a−b| < ε. */
  def valueUnchanged(a: Column, b: Column): Column =
    (a.isNull && b.isNull) || (abs(a - b) < lit(Epsilon))

  /** Classify each incoming row against existing state on `keys`:
    * absent → insert, ε-equal value → unchanged, else update
    * (L3, `src/load.py:68-77`). Only `valueCol` drives the decision; an
    * update still rewrites every other column (reference `src/load.py:92`)
    * — encoded in [[upsert]] where the incoming row wins wholesale. */
  def classify(incoming: DataFrame, existing: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val ex = existing.select(
      keys.map(col) ++ Seq(col(valueCol).as("_existing_value"), lit(1).as("_present")): _*)
    incoming.join(ex, keys, "left_outer")
      .withColumn("action",
        when(col("_present").isNull, lit("insert"))
          .when(valueUnchanged(col(valueCol), col("_existing_value")), lit("unchanged"))
          .otherwise(lit("update")))
      .drop("_existing_value", "_present")
  }

  /** Per-action counts — the run report of `src/load.py:53,105`. */
  def stats(classified: DataFrame): DataFrame =
    classified.groupBy("action").agg(count(lit(1)).as("n"))

  /** New target state: rows of `existing` not matched by `incoming`, plus
    * all of `incoming` (update-wins, insert included). Equivalent to
    * MERGE INTO ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *.
    * Written with mode("overwrite") by the caller; on Delta/Iceberg this
    * would be a native MERGE INTO. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(incoming, keys, "left_anti")
      .unionByName(incoming.select(existing.columns.map(col): _*))

  /** Dim insert-if-absent (L4, `src/load.py:108-134`): new rows only;
    * existing rows are never overwritten. The one anti-join in the
    * reference. */
  def insertIfAbsent(incoming: DataFrame, existing: DataFrame,
      keys: Seq[String]): DataFrame =
    incoming.join(existing, keys, "left_anti")

  /** Reference risk #6 (SURVEY.md §7.4): duplicate keys inside one incoming
    * batch would violate the reference's PK; we resolve last-wins by an
    * explicit order before merging. */
  def lastWinsByKey(df: DataFrame, keys: Seq[String], order: Column*): DataFrame =
    df.withColumn("_rn",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("_rn") === 1).drop("_rn")
}
