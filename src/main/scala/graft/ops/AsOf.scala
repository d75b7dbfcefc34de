package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

import graft.plans.{AsOfJoinNode, AsOfJoinStrategy}

/** As-of join: for each left row, the most recent right row at or before
  * the left row's time, per key — the canonical time-series lookup (e.g.
  * "the latest indicator value known at order time").
  *
  * Implementation is the union-merge trick, not a cross/range join: tag
  * both sides, union, and carry the right side's payload forward with
  * last_value(ignoreNulls) over (key ORDER BY time, side). One shuffle on
  * the key, O(n log n) in the partition sort, no quadratic candidate set —
  * the shape that survives 100 TB.
  *
  * Two implementations with identical semantics:
  *  - [[joinPrior]]: union-merge over the built-in window operator —
  *    optimal exchange+sort skeleton, but `WindowExec` buffers each key's
  *    rows (spills on hot keys).
  *  - [[joinPriorExec]]: custom Catalyst operator
  *    ([[graft.plans.AsOfJoinExec]]) — same exchanges/sorts injected by
  *    `EnsureRequirements`, then a streaming two-iterator merge with O(1)
  *    carried state per key. The hot-key-safe form.
  */
object AsOf {

  /** Join `left` to the latest prior `right` row per `key`.
    *
    * @param leftTime  event-time column on the left
    * @param rightTime event-time column on the right
    * @param payload   right-side columns to carry (renamed as given)
    * @param strict    if true, only strictly-earlier right rows match
    */
  def joinPrior(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      payload: Seq[(String, String)], strict: Boolean = false): DataFrame = {
    // ties at equal time: non-strict → right sorts before left (visible);
    // strict → right sorts after left (not visible)
    val rightSide = if (strict) 2 else -1
    val l = left.withColumn("_t", col(leftTime)).withColumn("_side", lit(1))
    val r = right.withColumn("_t", col(rightTime)).withColumn("_side", lit(rightSide))
    val payloadIn = payload.map { case (from, to) => r(from).as(s"_p_$to") }
    val rr = r.select(Seq(col(key), col("_t"), col("_side")) ++ payloadIn: _*)
    val ll = l.select(Seq(col(key), col("_t"), col("_side")) ++
      left.columns.filterNot(c => c == key).map(c => l(c).as(s"_l_$c")): _*)
    val unioned = rr.withColumns(
        left.columns.filterNot(_ == key).map(c => s"_l_$c" -> lit(null)).toMap)
      .unionByName(ll.withColumns(payload.map { case (_, to) => s"_p_$to" -> lit(null) }.toMap))
    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.map { case (_, to) =>
      last(col(s"_p_$to"), ignoreNulls = true).over(w).as(to)
    }
    unioned
      .select(Seq(col(key), col("_t"), col("_side")) ++
        left.columns.filterNot(_ == key).map(c => col(s"_l_$c")) ++ carried: _*)
      .filter(col("_side") === 1)
      .select(Seq(col(key)) ++
        left.columns.filterNot(_ == key).map(c => col(s"_l_$c").as(c)) ++
        payload.map { case (_, to) => col(to) }: _*)
  }

  /** [[joinPrior]] semantics through the custom physical operator: output
    * is all left columns followed by the renamed payload columns. */
  def joinPriorExec(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      payload: Seq[(String, String)], strict: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    // the strategy's only install: idempotent, on first use, so any
    // session plans the node (no SQL text produces it)
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = left.queryExecution.analyzed
    // self-join safety: re-alias every right column so the node's children
    // never share expression ids (the analyzer's DeduplicateRelations
    // re-aliases unknown nodes' children without rewriting their key/time/
    // payload expressions, silently pointing them at the left side)
    val rPlan = right.select(right.columns.map(c => right(c).as(c)): _*)
      .queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side column $n not found"))
    val (lk, rk) = (attr(lPlan, key, "left"), attr(rPlan, key, "right"))
    val (lt, rt) = (attr(lPlan, leftTime, "left"), attr(rPlan, rightTime, "right"))
    require(lk.dataType == rk.dataType, s"key types differ: ${lk.dataType} vs ${rk.dataType}")
    require(lt.dataType == rt.dataType, s"time types differ: ${lt.dataType} vs ${rt.dataType}")
    val payloadIn = payload.map { case (from, _) => attr(rPlan, from, "right") }
    val payloadOut = payload.map { case (from, to) =>
      val src = attr(rPlan, from, "right")
      AttributeReference(to, src.dataType, nullable = true)()
    }
    Shims.ofRows(spark,
      AsOfJoinNode(lPlan, rPlan, lk, rk, lt, rt, payloadIn, payloadOut, strict))
  }
}
