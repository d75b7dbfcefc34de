package graft.tools

import java.io.PrintStream
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.SparkEntry

/** Plans and times registered queries in the session every main shares
  * ([[graft.Session]]), one mode per run:
  *  - `time`: after an untimed warm-up, [[Passes]] passes that split each
  *    query into construct (building the DataFrame, eager jobs included),
  *    plan (forcing `executedPlan`) and exec (a noop write);
  *  - `plan`: the formatted physical plan, before execution;
  *  - `final`: the final adaptive plan, printed after collecting the
  *    query — the pre-execution plan shows `isFinalPlan=false` and hides
  *    runtime join swaps and exchange reuse;
  *  - `stream`: each micro-batch's duration breakdown and state-store
  *    metrics, for the streaming (`ev_*`) family.
  *
  * Usage: runMain graft.tools.Probe <time|plan|final|stream> [query...]
  * over SPARK_GRAFT_SF_DIR (default sf0.1); no names means every query. */
object Probe {
  val Passes = 3

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe <time|plan|final|stream> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.head, args.tail.toSeq, sfDir, System.out)
    finally spark.stop()
  }

  def run(spark: SparkSession, mode: String, names: Seq[String],
      sfDir: String, out: PrintStream): Unit = {
    val all = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    def query(n: String): DataFrame = SparkEntry.queries(n)(spark, sfDir)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    mode match {
      case "time" =>
        try noop(SparkEntry.entry(spark)) catch { case _: Throwable => () }
        for (pass <- 1 to Passes; n <- all) {
          val t0 = System.nanoTime()
          val df = query(n)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          noop(df)
          val t3 = System.nanoTime()
          spark.catalog.clearCache()
          out.println(f"pass $pass $n%-24s construct=${(t1 - t0) / 1e9}%6.2f " +
            f"plan=${(t2 - t1) / 1e9}%6.2f exec=${(t3 - t2) / 1e9}%6.2f")
        }
      case "plan" => all.foreach { n =>
        out.println(s"===== $n =====")
        out.println(query(n).queryExecution.explainString(FormattedMode))
      }
      case "final" => all.foreach { n =>
        val df = query(n)
        // collect finalizes every adaptive stage of THIS QueryExecution;
        // a noop write would plan a separate one
        df.collect()
        out.println(s"===== $n =====")
        out.println(df.queryExecution.executedPlan)
        spark.catalog.clearCache()
      }
      case "stream" => stream(spark, all, n => noop(query(n)), out)
      case other => throw new IllegalArgumentException(
        s"unknown probe mode '$other': time, plan, final or stream")
    }
  }

  private def stream(spark: SparkSession, names: Seq[String],
      materialize: String => Unit, out: PrintStream): Unit = {
    val lines = new ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        lines.add(s"  started   ${e.name}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        // every duration the batch reports, in ms: triggerExecution,
        // addBatch, queryPlanning, walCommit, commitOffsets, ...
        lines.add(f"  batch ${p.batchId}%2d rows=${p.numInputRows}%7d " +
          p.durationMs.asScala.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
        p.stateOperators.foreach { so =>
          lines.add(s"    state[${so.operatorName}] rows=${so.numRowsTotal} " +
            s"mem=${so.memoryUsedBytes} upd=${so.allUpdatesTimeMs} " +
            s"rm=${so.allRemovalsTimeMs} commit=${so.commitTimeMs}")
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        lines.add("  terminated")
    }
    def count(prefix: String): Int = lines.asScala.count(_.startsWith(prefix))
    spark.streams.addListener(listener)
    try names.foreach { n =>
      lines.clear()
      val t0 = System.nanoTime()
      materialize(n)
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // start events are delivered synchronously, progress and
      // termination through the listener bus: wait (bounded) until
      // every started query's termination has arrived
      val deadline = System.nanoTime() + 10000000000L
      while (count("  terminated") < count("  started") && System.nanoTime() < deadline)
        Thread.sleep(20)
      out.println(f"===== $n  total=$sec%.2fs =====")
      lines.forEach(out.println(_))
    } finally spark.streams.removeListener(listener)
  }
}
