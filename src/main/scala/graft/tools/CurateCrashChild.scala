package graft.tools

import graft.streaming.Streams

/** Second-JVM driver for the curated-ingest crash test: runs the
  * streaming curated ingest (AvailableNow) and HALTS the JVM — no
  * shutdown hooks, no finally blocks, the in-process equivalent of
  * `kill -9` at a deterministic instant — inside the exactly-once
  * protocol's most dangerous window: the batch's signatures are already
  * appended to the dedup index, the corpus commit has NOT happened. The
  * spec (CurateCrashRestartSpec) then restarts the ingest from another
  * process and proves the corpus invariant (no duplicate admitted, no
  * survivor lost) held across the torn commit.
  * Usage: CurateCrashChild <staging> <corpus> <index> <checkpoint> <crashAtBatch>
  */
object CurateCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(staging, corpus, index, ckpt, crashAtStr) = args.take(5)
    val crashAt = crashAtStr.toLong
    val spark = graft.Session.builder(4).getOrCreate()
    Streams.curatedIngestAvailableNow(spark, staging, corpus, index, ckpt,
      afterIndexAppend = id =>
        if (id == crashAt) {
          // stderr marker lets the spec assert the crash fired in the
          // intended window rather than the run ending some other way
          System.err.println(s"HALTING-IN-WINDOW batch=$id")
          Runtime.getRuntime.halt(137)
        })
    println("DONE")
    spark.stop()
  }
}
