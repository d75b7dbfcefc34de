package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.ops.EventWindows

/** Streaming results must agree with their batch twins: a parquet batch
  * driven through readStream + processAllAvailable is the synchronous
  * harness for the streaming operators. */
class StreamsSpec extends SparkSuite {
  import spark.implicits._

  /** events normalized to µs timestamps in a temp dir (streaming file
    * sources need a directory; raw testdata is nanos). */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    Tables.events(spark, sf0001).coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling window equals the batch operator") {
    val q = Streams.tumblingCounts(Streams.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = EventWindows.tumbling(spark.read.parquet(eventsDir)).collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("tumbling + session + dedup agree with batch under RocksDB state") {
    // the 100 TB state-store posture: same pipelines, provider flipped by
    // config only — bounded executor memory instead of all-state-on-heap
    Streams.withRocksDbState(spark) {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
      val streamed = Streams.tumblingAvailableNow(spark, eventsDir,
        queryName = "tumbling_rocks_out").collect().toSeq
      val batch = EventWindows.tumbling(spark.read.parquet(eventsDir))
        .collect().toSeq
      assert(streamed === batch)
      val sessions = Streams.sessionsAvailableNow(spark, eventsDir,
        queryName = "session_rocks_out").collect().toSeq
      val sessionsBatch = EventWindows.sessions(spark.read.parquet(eventsDir))
        .collect().toSeq
      assert(sessions === sessionsBatch)
      val deduped = Streams.dedupAvailableNow(spark, eventsDir,
        queryName = "dedup_rocks_out").count()
      val dedupBatch = spark.read.parquet(eventsDir)
        .select("user_id", "event_type").distinct().count()
      assert(deduped === dedupBatch)
    }
    // scoping restored the default provider
    assert(!spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass").exists(_.contains("RocksDB")))
  }

  test("stream-stream join equals the batch join without the terminal no-data batch") {
    // clickToPurchaseAvailableNow scopes noDataMicroBatches=false (inner
    // joins emit eagerly; the terminal cleanup batch only evicts state the
    // stop() discards) — the result must still BE the batch join, and the
    // scoped conf must restore.
    val streamed = Streams.clickToPurchaseAvailableNow(spark, eventsDir,
      queryName = "join_nd_out").collect().toSeq
    val ev = spark.read.parquet(eventsDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_at"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_at"))
      .orderBy("user_id", "click_id", "purchase_id").collect().toSeq
    assert(streamed === batch)
    assert(spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
      === "true")
  }

  test("streaming session window equals the batch operator") {
    val q = Streams.sessionCounts(Streams.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("session_out")
        .orderBy("user_id", "session_start").collect().toSeq
      val batch = EventWindows.sessions(spark.read.parquet(eventsDir)).collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming as-of join equals the batch most-recent-click lookup") {
    val streamed = Streams.asofAvailableNow(spark, eventsDir).collect().toSeq
    // batch oracle: per purchase, the max-(ts, id) click at or before it
    val ev = spark.read.parquet(eventsDir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
    val purchases = ev.filter($"event_type" === "purchase")
    val batch = purchases.join(clicks,
        $"user_id" === $"c_user" &&
          ($"c_ts" < $"ts" || ($"c_ts" === $"ts" && $"c_id" < $"event_id")),
        "left_outer")
      .groupBy($"user_id", $"event_id".as("purchase_id"), $"ts")
      .agg(max_by($"c_id", struct($"c_ts", $"c_id")).as("click_id"))
      .select($"user_id", $"purchase_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("purchase_at"),
        $"click_id")
      .orderBy("purchase_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("as-of stream carries state across MULTIPLE micro-batches correctly") {
    // time-ordered staging: three range files whose path+mtime order equals
    // event-time order, so maxFilesPerTrigger=1 yields in-order batches and
    // the single-pair carried state must reproduce the batch answer exactly
    val dir = Files.createTempDirectory("graft-stream-mb").toString
    Tables.events(spark, sf0001)
      .repartitionByRange(3, $"ts").sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length === 3)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(1000000L + i * 60000L) }

    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batches.incrementAndGet()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val multiBatch =
      try Streams.asofAvailableNow(spark, dir, "ev_asof_mb_out",
        maxFilesPerTrigger = Some(1)).collect().toSeq
      finally {
        spark.streams.active.foreach(_.stop())
        // listener events are async: poll-drain before reading the counter
        val deadline = System.currentTimeMillis + 15000
        while (batches.get() < 2 && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        spark.streams.removeListener(listener)
      }
    assert(batches.get() >= 2, "staging must actually split into micro-batches")
    val singleBatch = Streams.asofAvailableNow(spark, eventsDir,
      "ev_asof_sb_out").collect().toSeq
    assert(multiBatch === singleBatch)
    assert(multiBatch.nonEmpty)
  }

  test("as-of stream never matches a FUTURE click carried from a prior batch") {
    // adversarial file order: batch 1 delivers a LATE click (t=300), batch 2
    // an EARLIER purchase (t=200) — the carried click is in the purchase's
    // future and must not match (the pre-guard implementation matched it)
    val dir = Files.createTempDirectory("graft-stream-guard").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    writeEventsFile(dir, "a",
      Seq((10L, 1L, ts(100), "click"), (30L, 1L, ts(300), "click")), 1000000L)
    writeEventsFile(dir, "b", Seq((20L, 1L, ts(200), "purchase")), 1060000L)

    val out = Streams.asofAvailableNow(spark, dir, "ev_asof_guard_out",
      maxFilesPerTrigger = Some(1)).collect().toSeq
    assert(out.size === 1)
    val row = out.head
    // the t=100 click was superseded in state by the t=300 click within
    // batch 1 (single-pair state), and the t=300 click is future-guarded:
    // the purchase must emit with NO click, not with click 30
    assert(row.getAs[Long]("purchase_id") === 20L)
    assert(row.getAs[Any]("click_id") === null,
      s"future click must not match a past purchase: $row")
  }

  test("watermark-buffered as-of equals the single-batch answer across batches") {
    // in-order range staging + terminal heartbeat (punctuation) so the
    // watermark passes every purchase and the pending tail flushes
    val dir = Files.createTempDirectory("graft-stream-wm").toString
    Tables.events(spark, sf0001)
      .repartitionByRange(3, $"ts").sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(1000000L + i * 60000L) }
    val maxTs = Tables.events(spark, sf0001).agg(max($"ts")).collect()
      .head.getTimestamp(0)
    writeHeartbeat(dir, new java.sql.Timestamp(maxTs.getTime + 3600 * 1000L), 1240000L)

    val buffered = Streams.asofWatermarked(spark, dir, "ev_asof_wm1_out",
      delay = "0 seconds", maxFilesPerTrigger = Some(1)).collect().toSeq
    val single = Streams.asofAvailableNow(spark, eventsDir,
      "ev_asof_wm_ref_out").collect().toSeq
    assert(buffered === single)
    assert(buffered.nonEmpty)
  }

  test("watermark-buffered as-of survives cross-batch disorder the pair-state misses") {
    // batch 1: clicks t=100 and t=300; batch 2: purchase t=200 (out of
    // event-time order). The single-pair variant provably emits NO match
    // (guard test above); the buffered variant must emit the CORRECT
    // as-of answer: click id 10 at t=100.
    val dir = Files.createTempDirectory("graft-stream-wm2").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    writeEventsFile(dir, "a",
      Seq((10L, 1L, ts(100), "click"), (30L, 1L, ts(300), "click")), 1000000L)
    writeEventsFile(dir, "b", Seq((20L, 1L, ts(200), "purchase")), 1060000L)
    writeHeartbeat(dir, ts(100000), 1120000L)

    val out = Streams.asofWatermarked(spark, dir, "ev_asof_wm2_out",
      delay = "10 minutes", maxFilesPerTrigger = Some(1)).collect().toSeq
    assert(out.size === 1)
    assert(out.head.getAs[Long]("purchase_id") === 20L)
    assert(out.head.getAs[Long]("click_id") === 10L,
      s"buffered as-of must recover the older click across batches: ${out.head}")
  }

  /** One single-file events parquet under `dir/<name>.parquet` with a
    * pinned modification time (file order drives batch order). */
  private def writeEventsFile(dir: String, name: String,
      rows: Seq[(Long, Long, java.sql.Timestamp, String)], mtime: Long): Unit = {
    val sub = new java.io.File(dir, name)
    rows.toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .select("event_id", "user_id", "ts", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(sub.toString)
    val part = sub.listFiles().filter(_.getName.startsWith("part-")).head
    val target = new java.io.File(dir, name + ".parquet")
    java.nio.file.Files.move(part.toPath, target.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(sub)
    target.setLastModified(mtime)
  }

  /** Terminal punctuation: one far-future click for a nonexistent user,
    * staged as the LAST file so the final watermark passes all real data. */
  private def writeHeartbeat(dir: String, at: java.sql.Timestamp, mtime: Long): Unit =
    writeEventsFile(dir, "zz-heartbeat", Seq((999999L, 999999L, at, "click")), mtime)

  test("stateful running totals match the batch aggregate after one batch") {
    val stream = Streams.eventMicros(Streams.readEvents(spark, eventsDir))
    val q = Streams.runningTotalsExact(stream)
      .writeStream.format("memory").queryName("running_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("running_out")
        .groupBy("user_id").agg(max("n_events").as("n_events"))
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val batch = spark.read.parquet(eventsDir)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(streamed === batch)
    } finally q.stop()
  }
}
