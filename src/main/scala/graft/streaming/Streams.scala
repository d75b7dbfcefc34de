package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.AtomicTable
import graft.functions.Stable._

/** Structured Streaming forms of the event-time operators: the reference's
  * closest analog is batch polling with a persisted offset
  * (`/root/reference/src/extract.py:86-87` — SURVEY.md calls it out as a
  * watermark/offset commit done in batch). Here the same semantics run as
  * true streams: readStream → windowed aggregation with watermarks →
  * writeStream, plus an arbitrary-stateful operator via
  * flatMapGroupsWithState.
  *
  * At scale these are shuffle-partitioned by group key with incremental
  * state in the state store — no reprocessing of history per trigger.
  */
object Streams {

  /** The events schema for schema-required streaming file sources
    * (ts already normalized to TimestampType). */
  def eventsSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))

  /** Streaming source over a parquet directory of events. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Tumbling 1-hour windows per event type with a 10-minute watermark —
    * the streaming twin of EventWindows.tumbling (same output schema). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("total"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total"))

  /** Session windows per user (30-minute gap) with watermarking — the
    * streaming twin of EventWindows.sessions. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("total"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"), col("total"))

  /** Scope one session conf around `f`, restoring the previous value
    * (set or unset) after. Streaming confs are read at query start, so
    * scoping around start+awaitTermination covers the whole run. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(
      f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Scope the streaming state store to Spark's bundled RocksDB provider
    * for the duration of `f` (the conf is read at query start, so scoping
    * works per-query). The default HDFS-backed store keeps every key's
    * state on the executor HEAP — at 100 TB-scale key cardinalities
    * (per-user sessions, dedup keys) that is an OOM, while RocksDB keeps
    * working state off-heap/on-disk with incremental checkpoints. The
    * harness queries run the default store (tiny state, no native-lib
    * variance in bench numbers); StreamsSpec proves the same pipelines
    * are correct under RocksDB, so flipping the provider is a config
    * change, not a code change. */
  def withRocksDbState[T](spark: SparkSession)(f: => T): T =
    withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  /** Stateful-stream shuffle sizing: the state store opens one partition
    * per shuffle partition PER QUERY, so a stream whose key space is
    * small (event types, user ids) pays pure per-partition overhead
    * beyond a handful of partitions. Stateful streams here run at this
    * many partitions — at cluster scale the same dial is sized to key
    * cardinality, not to the batch default. */
  private val StreamPartitions = "8"

  /** Run the tumbling-window stream over `dir` to completion with an
    * `AvailableNow` trigger (process everything currently in the source,
    * then stop — the batch-parity execution mode) and return the final
    * complete-mode result. The memory sink is only a harness edge: the
    * aggregation itself runs through the streaming state store exactly as
    * an always-on deployment would, so a driver row over this proves the
    * streaming path end-to-end against the batch oracle. */
  def tumblingAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "ev_tumbling_stream_out"): DataFrame = {
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = tumblingCounts(readEvents(spark, dir))
        .writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Complete)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(queryName).orderBy("window_start", "event_type")
  }

  /** Session-window twin of [[tumblingAvailableNow]]: the session
    * aggregation runs through the streaming state store's session-merge
    * path, proving the stateful session operator end-to-end. */
  def sessionsAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "ev_session_stream_out"): DataFrame = {
    // MEASURED, REJECTED (r15, OPTIMIZATION_r15.md): the local-partition
    // session merge flag (spark.sql.streaming.sessionWindow.merge.sessions
    // .in.local.partition=true) was plan-diffed — the default plan ALREADY
    // partial-aggregates (session_window, user_id) before the exchange, and
    // this corpus's sessions are ~95% singletons at sf0.1 (95,465 sessions
    // from 100k events), so the flag's extra per-partition Sort+Merge buys
    // a ~5% shuffle-row reduction. Not worth a sort per input partition at
    // any scale with this gap/arrival distribution; re-evaluate only for
    // corpora whose events cluster far below the session gap.
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = sessionCounts(readEvents(spark, dir))
        .writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Complete)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(queryName).orderBy("user_id", "session_start")
  }

  /** Streaming exact dedup: first-seen (user_id, event_type) pairs via
    * the state store's dropDuplicates operator — the streaming twin of
    * batch DISTINCT/`Dedup.exact`. Run to completion the result IS the
    * batch DISTINCT, which is the oracle. No watermark here so the
    * equivalence is exact at any arrival order; an always-on deployment
    * bounding its state would use `dropDuplicatesWithinWatermark` and
    * accept re-emits past the watermark horizon. */
  def dedupAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "ev_dedup_stream_out"): DataFrame = {
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = readEvents(spark, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(queryName).orderBy("user_id", "event_type")
  }

  /** Stream-stream inner join: each purchase matched to the same user's
    * clicks in the preceding hour. Both sides are watermarked and the
    * join condition bounds event time on both sides, so the state store
    * can evict rows once the watermark passes the interval — the only
    * join shape that runs unbounded at scale. Run to completion over a
    * static directory the match set equals the batch join, which is the
    * oracle. */
  def clickToPurchaseAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "ev_join_stream_out"): DataFrame = {
    val clicks = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    // INNER stream-stream joins emit matches eagerly inside the data
    // batch; the watermark governs state EVICTION only. On a finite
    // AvailableNow run the engine appends one terminal NO-DATA batch
    // whose sole work is evicting state that the imminent q.stop()
    // discards anyway — measured at HALF this query's wall time (the
    // eviction scan + a second commit of all 4 join stores × every
    // partition). An always-on deployment never reaches a terminal
    // batch (eviction amortizes into later data batches, exercised here
    // in-batch: removals are nonzero in batch 0), so the cleanup batch
    // is harness-only cost. Scoped OFF for this query alone:
    // asofWatermarked NEEDS its no-data batch (timeout flush) and keeps
    // the default. Output is provably identical (StreamsSpec pins
    // stream == batch join; the driver oracle re-proves it).
    withConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
        val q = joined
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_at"),
            date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_at"))
          .writeStream.format("memory").queryName(queryName)
          .outputMode(OutputMode.Append)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
    }
    spark.table(queryName).orderBy("user_id", "click_id", "purchase_id")
  }

  final case class AsOfEvent(user_id: Long, ts_us: Long, event_type: String,
      event_id: Long)
  final case class LastClick(ts_us: Long, event_id: Long)
  final case class AsOfMatch(user_id: Long, purchase_id: Long,
      purchase_ts_us: Long, click_id: Option[Long])

  /** Streaming AS-OF join: each purchase enriched with the same user's
    * most recent click at or before it — the streaming twin of the batch
    * as-of operator (`graft.ops.AsOf` / `AsOfJoinExec`), built on
    * flatMapGroupsWithState. Per group and micro-batch the events are
    * sorted by (event time, id) and replayed against O(1) state (the last
    * click seen), which carries across batches; ties at identical
    * timestamps resolve by event id, so the result is deterministic and
    * oracle-comparable.
    *
    * Scale: state is one (ts, id) pair per user — the minimal as-of
    * state — and the per-batch sort is bounded by one user's events per
    * batch. An always-on deployment adds EventTimeTimeout to expire idle
    * users; AvailableNow over a static directory needs no expiry and
    * equals the batch as-of, which is the oracle.
    *
    * Cross-batch ordering assumption: carried state is the single LATEST
    * click, which is sufficient exactly when micro-batches arrive in
    * event-time order per user (true for AvailableNow over one staged
    * directory). The match is guarded so a carried click that is FUTURE
    * relative to a purchase never matches (same (ts, id) tie-break as the
    * in-batch replay), but a purchase arriving after a NEWER click has
    * replaced the one it needed would still miss — an always-on deployment
    * with out-of-order batches needs watermark-bounded click retention
    * (a small sorted buffer per user) instead of one pair. */
  def asofAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "ev_asof_stream_out",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    // maxFilesPerTrigger splits the AvailableNow run into multiple
    // micro-batches (one per file group) — the cross-batch state-carry
    // path StreamsSpec exercises with time-ordered file staging
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(eventsSchema)) { (r, n) =>
      r.option("maxFilesPerTrigger", n)
    }
    val ev = reader.parquet(dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("event_id"))
      .as[AsOfEvent]
    val matched = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[AsOfEvent], state: GroupState[LastClick]) =>
          val evs = batch.toArray.sortBy(e => (e.ts_us, e.event_id))
          var last = state.getOption
          val out = Array.newBuilder[AsOfMatch]
          evs.foreach { e =>
            if (e.event_type == "click") last = Some(LastClick(e.ts_us, e.event_id))
            else {
              // carried state may be FUTURE relative to this purchase when
              // micro-batches split a user's timeline out of event-time
              // order (maxFilesPerTrigger, always-on): a click from a later
              // batch must not match an earlier purchase. Same (ts, id)
              // tie-break as the in-batch replay order.
              val eligible = last.filter(c =>
                c.ts_us < e.ts_us || (c.ts_us == e.ts_us && c.event_id < e.event_id))
              out += AsOfMatch(user, e.event_id, e.ts_us, eligible.map(_.event_id))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = matched.toDF()
        .writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(queryName)
      .select(col("user_id"), col("purchase_id"),
        date_format(timestamp_micros(col("purchase_ts_us")),
          "yyyy-MM-dd HH:mm:ss").as("purchase_at"),
        col("click_id"))
      .orderBy("purchase_id")
  }

  final case class AsOfRawEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, event_id: Long)
  final case class AsOfBufState(clicks: List[LastClick], pending: List[LastClick])

  /** ALWAYS-ON-correct streaming as-of join: watermark-buffered on BOTH
    * sides, so micro-batch boundaries and cross-batch event-time disorder
    * (up to the watermark delay) cannot change the answer — the upgrade
    * over [[asofAvailableNow]]'s single-pair state, whose in-order
    * assumption its scaladoc documents.
    *
    * Protocol, per user group and invocation:
    *  1. arriving clicks join a sorted buffer; arriving purchases join a
    *     pending list (they must NOT emit yet — an older click may still
    *     arrive in a later batch);
    *  2. purchases with ts <= current watermark emit, matched against the
    *     latest buffered click at-or-before them ((ts, id) tie-break) —
    *     by the watermark contract every on-time click at-or-before that
    *     instant has arrived, and later-arriving ones would be dropped as
    *     late anyway, so this is the best answer ANY implementation could
    *     give;
    *  3. the click buffer prunes to the single latest click at-or-below
    *     the watermark plus everything above it (exactly what future
    *     purchases can still need — O(disorder window) per user, not
    *     O(history));
    *  4. an event-time timeout at the earliest immature pending purchase
    *     guarantees a flush invocation once the watermark passes it (the
    *     no-data micro-batch), even if that user never appears again.
    *
    * On a finite run the watermark stops `delay` short of the last event
    * time, so a tail of purchases can stay pending — inherent to
    * watermark semantics, not a bug; the spec closes it with a terminal
    * heartbeat event (the standard punctuation trick). */
  def asofWatermarked(spark: SparkSession, dir: String,
      queryName: String = "ev_asof_wm_out",
      delay: String = "0 seconds",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val reader = maxFilesPerTrigger.foldLeft(
      spark.readStream.schema(eventsSchema)) { (r, n) =>
      r.option("maxFilesPerTrigger", n)
    }
    // the watermarked `ts` column must reach the stateful operator — the
    // analyzer rejects EventTimeTimeout if a projection replaces it
    val ev = reader.parquet(dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .as[AsOfRawEvent]
    def tsUs(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    val matched = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfBufState, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[AsOfRawEvent], state: GroupState[AsOfBufState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption.getOrElse(AsOfBufState(Nil, Nil))
          var clicks = st.clicks
          var pending = st.pending
          batch.foreach { e =>
            if (e.event_type == "click") clicks = LastClick(tsUs(e.ts), e.event_id) :: clicks
            else pending = LastClick(tsUs(e.ts), e.event_id) :: pending
          }
          val clicksSorted = clicks.sortBy(c => (c.ts_us, c.event_id))
          val (mature, immature) = pending.partition(_.ts_us <= wmUs)
          val out = mature.sortBy(p => (p.ts_us, p.event_id)).map { p =>
            val m = clicksSorted.takeWhile(c =>
              c.ts_us < p.ts_us || (c.ts_us == p.ts_us && c.event_id < p.event_id))
              .lastOption
            AsOfMatch(user, p.event_id, p.ts_us, m.map(_.event_id))
          }
          // prune: the latest click at-or-below the watermark still serves
          // future purchases; everything above it must be kept verbatim
          val (below, above) = clicksSorted.partition(_.ts_us <= wmUs)
          val kept = below.lastOption.toList ::: above
          if (kept.isEmpty && immature.isEmpty) state.remove()
          else {
            state.update(AsOfBufState(kept, immature))
            // guarantee a flush invocation when the earliest pending
            // purchase matures (timeout must sit strictly past the wm)
            immature.map(_.ts_us).minOption.foreach { ts =>
              state.setTimeoutTimestamp(ts / 1000L + 1L)
            }
          }
          out.iterator
      }
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = matched.toDF()
        .writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(queryName)
      .select(col("user_id"), col("purchase_id"),
        date_format(timestamp_micros(col("purchase_ts_us")),
          "yyyy-MM-dd HH:mm:ss").as("purchase_at"),
        col("click_id"))
      .orderBy("purchase_id")
  }

  /** Exactly-once foreachBatch sink into an [[AtomicTable]].
    *
    * Structured Streaming's foreachBatch contract is at-least-once: after a
    * crash between the sink write and the checkpoint commit, the same
    * `batchId` is re-delivered. Two defenses compose here, both riding the
    * table's single atomic version swap:
    *
    *  1. each batch lands in its own `batch_id=<N>` partition, so a replay
    *     REPLACES the exact partition it wrote before (self-idempotent);
    *  2. the sink records `last_batch_id` in the manifest properties — the
    *     SAME commit that publishes the data — and skips any batch at or
    *     below it, so replays don't even re-write bytes.
    *
    * This is the standard transactional-sink upgrade (epoch committed
    * atomically with data); at scale the same shape works on any store
    * with a conditional swap (HDFS rename, S3 conditional PUT). */
  def exactlyOnceBatchCommit(table: String)(df: DataFrame, batchId: Long): Unit = {
    val root = java.nio.file.Paths.get(table)
    val last = AtomicTable.manifest(root)
      .flatMap(_.properties.get("last_batch_id")).map(_.toLong).getOrElse(-1L)
    if (batchId > last) {
      AtomicTable.replacePartitions(df.sparkSession, table,
        df.withColumn("batch_id", lit(batchId)), "batch_id",
        properties = Map("last_batch_id" -> batchId.toString))
      ()
    }
  }

  /** Streaming right-to-be-forgotten sink: each micro-batch is a frame
    * of KEYS whose rows must go, applied as merge-on-read deletion
    * vectors ([[graft.etl.MergeInto.deleteKeysMor]]) — a privacy-delete
    * feed against a 100 TB corpus where per-batch partition rewrites
    * would be absurd: every batch costs one tiny key parquet + a
    * manifest swap, and the data files are untouched until the next
    * materialize/compact folds the vectors. Exactly-once by the same
    * epoch defense as [[exactlyOnceBatchCommit]] (`dv_last_batch_id`
    * rides the vector commit — its own property name, so it composes
    * with a data-appending sink on the same table); a replayed batch is
    * also SEMANTICALLY idempotent regardless (a duplicate vector
    * subtracts the same keys twice), the epoch just keeps replays from
    * appending garbage vectors. */
  def deleteMorCommit(table: String, schema: StructType, keyCols: Seq[String],
      partitionCol: String)(df: DataFrame, batchId: Long): Unit = {
    val root = java.nio.file.Paths.get(table)
    val last = AtomicTable.manifest(root)
      .flatMap(_.properties.get("dv_last_batch_id")).map(_.toLong).getOrElse(-1L)
    if (batchId > last) {
      graft.etl.MergeInto.deleteKeysMor(df.sparkSession, table, schema, df,
        keyCols, partitionCol,
        properties = Map("dv_last_batch_id" -> batchId.toString))
      ()
    }
  }

  /** Streaming CDC apply: each micro-batch is a change batch (upserts +
    * deletes, possibly several changes per key) applied to a keyed
    * AtomicTable through [[graft.etl.MergeInto.applyChanges]] — the
    * streaming MERGE sink. Exactly-once by the same epoch defense as
    * [[exactlyOnceBatchCommit]]: `last_batch_id` rides the SAME manifest
    * swap as the rewritten partitions, so a replayed batch is skipped
    * before it stages a byte; and because the whole batch (deletes
    * included) is one commit, a crash can never publish half a batch.
    * Restart-after-conflict is also sound: a concurrent writer (e.g. a
    * compaction) landing mid-apply aborts the batch with
    * ConcurrentModificationException, the stream retries the SAME
    * batchId, re-reads the new version, and applies cleanly. */
  def cdcApplyCommit(table: String, schema: StructType, keyCols: Seq[String],
      partitionCol: String, opCol: String, seqCols: Seq[String],
      deleteOp: String = "d")(df: DataFrame, batchId: Long): Unit = {
    val root = java.nio.file.Paths.get(table)
    val last = AtomicTable.manifest(root)
      .flatMap(_.properties.get("last_batch_id")).map(_.toLong).getOrElse(-1L)
    if (batchId > last) {
      graft.etl.MergeInto.applyChanges(df.sparkSession, table, schema, df,
        keyCols, partitionCol, opCol, seqCols, deleteOp,
        properties = Map("last_batch_id" -> batchId.toString))
      ()
    }
  }

  /** Streaming materialized-view maintenance: each micro-batch folds its
    * per-group moment state (graft.ops.IncrAgg) into the stored state
    * table — count/sum/mean/variance stay queryable at all times without
    * ever recomputing history. Exactly-once by the same two defenses as
    * [[exactlyOnceBatchCommit]]: the merge output REPLACES the single
    * state partition, and the epoch rides the same atomic manifest swap,
    * so a replayed batch is a no-op instead of double-counting (the
    * failure mode that silently corrupts incremental aggregates).
    *
    * Scale: the stored state is one row per group (not per event); the
    * per-batch cost is the batch's partial aggregation plus a state-sized
    * merge — the streaming twin of IncrAgg's batch contract, which
    * guarantees merged state ≡ full recompute bit-for-bit. */
  def incrementalAggCommit(table: String, keys: Seq[String],
      valueCol: String)(df: DataFrame, batchId: Long): Unit = {
    val root = java.nio.file.Paths.get(table)
    val last = AtomicTable.manifest(root)
      .flatMap(_.properties.get("last_batch_id")).map(_.toLong).getOrElse(-1L)
    if (batchId > last) {
      val spark = df.sparkSession
      // stored-state schema: key columns as in the stream, moments at the
      // POST-MERGE widened decimal types (sum over the state's decimals)
      import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField}
      val stateSchema = StructType(
        keys.map(k => df.schema(k)) ++ Seq(
          StructField("n", LongType),
          StructField("s", DecimalType(38, 4)),
          StructField("ss", DecimalType(38, 8)),
          StructField("part", StringType)))
      val batchState = graft.ops.IncrAgg.state(df, keys, valueCol)
      val stored = AtomicTable.read(spark, table, stateSchema).drop("part")
      val merged = stored.unionByName(batchState)
        .groupBy(keys.map(col): _*)
        .agg(sum("n").as("n"), sum("s").as("s"), sum("ss").as("ss"))
      AtomicTable.replacePartitions(spark, table,
        merged.withColumn("part", lit("state")), "part",
        properties = Map("last_batch_id" -> batchId.toString))
      ()
    }
  }

  /** Run the events stream into an AtomicTable warehouse with the
    * exactly-once sink, AvailableNow trigger, and a real checkpoint dir —
    * the deployment shape of a streaming ingest job. */
  def ingestToWarehouse(spark: SparkSession, dir: String, table: String,
      checkpoint: String): Unit = {
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = readEvents(spark, dir)
        .writeStream
        .foreachBatch((df: DataFrame, id: Long) =>
          exactlyOnceBatchCommit(table)(df, id))
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
  }

  /** Documents schema for the streaming curate-and-ingest source. */
  def documentsSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType)))

  /** One micro-batch of the streaming curated ingest: quality-gate the
    * batch, dedup it (exact + near-dup within the batch, near-dup against
    * everything EVER ingested via the persistent MinHash index), then
    * commit survivors to the corpus AtomicTable and their signatures to
    * the index. This is the ingest-time shape of a training-data
    * pipeline: per-batch cost ∝ batch (the corpus is consulted only
    * through its ~100-bytes/doc index, never rescanned), and the corpus
    * only ever contains documents that passed every gate.
    *
    * Exactly-once across BOTH tables without a cross-table transaction:
    *  1. the corpus commit carries `last_batch_id` in its manifest and is
    *     performed LAST — a batch at or below it is skipped entirely;
    *  2. the index append is partition-granular per batch tag
    *     ([[graft.ops.DedupIndex.append]] REPLACES the tag's partition),
    *     so a replay of a batch that died between index append and corpus
    *     commit rewrites the identical partition rather than duplicating;
    *  3. the index match excludes the batch's own INGEST TAG (not its
    *     doc_ids), so such a replay does not match the half-committed
    *     attempt's own signatures and drop every document as a
    *     "duplicate" of itself — while a document REDELIVERED in a later
    *     batch (new batchId, so the last_batch_id guard passes) still
    *     matches its previously committed signature under the old tag and
    *     is rejected, preserving the corpus-only-holds-deduped invariant.
    *
    * In-batch near-dup pairs are clustered through
    * [[graft.ops.Dedup.connectedComponents]] and each CLUSTER keeps its
    * min doc_id (same keeper rule as [[graft.ops.Dedup.canonicalize]]).
    * Clustering matters for chains a~b, b~c with no a~c pair: the keeper
    * set must be one per CLUSTER, not "never appears as id_b" (which
    * keeps both endpoints of a path joined through a dropped middle).
    *
    * The INDEX holds more than the corpus: every quality+exact survivor
    * that did not itself match the index — keepers AND their in-batch
    * near-dup variants. Indexing only keepers has a recall gap on exactly
    * the chain case: c (dropped as a near-dup of b) may be under
    * threshold against keeper a, so a later copy of c's content would
    * match nothing and be admitted. Indexing c's signature closes that:
    * any later copy of any cluster member matches. Docs that matched the
    * index are NOT re-indexed — their signature is within threshold of an
    * already-indexed one, so re-indexing adds no recall, and skipping it
    * keeps a popular duplicate from appending a signature every batch. */
  /** `afterIndexAppend` is a crash-injection hook invoked in the
    * exactly-once protocol's most dangerous window — index appended,
    * corpus NOT yet committed. The two-process crash spec halts the JVM
    * there (CurateCrashChild) and proves the restart replays to the same
    * corpus. */
  def curateBatch(corpusTable: String, indexRoot: String,
      threshold: Double = 0.5, afterIndexAppend: () => Unit = () => ())(
      df: DataFrame, batchId: Long): Unit = {
    import graft.ops.{Dedup, DedupIndex, TextStats}
    val root = java.nio.file.Paths.get(corpusTable)
    val last = AtomicTable.manifest(root)
      .flatMap(_.properties.get("last_batch_id")).map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return
    val spark = df.sparkSession
    // materialize the batch once: every stage below re-reads it, and a
    // file-stream batch re-plans the file scan per reference otherwise
    val batch = df.localCheckpoint(true)
    try {
      // quality and exactKept each feed several consumers (the dedup
      // stages AND the funnel counts below) — checkpoint them so the
      // gate and the canonicalize shuffle run once per batch, not once
      // per consumer. All batch-proportional.
      val quality = TextStats.qualityKeep(batch).localCheckpoint(true)
      val exactKeepers = Dedup.canonicalize(quality)
        .filter(!col("is_dup")).select("doc_id")
      val exactKept = quality.join(exactKeepers, "doc_id")
        .localCheckpoint(true)
      val selfDupIds = Dedup.connectedComponents(
          Dedup.minhashPairs(exactKept, threshold))
        .filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id"))
      val tag = f"b$batchId%06d"
      val idxDupIds = DedupIndex.matches(spark, indexRoot, exactKept, threshold,
          excludeIngest = Some(tag))
        .select(col("new_id").as("doc_id")).distinct()
      // eager: the index reads under `matches` must complete BEFORE the
      // append below mutates the index
      val indexable = exactKept.join(idxDupIds, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val survivors = indexable.join(selfDupIds, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      DedupIndex.append(indexRoot, indexable, ingest = tag)
      afterIndexAppend()
      // per-batch funnel counts, committed ATOMICALLY with the corpus in
      // the same manifest swap (so a replayed batch re-reports the same
      // stats): the observability a production ingest alerts on. Every
      // counted frame is checkpointed above, so each count is a cached
      // scan — no stage re-executes and the corpus is never touched.
      val nIn = batch.count()
      val nQuality = quality.count()
      val nExact = exactKept.count()
      val nIndexable = indexable.count()
      val nCommitted = survivors.count()
      val stats = s"""{"in":$nIn,"gated":${nIn - nQuality},""" +
        s""""exact_dropped":${nQuality - nExact},""" +
        s""""index_dropped":${nExact - nIndexable},""" +
        s""""neardup_dropped":${nIndexable - nCommitted},""" +
        s""""committed":$nCommitted}"""
      // partitioned by the STRING commit tag (batch_id stays as a data
      // column for provenance): the tag space is what consolidateCorpus
      // folds, so a long ingest's partition count stays bounded while
      // each recent batch keeps its own replaceable partition
      AtomicTable.replacePartitions(spark, corpusTable,
        survivors.withColumn("batch_id", lit(batchId))
          .withColumn("commit_part", lit(tag)), "commit_part",
        properties = Map("last_batch_id" -> batchId.toString,
          "last_batch_stats" -> stats))
      ()
    } finally {
      // minhashPairs persists its candidate tables for the duration of
      // the batch; a long-running ingest must not accumulate them
      spark.catalog.clearCache()
    }
  }

  /** Corpus-side companion of [[graft.ops.DedupIndex.consolidate]]: fold
    * every commit tag except the `keepRecent` most recent into one base
    * partition (batch_id survives as a data column, so per-batch
    * provenance is intact). Safe beside the exactly-once protocol:
    * replay only ever targets batches ABOVE last_batch_id, and only tags
    * at or below it are folded. Schedule with the index consolidation as
    * periodic maintenance; together they bound a years-long ingest's
    * partition count at 2·(1 + keepRecent). */
  def consolidateCorpus(spark: SparkSession, corpusTable: String,
      keepRecent: Int): Unit = {
    require(keepRecent >= 1,
      "keepRecent must be >= 1: the newest batch tag must stay its own " +
        "partition for torn-replay idempotency")
    val root = java.nio.file.Paths.get(corpusTable)
    val m = AtomicTable.manifest(root).getOrElse(return)
    val baseTag = graft.ops.DedupIndex.BaseTag
    val recent = (m.partitions.keySet - baseTag).toSeq
      .sortBy(graft.ops.DedupIndex.tagOrder)
      .takeRight(keepRecent).toSet
    val fold = m.partitions.keySet -- recent
    if (fold.size <= 1) return
    val schema = org.apache.spark.sql.types.StructType(
      documentsSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("commit_part",
          org.apache.spark.sql.types.StringType)))
    val folded = AtomicTable.read(spark, corpusTable, schema)
      .filter(col("commit_part").isin(fold.toSeq: _*))
      .withColumn("commit_part", lit(baseTag))
      .repartition(col("commit_part"))
    // optimistic: a concurrent batch commit since the manifest read
    // aborts the fold (rerun later) instead of clobbering it
    AtomicTable.replacePartitions(spark, corpusTable, folded, "commit_part",
      dropPartitions = fold, expectedVersion = Some(m.version))
    ()
  }

  /** Run the curated ingest over a staging directory of JSON document
    * files to completion (AvailableNow), one file per micro-batch so
    * multi-batch semantics — cross-batch dedup, index growth, replay
    * idempotency — actually execute rather than collapsing into one
    * batch. The deployment form is the same query with an always-on
    * trigger. */
  def curatedIngestAvailableNow(spark: SparkSession, stagingDir: String,
      corpusTable: String, indexRoot: String, checkpoint: String,
      threshold: Double = 0.5,
      afterIndexAppend: Long => Unit = _ => ()): Unit = {
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = spark.readStream
        .schema(documentsSchema)
        .option("maxFilesPerTrigger", 1)
        .json(stagingDir)
        .writeStream
        .foreachBatch((df: DataFrame, id: Long) =>
          curateBatch(corpusTable, indexRoot, threshold,
            () => afterIndexAppend(id))(df, id))
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
  }

  /** The curated ingest in its DEPLOYMENT form: an always-on
    * ProcessingTime trigger polling the staging directory. Identical
    * pipeline to [[curatedIngestAvailableNow]] — only the trigger
    * differs — so the AvailableNow specs carry the semantics and this
    * form carries liveness: the caller receives the running query and
    * stops it. One file per micro-batch keeps batch cost ∝ file, and the
    * per-batch clearCache in [[curateBatch]] is what keeps executor
    * storage flat over an unbounded run (asserted in
    * StreamingCurateSpec). */
  def curatedIngestProcessingTime(spark: SparkSession, stagingDir: String,
      corpusTable: String, indexRoot: String, checkpoint: String,
      threshold: Double = 0.5, intervalMs: Long = 100L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      spark.readStream
        .schema(documentsSchema)
        .option("maxFilesPerTrigger", 1)
        .json(stagingDir)
        .writeStream
        .foreachBatch((df: DataFrame, id: Long) =>
          curateBatch(corpusTable, indexRoot, threshold)(df, id))
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime(intervalMs))
        .start()
    }

  /** Micros-typed event for the exact stateful totals: the double value is
    * converted to integer micros at the stream edge so state accumulation
    * is a Long add — exact, order-independent, and therefore comparable
    * against a single-threaded decimal oracle (same rationale as
    * [[graft.functions.Stable]]). */
  final case class UserEventM(user_id: Long, micros: Long)
  final case class UserTotal(user_id: Long, n_events: Long, total_micros: Long)

  /** Arbitrary stateful processing: per-user running totals maintained in
    * the state store across triggers (KeyValueGroupedDataset +
    * flatMapGroupsWithState) — the pattern for custom state the built-in
    * windows can't express. Exact: the state adds integer micros. */
  def runningTotalsExact(events: Dataset[UserEventM]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotal, UserTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEventM], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(userId, 0L, 0L))
          var n = prev.n_events
          var total = prev.total_micros
          batch.foreach { e => n += 1; total += e.micros }
          val next = UserTotal(userId, n, total)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Events as [[UserEventM]]: each value converted to integer micros. */
  private[streaming] def eventMicros(events: DataFrame): Dataset[UserEventM] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"),
        (col("value").cast("decimal(18,6)") * lit(1000000L)).cast("long").as("micros"))
      .as[UserEventM]
  }

  /** Driver entry for arbitrary stateful processing: per-user totals via
    * flatMapGroupsWithState run to completion with `AvailableNow`. Update
    * mode emits one row per (trigger, user); the final state per user is
    * the row with the largest n_events (totals only grow), so the result
    * equals the batch GROUP BY — which is the oracle. */
  def totalsAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "ev_running_stream_out"): DataFrame = {
    val ev = eventMicros(readEvents(spark, dir))
    withConf(spark, "spark.sql.shuffle.partitions", StreamPartitions) {
      val q = runningTotalsExact(ev).toDF()
        .writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Update)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    spark.table(queryName)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        (col("total_micros").cast("decimal(38,6)") / lit(1000000))
          .cast("double").as("total_value"))
      .orderBy("user_id")
  }

  /** Continuously-maintained incremental view: the source table's
    * streaming changefeed is the WAKE signal, and each micro-batch runs
    * one [[graft.etl.IncrementalView.refresh]] — which re-derives its
    * own delta from the manifests and commits exactly-once, so the
    * stream's replay/restart semantics cannot double-apply anything
    * (the batch frame itself is deliberately ignored; a replayed epoch
    * finds the version already applied and no-ops). Scope: the
    * streaming changefeed is append-only by contract, so this fits
    * sources fed by streaming sinks / INSERT ingest; batch-mutated
    * sources (MERGE/DELETE) call refresh() directly after their
    * commits instead. */
  def maintainView(spark: SparkSession, mv: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (d, _) = graft.etl.IncrementalView.definitionOf(mv)
    spark.readStream.format("graft").option("readChangeFeed", "true")
      .load(d.source)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        graft.etl.IncrementalView.refresh(spark, mv)
        ()
      }
      .start()
  }
}
