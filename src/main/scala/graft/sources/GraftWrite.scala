package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.etl.AtomicTable

/** Write side of the graft format — `df.write.format("graft")
  * .option("partition", "<col>").save(root)`:
  *
  *  - **append mode = dynamic partition replace** (the Hive/Delta
  *    `partitionOverwriteMode=dynamic` contract, and exactly
  *    [[AtomicTable.replacePartitions]]'s semantics): the partitions
  *    present in the data are replaced, every other partition is
  *    carried by reference.
  *  - **overwrite mode** (truncate): one commit that lands the new
  *    partitions AND drops every pre-existing partition not rewritten.
  *  - Tasks stage parquet straight into a fresh `data/txn-*` dir (one
  *    writer per partition value per task — pre-repartition by the
  *    partition column for one file per partition), the driver commits
  *    the manifest through the normal claim loop: atomic, optimistic,
  *    crash-safe (an aborted write leaves only a vacuum-reclaimable
  *    orphan txn dir). Truncate commits with `expectedVersion` so a
  *    racing writer aborts the overwrite instead of surviving it.
  *  - The `partition` option may be omitted when the table exists (the
  *    column comes from the manifest). Flat primitive schemas, same
  *    scope as the read side; timestamps write as INT64 micros. */
private[sources] class GraftWriteBuilder(root: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    declaredPartition: Option[String] = None,
    declaredRetain: Option[Int] = None,
    declaredStats: Seq[String] = Nil,
    declaredSalt: Option[(String, Int)] = None,
    declaredOrder: Seq[String] = Nil,
    declaredBloom: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwriteV2
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  // None + !dynamic = plain append (INSERT INTO: existing partition
  // contents are KEPT, the new dir joins the partition's list);
  // None + dynamic = dynamic partition replace (INSERT OVERWRITE with
  // partitionOverwriteMode=dynamic: partitions present in the data
  // replace themselves); Some(preds) = INSERT OVERWRITE scoped to the
  // partitions the predicates select (ALWAYS_TRUE = truncate, via the
  // default truncate() -> overwrite(alwaysTrue) path)
  private var overwritePreds: Option[Array[Predicate]] = None
  private var dynamicOverwrite = false

  /** Accept only predicates resolvable to partition keys from metadata —
    * a static `PARTITION (p='x')` spec, IN/OR combinations, or the
    * always-true truncate. Anything finer is not an overwrite this
    * format can scope, and must be an UPDATE/MERGE instead. */
  override def canOverwrite(predicates: Array[Predicate]): Boolean =
    predicates.forall(pr => pr.name() == "ALWAYS_TRUE" ||
      GraftV2Predicates.valuesFor(pr, resolvePartitionCol()).isDefined)

  override def overwrite(predicates: Array[Predicate])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    overwritePreds = Some(predicates); this
  }

  /** Hive's `partitionOverwriteMode=dynamic` contract: the partitions
    * present in the data replace themselves. Distinct from plain
    * append, which keeps existing partition contents. */
  override def overwriteDynamicPartitions()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    overwritePreds = None; dynamicOverwrite = true; this
  }

  private def resolvePartitionCol(): String =
    Option(info.options.get("partition"))
      .orElse(AtomicTable.rootOpt(java.nio.file.Paths.get(root))
        .filter(_.partitions.nonEmpty).map(GraftSource.partitionColOf))
      .orElse(declaredPartition)
      .getOrElse(throw new IllegalArgumentException(
        "writing a new graft table needs .option(\"partition\", \"<col>\")"))

  // retention is per-commit (the latest commit's retain wins), so time
  // travel / changefeed consumers need every write path to carry it —
  // a per-write option wins over the table's declared setting
  private def resolveRetain(): Int =
    Option(info.options.get("retain")).map(_.trim.toInt)
      .orElse(declaredRetain).getOrElse(1)

  /** Zone-map columns for this write: a per-write `stats_columns` option
    * wins over the table's declared setting. Collected IN the writer
    * tasks as rows stream through, so a tracked table pays no second
    * pass and every SQL INSERT keeps its partitions prunable. */
  private def resolveStats(partitionCol: String): Seq[String] = {
    val cols = Option(info.options.get("stats_columns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(declaredStats)
    cols.foreach { c =>
      require(!graft.etl.AtomicTable.partCols(partitionCol).contains(c),
        s"stats_columns must not include the partition column '$c'")
      require(info.schema().fieldNames.contains(c),
        s"stats column '$c' is not in the write schema")
      require(GraftWriteStats.supported(info.schema()(c).dataType),
        s"stats column '$c' has unsupported type ${info.schema()(c).dataType}")
    }
    cols
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      // cluster incoming rows by the partition column BEFORE the write:
      // without it, T upstream tasks x K partition values = T*K staged
      // files per commit — the fan-out that kills object-store listings
      // at 1000 executors. With it, each partition value lands in one
      // task = one file, the layout compaction maintains. An input
      // already hash-partitioned on the column satisfies the
      // distribution, so pre-repartitioned writers pay no extra shuffle.
      private def orderSorts
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
        import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
        (graft.etl.AtomicTable.partCols(resolvePartitionCol()).map(c =>
          GraftSource.levelTransformOf(info.schema(), c)
            : org.apache.spark.sql.connector.expressions.Expression) ++
          declaredOrder.filter(info.schema().fieldNames.contains)
            .map(Expressions.column(_)
              : org.apache.spark.sql.connector.expressions.Expression))
          .map(e => Expressions.sort(e, SortDirection.ASCENDING)).toArray
      }
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        // 'write_order'='a,b' RANGE-distributes on (partition levels,
        // order cols): each partition's files land range-DISJOINT in
        // the order columns — file-level zone maps prune immediately,
        // no clustered compaction needed. Otherwise cluster by each
        // level's TRANSFORM value (bucket id / day / truncation), not
        // the raw source: one task per dir value = one file per dir per
        // commit; a declared 'write_salt'='col:N' appends bucket(N,
        // col) — up to N writer tasks (= N files) per partition per
        // commit, the fan-out knob for partitions too big for one
        // task's write throughput (compaction folds the files back)
        if (declaredOrder.nonEmpty)
          org.apache.spark.sql.connector.distributions.Distributions
            .ordered(orderSorts)
        else org.apache.spark.sql.connector.distributions.Distributions.clustered(
          graft.etl.AtomicTable.partCols(resolvePartitionCol()).toArray.map(c =>
            GraftSource.levelTransformOf(info.schema(), c)
              : org.apache.spark.sql.connector.expressions.Expression) ++
            declaredSalt.filter(s => info.schema().fieldNames.contains(s._1))
              .map { case (c, n) =>
                org.apache.spark.sql.connector.expressions.Expressions
                  .bucket(n, c)
                  : org.apache.spark.sql.connector.expressions.Expression
              })
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        // the in-task sort that makes each file's zone map TIGHT (and
        // parquet row-group stats inside it)
        if (declaredOrder.nonEmpty) orderSorts else Array.empty
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
        val pc = resolvePartitionCol()
        new GraftBatchWrite(root, info.schema(), pc,
          overwritePreds, resolveRetain(), resolveStats(pc),
          dynamicOverwrite,
          sortedBy = declaredOrder.filter(info.schema().fieldNames.contains),
          bloomCols = declaredBloom.filter(info.schema().fieldNames.contains))
      }
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        val pc = resolvePartitionCol()
        new GraftStreamingWrite(root, info.schema(), pc,
          info.queryId(), resolveRetain(), resolveStats(pc))
      }
      override def supportedCustomMetrics()
          : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
        GraftWriteMetrics.all
    }
}

/** `df.writeStream.format("graft")` — the table is a native STREAMING
  * SINK. Each epoch stages into its own deterministic
  * `data/txn-st-<query>-e<epoch>` dir and commits as a dynamic
  * partition replace; exactly-once comes from the epoch riding the
  * SAME manifest swap as the data (property
  * `graft.stream.<queryId>` — query-scoped, so several streams can
  * feed one table), with a replayed epoch skipped before it commits.
  * Combined with the changefeed source, tables chain into multi-hop
  * streaming pipelines: sink a stream into table A, stream table A
  * into table B, each hop transactional. Partition by an
  * epoch-derived or event-time column for the append-only layout the
  * changefeed reads incrementally. */
private[sources] class GraftStreamingWrite(root: String, schema: StructType,
    partitionCol: String, queryId: String, retain: Int = 1,
    statsColumns: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  // per-run nonce: a replay AFTER RESTART stages into a fresh dir, so a
  // skipped (already-committed) epoch can never pollute the dir its
  // original commit published; the fresh orphan ages out through vacuum
  private val nonce = java.util.UUID.randomUUID().toString.take(8)
  private def txnFor(epochId: Long) =
    GraftStreamingWriterFactory.txnFor(queryId, nonce, epochId)
  private def epochProp = s"graft.stream.$queryId"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    GraftStreamingWriterFactory(root, schema, partitionCol, queryId, nonce,
      statsColumns)

  override def commit(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val rootPath = java.nio.file.Paths.get(root)
    val last = AtomicTable.rootOpt(rootPath)
      .flatMap(_.properties.get(epochProp)).map(_.toLong).getOrElse(-1L)
    if (epochId <= last) return // replayed epoch: already committed
    val staged = GraftWriteCommit.pruneAndMap(root, txnFor(epochId),
      partitionCol, messages)
    AtomicTable.commitManifest(rootPath, staged.written,
      newStats = GraftWriteCommit.mergedStats(schema, statsColumns, messages),
      properties = Map(epochProp -> epochId.toString), retain = retain,
      newFiles = staged.files,
      newFileStats = GraftWriteCommit.fileStats(staged, messages))
    ()
  }

  override def abort(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val dir = java.nio.file.Paths.get(root, "data", txnFor(epochId))
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(rm(_)) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p); ()
    }
    rm(dir)
  }
}

/** partition value -> parquet file NAMES this committed task attempt
  * wrote. Carrying exact files lets the driver prune the staging dir of
  * any failed/zombie attempt's leftovers BEFORE the manifest commit —
  * without it, a retried task would leave its dead attempt's file in
  * the shared txn dir and the commit would double those rows. */
private[sources] final case class GraftCommitMessage(
    files: Map[String, Set[String]],
    stats: Map[String, GraftTaskStats] = Map.empty)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Per-partition zone-map fragment ONE task observed while writing: row
  * count plus min/max of the tracked columns, already rendered in the
  * manifest's string encoding (the `cast(col as string)` form the Scala
  * API commits, so one table can mix both writers' stats). Collected AS
  * the rows stream through the writer — stats always bound exactly the
  * staged files, never a re-execution of the input plan. */
private[sources] final case class GraftTaskStats(rows: Long,
    mins: Map[String, String], maxs: Map[String, String])

/** Typed track-and-render for writer-side zone maps, shared by batch,
  * streaming, and row-level writes. */
private[sources] object GraftWriteStats {

  /** Supported stats column types (everything statsOrder can compare). */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The raw comparable value of stats field `i`, null when SQL-null. */
  def valueAt(row: InternalRow, i: Int, dt: DataType): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType => row.getLong(i)
      case IntegerType | DateType => row.getInt(i)
      case DoubleType => row.getDouble(i)
      case FloatType => row.getFloat(i)
      case BooleanType => row.getBoolean(i)
      case StringType => row.getUTF8String(i).toString
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale)
      case other => throw new IllegalArgumentException(s"stats type $other")
    }

  /** a < b in the zone-map order (same order statsOrder applies on the
    * rendered strings — strings compare as java Strings, timestamps as
    * micros, numerics numerically). */
  def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case IntegerType | DateType => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double]) < 0
    case FloatType =>
      java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float]) < 0
    case BooleanType => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
    case StringType => a.asInstanceOf[String].compareTo(b.asInstanceOf[String]) < 0
    case _: DecimalType =>
      a.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .compare(b.asInstanceOf[org.apache.spark.sql.types.Decimal]) < 0
    case other => throw new IllegalArgumentException(s"stats type $other")
  }

  /** Render in the manifest's `cast(col as string)` encoding. */
  def render(dt: DataType, v: Any): String = dt match {
    case DateType => java.time.LocalDate.ofEpochDay(
      v.asInstanceOf[Int].toLong).toString
    case TimestampType | TimestampNTZType =>
      val us = v.asInstanceOf[Long]
      val ldt = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      val base = "%04d-%02d-%02d %02d:%02d:%02d".format(ldt.getYear,
        ldt.getMonthValue, ldt.getDayOfMonth, ldt.getHour, ldt.getMinute,
        ldt.getSecond)
      val frac = Math.floorMod(us, 1000000L)
      if (frac == 0L) base
      else base + "." + "%06d".format(frac).reverse.dropWhile(_ == '0').reverse
    case _ => String.valueOf(v)
  }

  /** Driver-side merge of the committed tasks' fragments into the
    * manifest's [[AtomicTable.PartStats]], bounds compared by the SAME
    * comparator the pruned reads use. */
  def merge(schema: StructType, statsColumns: Seq[String],
      messages: Seq[GraftTaskStats]): AtomicTable.PartStats = {
    val rows = messages.map(_.rows).sum
    var mins = Map.empty[String, String]
    var maxs = Map.empty[String, String]
    statsColumns.foreach { c =>
      val dt = schema(c).dataType
      val lo = messages.flatMap(_.mins.get(c))
        .reduceOption((a, b) => if (AtomicTable.statsOrder(dt, a, b) <= 0) a else b)
      val hi = messages.flatMap(_.maxs.get(c))
        .reduceOption((a, b) => if (AtomicTable.statsOrder(dt, a, b) >= 0) a else b)
      lo.foreach(v => mins += c -> v)
      hi.foreach(v => maxs += c -> v)
    }
    AtomicTable.PartStats(rows, mins, maxs)
  }
}

private[sources] class GraftBatchWrite(root: String, schema: StructType,
    partitionCol: String,
    overwrite: Option[Array[org.apache.spark.sql.connector.expressions.filter.Predicate]],
    retain: Int = 1,
    statsColumns: Seq[String] = Nil,
    dynamicOverwrite: Boolean = false,
    sortedBy: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.BatchWrite {

  /** Commits record which columns carry per-file bloom sidecars, so
    * the scan knows what point predicates can probe. */
  private def bloomProps: Map[String, String] =
    if (bloomCols.isEmpty) Map.empty
    else Map(GraftSource.BloomColsProperty -> bloomCols.mkString(","))

  /** Per-dir sort markers: a write_order INSERT range-sorts every task
    * on (partition levels, order cols), so each staged file is sorted
    * by the order columns — recorded so the scan can report ordering. */
  private def sortMarkers(staged: GraftWriteCommit.Staged): Map[String, String] =
    if (sortedBy.isEmpty) Map.empty
    else staged.written.values.flatten
      .map(_ -> sortedBy.mkString(",")).toMap

  private val txn = s"txn-${java.util.UUID.randomUUID().toString.take(12)}"
  private val readVersion =
    AtomicTable.currentVersion(java.nio.file.Paths.get(root)).getOrElse(0L)

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new GraftWriterFactory(root, txn, schema, partitionCol, statsColumns,
      bloomCols)

  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val staged = GraftWriteCommit.pruneAndMap(root, txn, partitionCol, messages)
    val rootPath = java.nio.file.Paths.get(root)
    val newStats = GraftWriteCommit.mergedStats(schema, statsColumns, messages)
    val fStats = GraftWriteCommit.fileStats(staged, messages)
    // fold each staged dir's task-written bloom sidecars into ONE
    // offset-indexed bundle BEFORE the manifest commit: the bundle
    // stages with the data (a crash strands it with its orphan dir),
    // and the probe then plans with one read per admitted DIR instead
    // of one per admitted file — the object-store posture fix
    if (bloomCols.nonEmpty)
      staged.files.keys.foreach(d => GraftBloom.writeBundle(s"$root/$d"))
    // overwrite scope: the partitions the predicates select from the
    // CURRENT manifest (ALWAYS_TRUE selects all = truncate); dynamic
    // overwrite replaces exactly the partitions present in the data;
    // plain append (INSERT INTO) keeps existing contents and EXTENDS
    // each touched partition's dir list — concurrent INSERTs into one
    // partition both survive (list-level manifest merge)
    overwrite match {
      case Some(preds) =>
        val keys = AtomicTable.rootOpt(rootPath).map(_.partitions.keySet)
          .getOrElse(Set.empty)
        val drop = GraftV2Predicates.partitionsFor(preds, partitionCol, keys)
          .getOrElse(throw new IllegalArgumentException(
            s"INSERT OVERWRITE predicates [${preds.mkString(", ")}] do not " +
              s"resolve to partitions of '$partitionCol'")) -- staged.written.keySet
        AtomicTable.commitManifest(rootPath, staged.written,
          newStats = newStats, dropPartitions = drop, retain = retain,
          expectedVersion = Some(readVersion), newFiles = staged.files,
          newFileStats = fStats, newSorted = sortMarkers(staged),
          properties = bloomProps)
      case None if dynamicOverwrite =>
        AtomicTable.commitManifest(rootPath, staged.written,
          newStats = newStats, retain = retain, newFiles = staged.files,
          newFileStats = fStats, newSorted = sortMarkers(staged),
          properties = bloomProps)
      case None =>
        try AtomicTable.commitManifest(rootPath, staged.written,
          newStats = newStats, retain = retain, newFiles = staged.files,
          newFileStats = fStats, appends = _ => true, statsSchema = Some(schema),
          operation = "append", newSorted = sortMarkers(staged),
          properties = bloomProps)
        catch {
          case _: IllegalStateException =>
            // a touched partition has outstanding delete vectors: fold
            // them (partition-bounded rewrite, optimistic), then retry
            // the append — appended rows reusing a deleted key must not
            // be re-deleted by a stale vector
            graft.etl.MergeInto.materializeDeletes(
              org.apache.spark.sql.SparkSession.active, root, schema,
              partitionCol, statsColumns)
            AtomicTable.commitManifest(rootPath, staged.written,
              newStats = newStats, retain = retain, newFiles = staged.files,
              newFileStats = fStats, appends = _ => true, statsSchema = Some(schema),
              operation = "append", newSorted = sortMarkers(staged),
              properties = bloomProps)
        }
    }
    ()
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    // staged bytes become a never-committed orphan; reclaim eagerly
    val dir = java.nio.file.Paths.get(root, "data", txn)
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(rm(_)) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p); ()
    }
    rm(dir)
  }
}

/** Driver-side half of a graft write commit, shared by batch and
  * streaming: union the committed task attempts' file reports, prune
  * the staging txn dir of anything no committed attempt wrote (a
  * failed or zombie attempt's leftovers — Spark only passes messages
  * from attempts it committed), and return the manifest's
  * partition -> dir map. */
private[sources] object GraftWriteCommit {

  /** The driver-side view of a staged write: `written` maps each
    * partition value to its (single) staged dir; `files` records the
    * exact parquet names the committed attempts wrote per dir, for the
    * manifest's committed-file list (readers then never pick up a
    * zombie attempt's post-prune straggler). */
  final case class Staged(written: Map[String, Seq[String]],
      files: Map[String, Seq[String]])

  def pruneAndMap(root: String, txn: String, partitionCol: String,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Staged = {
    val byPart = mutable.Map.empty[String, mutable.Set[String]]
    messages.foreach {
      case GraftCommitMessage(files, _) =>
        files.foreach { case (pv, fs) =>
          byPart.getOrElseUpdate(pv, mutable.Set.empty) ++= fs
        }
      case _ => ()
    }
    val conf = new Configuration()
    val pcols = graft.etl.AtomicTable.partCols(partitionCol)
    val txnPath = new Path(s"$root/data/$txn")
    val fs = txnPath.getFileSystem(conf)
    // walk one nested level per partition column to the staged leaves
    def walk(dir: Path, cols: Seq[String], values: Seq[String]): Unit =
      cols match {
        case Nil =>
          val part = graft.etl.AtomicTable.partKey(values)
          byPart.get(part) match {
            case None => fs.delete(dir, true); ()
            case Some(keep) => fs.listStatus(dir).foreach { f =>
              val n = f.getPath.getName
              if (n.endsWith(".parquet") && !keep.contains(n)) {
                fs.delete(f.getPath, false); ()
              }
            }
          }
        case c +: rest => fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith(s"$c="))
            walk(st.getPath, rest,
              values :+ org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName(n.substring(c.length + 1)))
        }
      }
    if (fs.exists(txnPath)) walk(txnPath, pcols, Nil)
    val dirOf = byPart.keys.map { pv =>
      pv -> s"data/$txn/${graft.etl.AtomicTable.partDirSuffix(pcols, pv)}"
    }.toMap
    Staged(dirOf.map { case (pv, d) => pv -> Seq(d) },
      dirOf.map { case (pv, d) => d -> byPart(pv).toSeq.sorted })
  }

  /** Merge the committed tasks' per-partition stats fragments into the
    * manifest's zone maps. Untracked tables still get ROWS-ONLY stats
    * (bounds empty — conservative everywhere): exact row counts cost
    * one increment per row and unlock metadata count(*)/LIMIT pushdown
    * without declaring stats_columns. */
  def mergedStats(schema: StructType, statsColumns: Seq[String],
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Map[String, AtomicTable.PartStats] = {
    val frags = mutable.Map.empty[String, mutable.Buffer[GraftTaskStats]]
    messages.foreach {
      case GraftCommitMessage(_, stats) =>
        stats.foreach { case (pv, st) =>
          frags.getOrElseUpdate(pv, mutable.Buffer.empty) += st
        }
      case _ => ()
    }
    frags.map { case (pv, sts) =>
      pv -> GraftWriteStats.merge(schema, statsColumns, sts.toSeq)
    }.toMap
  }

  /** FILE-level zone maps from the committed tasks' fragments: each
    * task writes exactly ONE parquet file per partition value
    * ([[GraftDataWriter.fileNameFor]]), so a task's per-partition stats
    * fragment IS that file's stats — per-file bounds with zero extra
    * passes over the data. Keyed dir -> file name, the manifest's
    * `fileStats` shape. Empty when stats aren't tracked. */
  def fileStats(staged: Staged,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Map[String, Map[String, AtomicTable.PartStats]] = {
    val byDir = mutable.Map.empty[String, mutable.Map[String, AtomicTable.PartStats]]
    messages.foreach {
      case GraftCommitMessage(files, stats) =>
        stats.foreach { case (pv, st) =>
          for {
            dirs <- staged.written.get(pv)
            dir <- dirs.headOption
            names <- files.get(pv)
            name <- names // one name per task by construction
          } byDir.getOrElseUpdate(dir, mutable.Map.empty) +=
            name -> AtomicTable.PartStats(st.rows, st.mins, st.maxs)
        }
      case _ => ()
    }
    byDir.map { case (d, perFile) => d -> perFile.toMap }.toMap
  }
}

private[sources] final case class GraftStreamingWriterFactory(root: String,
    schema: StructType, partitionCol: String, queryId: String, nonce: String,
    statsColumns: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(root,
      GraftStreamingWriterFactory.txnFor(queryId, nonce, epochId),
      schema, partitionCol, partitionId, taskId, statsColumns)
}

private[sources] object GraftStreamingWriterFactory {
  def txnFor(queryId: String, nonce: String, epochId: Long): String =
    s"txn-st-${queryId.take(8)}-$nonce-e$epochId"
}

private[sources] class GraftWriterFactory(root: String, txn: String,
    schema: StructType, partitionCol: String, statsColumns: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(root, txn, schema, partitionCol, partitionId, taskId,
      statsColumns, bloomCols)
}

/** Task-side writer: one parquet file per partition VALUE this task
  * sees (pre-repartition by the partition column upstream for the
  * one-file-per-partition layout the maintenance operators keep). */
private[sources] class GraftDataWriter(root: String, txn: String,
    schema: StructType, partitionCol: String, partitionId: Int, taskId: Long,
    statsColumns: Seq[String] = Nil, bloomCols: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val pcols = graft.etl.AtomicTable.partCols(partitionCol)
  // a bucket level hashes its SOURCE column, a transform level derives
  // its dir value from it (the source stays a data column in the files
  // — the dir carries only the bucket id / transform value)
  private val bucketOf: Array[Option[Int]] =
    pcols.map(c => Option(c).filter(GraftSource.syntheticLevel(schema, _))
      .flatMap(GraftBuckets.level).map(_._2)).toArray
  private val transformOf: Array[Option[GraftTransforms.Kind]] =
    pcols.map(c => Option(c).filter(GraftSource.syntheticLevel(schema, _))
      .flatMap(GraftTransforms.level).map(_.kind)).toArray
  private val partIdxs: Array[Int] = pcols.map(c =>
    schema.fieldIndex(GraftSource.levelSource(schema, c))).toArray
  private val statsFields: Array[(String, Int, DataType)] =
    statsColumns.map(c => (c, schema.fieldIndex(c), schema(c).dataType)).toArray
  private val bloomFields: Array[(String, Int, DataType)] =
    bloomCols.map(c => (c, schema.fieldIndex(c), schema(c).dataType)).toArray
  // partition value -> per-bloom-column builder (one file per partition
  // value per task, so the builder IS the file's filter)
  private val bloomAcc =
    mutable.Map.empty[String, Array[GraftBloom.Builder]]
  // per partition VALUE: row count + typed running min/max per stats col
  private final class StatsAcc {
    var rows = 0L
    val mins = new Array[Any](statsFields.length)
    val maxs = new Array[Any](statsFields.length)
  }
  private val statsAcc = mutable.Map.empty[String, StatsAcc]
  private val dataFields =
    schema.fields.zipWithIndex.filterNot(f => pcols.contains(f._1.name))
  /** The file schema: the data columns only (partition values live in
    * the dir structure). Spark's own [[org.apache.spark.sql.execution
    * .datasources.parquet.ParquetWriteSupport]] converts it — the SAME
    * physical layout the old hand-built message type produced (BINARY
    * UTF8 strings, INT64 MICROS timestamps, the INT32/INT64/FIXED
    * decimal widths), plus the nested types the hand-built path
    * refused. */
  private val dataSchema = StructType(dataFields.map(_._1).toSeq)
  /** Codegen'd projection full row -> data-only row in file order (the
    * write support consumes positions of [[dataSchema]]). */
  private val project = org.apache.spark.sql.catalyst.expressions
    .UnsafeProjection.create(dataFields.map { case (f, i) =>
      org.apache.spark.sql.catalyst.expressions
        .BoundReference(i, f.dataType, f.nullable)
        : org.apache.spark.sql.catalyst.expressions.Expression
    }.toSeq)
  private val writers = mutable.Map.empty[String,
    org.apache.parquet.hadoop.ParquetWriter[InternalRow]]
  private var rowsOut = 0L

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    GraftScanMetrics.Value(GraftWriteMetrics.RowsWritten, rowsOut),
    GraftScanMetrics.Value(GraftWriteMetrics.FilesWritten,
      writers.size.toLong),
    GraftScanMetrics.Value(GraftWriteMetrics.BloomBuilders,
      bloomAcc.valuesIterator.map(_.length.toLong).sum))

  private[sources] def fileNameFor(): String =
    s"part-$partitionId-$taskId.parquet"

  private def writerFor(part: String)
      : org.apache.parquet.hadoop.ParquetWriter[InternalRow] =
    writers.getOrElseUpdate(part, {
      val dir = s"$root/data/$txn/" +
        graft.etl.AtomicTable.partDirSuffix(pcols, part)
      val file = new Path(s"$dir/${fileNameFor()}")
      val conf = GraftParquetWriter.conf(dataSchema)
      new GraftParquetWriter.Builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
        .withConf(conf)
        .build()
    })

  override def write(row: InternalRow): Unit = {
    val partValue = graft.etl.AtomicTable.partKey(
      partIdxs.toSeq.zipWithIndex.zip(pcols).map { case ((i, lvl), c) =>
        bucketOf(lvl) match {
          case Some(n) =>
            // null keys fold to bucket 0 (a key filter never matches
            // null); the single bucketId definition the pruner and the
            // V2 function share
            val dt = schema(i).dataType
            val v = if (row.isNullAt(i)) null else row.get(i, dt)
            GraftBuckets.bucketId(v, dt, n).toString
          case None if transformOf(lvl).isDefined =>
            // monotone transform: canonical dir value of the source
            require(!row.isNullAt(i), s"null partition value for '$c'")
            GraftTransforms.dirValue(
              row.get(i, schema(i).dataType), schema(i).dataType,
              transformOf(lvl).get)
          case None =>
            require(!row.isNullAt(i), s"null partition value for '$c'")
            schema(i).dataType match {
              case StringType => row.getUTF8String(i).toString
              case LongType => row.getLong(i).toString
              case IntegerType => row.getInt(i).toString
              // ISO yyyy-MM-dd — the same rendering `cast(d as string)`
              // produces, so zone-map comparison, exact partition-filter
              // admission, and the reader's parse all agree on it
              case DateType =>
                java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
              case other => throw new IllegalArgumentException(
                s"unsupported partition column type $other")
            }
        }
      })
    writerFor(partValue).write(project(row))
    // row counts are tracked UNCONDITIONALLY (they cost one increment
    // and unlock count(*)/LIMIT pushdown on untracked tables); column
    // bounds only when stats_columns declares them
    rowsOut += 1L
    val acc = statsAcc.getOrElseUpdate(partValue, new StatsAcc)
    acc.rows += 1L
    if (bloomFields.nonEmpty) {
      val bs = bloomAcc.getOrElseUpdate(partValue,
        Array.fill(bloomFields.length)(new GraftBloom.Builder))
      var k = 0
      while (k < bloomFields.length) {
        val (_, i, dt) = bloomFields(k)
        // nulls never equality-match a literal, so they need no bit
        val v = GraftWriteStats.valueAt(row, i, dt)
        if (v != null) bs(k).add(GraftWriteStats.render(dt, v))
        k += 1
      }
    }
    if (statsFields.nonEmpty) {
      var k = 0
      while (k < statsFields.length) {
        val (_, i, dt) = statsFields(k)
        val v = GraftWriteStats.valueAt(row, i, dt)
        if (v != null) {
          if (acc.mins(k) == null || GraftWriteStats.lt(dt, v, acc.mins(k)))
            acc.mins(k) = v
          if (acc.maxs(k) == null || GraftWriteStats.lt(dt, acc.maxs(k), v))
            acc.maxs(k) = v
        }
        k += 1
      }
    }
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writers.values.foreach(_.close())
    // bloom sidecars land NEXT to their data file inside the immutable
    // staged dir — they travel with the bytes through commit/GC/restore
    // and cost the manifest nothing
    bloomAcc.foreach { case (part, builders) =>
      val dir = s"$root/data/$txn/" +
        graft.etl.AtomicTable.partDirSuffix(pcols, part)
      var k = 0
      while (k < bloomFields.length) {
        val p = new Path(
          s"$dir/${GraftBloom.sidecarName(fileNameFor(), bloomFields(k)._1)}")
        val out = p.getFileSystem(new Configuration()).create(p, true)
        try out.write(builders(k).toBytes) finally out.close()
        k += 1
      }
    }
    val stats = statsAcc.map { case (part, acc) =>
      part -> GraftTaskStats(acc.rows,
        statsFields.zipWithIndex.flatMap { case ((c, _, dt), k) =>
          Option(acc.mins(k)).map(v => c -> GraftWriteStats.render(dt, v)) }.toMap,
        statsFields.zipWithIndex.flatMap { case ((c, _, dt), k) =>
          Option(acc.maxs(k)).map(v => c -> GraftWriteStats.render(dt, v)) }.toMap)
    }.toMap
    GraftCommitMessage(writers.keySet.toSeq
      .map(p => p -> Set(fileNameFor())).toMap, stats)
  }
  override def abort(): Unit = writers.values.foreach(_.close())
  override def close(): Unit = ()
}

/** Spark-native parquet writing for the graft task writers: the
  * parquet-mr `ParquetWriter` driven by Spark's own
  * `ParquetWriteSupport` over [[InternalRow]] — the exact write path
  * `df.write.parquet` uses, minus the FileFormat layer. Replaces the
  * old `ExampleParquetWriter`/`SimpleGroupFactory` path, which built a
  * heap `Group` object tree per row (r13 verdict #4); the physical
  * file layout is unchanged (same logical annotations, widths, and
  * MICROS timestamps), so every reader generation sees identical
  * bytes-level semantics. */
private[sources] object GraftParquetWriter {
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
  import org.apache.spark.sql.internal.SQLConf

  final class Builder(f: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, Builder](f) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** The conf `ParquetWriteSupport.init` asserts on: schema under
    * SPARK_ROW_SCHEMA plus the session keys a FileFormat write would
    * copy from SQLConf — pinned to the values that reproduce the graft
    * on-disk contract (modern layout, INT64 MICROS timestamps, no
    * rebase, no field ids). */
  def conf(dataSchema: StructType): Configuration = {
    val c = new Configuration()
    ParquetWriteSupport.setSchema(dataSchema, c)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c
  }
}

