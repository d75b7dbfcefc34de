package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.AtomicTable

/** SQL `DELETE FROM` / `UPDATE` / `MERGE INTO` over graft tables — the
  * GROUP-BASED row-level operation protocol (Spark's copy-on-write
  * shape, the one Iceberg uses), with the PARTITION as the group:
  *
  *  1. the operation's scan pins the manifest version it planned
  *     against and records exactly which partitions it read;
  *  2. Spark recomputes those partitions' surviving/updated rows
  *     (`ReplaceData`) and hands them to the operation's write;
  *  3. the write commits ONE atomic manifest swap that replaces the
  *     rewritten partitions and drops the scanned-but-now-empty ones,
  *     with `expectedVersion` making a racing writer abort the rewrite
  *     rather than be clobbered by it.
  *
  * Runtime group filtering ([[SupportsRuntimeV2Filtering]]) narrows the
  * rewrite to the partitions that can actually match the condition — a
  * `DELETE ... WHERE p = 'x' AND f(q)` rewrites ONE partition, and a
  * `MERGE` of one day's changes into a years-partitioned table rewrites
  * that day, not the table. MERGE is safe to narrow because output rows
  * that land outside the scanned groups don't get lost: an INSERT (or an
  * UPDATE moving rows) into an existing-but-unscanned partition APPENDS
  * a dir to that partition in the same atomic commit that replaces the
  * scanned partitions, and brand-new partition values land as plain
  * writes. Spark itself withholds the group-filter condition when the
  * MERGE has NOT MATCHED BY SOURCE clauses (those must see every target
  * row), so that case falls back to a full scan without any work here.
  * Metadata-only partition deletes short-circuit this whole path via
  * [[GraftTable]]'s `SupportsDeleteV2`. */
private[sources] class GraftRowLevelOperation(root: String, full: StructType,
    partitionCol: String, retain: Int, cmd: Command,
    statsColumns: Seq[String] = Nil, bloomCols: Seq[String] = Nil)
  extends RowLevelOperation {

  /** Shared between this operation's scan and write: which snapshot the
    * rewrite was derived from, and which groups it covers. */
  private[sources] val state = new GraftGroupState

  override def command(): Command = cmd
  override def description(): String = s"graft ${cmd.name.toLowerCase}:$root"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(root, full, partitionCol, cmd, state)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new GraftGroupReplaceWrite(
          root, info.schema(), partitionCol, retain, cmd, state,
          statsColumns.filter(info.schema().fieldNames.contains),
          bloomCols.filter(info.schema().fieldNames.contains))
      }
    }
}

private[sources] class GraftGroupState {
  @volatile var readVersion: Long = 0L
  @volatile var scanned: Set[String] = Set.empty
}

private[sources] class GraftRowLevelScanBuilder(root: String,
    full: StructType, partitionCol: String, cmd: Command,
    state: GraftGroupState)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new GraftRowLevelScan(root, full, required, pushed, partitionCol, cmd, state)
}

private[sources] class GraftRowLevelScan(root: String, full: StructType,
    required: StructType, filters: Array[Filter], partitionCol: String,
    cmd: Command, state: GraftGroupState)
    extends GraftScan(root, full, required, filters)
    with SupportsRuntimeV2Filtering {

  private val pcols = AtomicTable.partCols(partitionCol)
  // per-level runtime narrowing: level index -> admitted segment values
  private var runtimeKeep: Option[Map[Int, Set[String]]] = None

  // the GROUP contract forbids file-level skipping here: a scanned
  // partition is REWRITTEN from this scan's output, so a file skipped
  // inside it would have its rows silently dropped by the rewrite.
  // Skipping whole partitions (groups) stays safe — they are not
  // scanned, not rewritten, and keep their bytes.
  override protected def skipFilesByStats: Boolean = false

  // runtime group filtering mutates the partition set after planning, so
  // the key-grouped report the base scan makes could disagree with the
  // partitions actually planned — don't report one here
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  // DELETE/UPDATE *and* MERGE: the commit's append-set routing makes it
  // safe for MERGE output rows to land in partitions the narrowed scan
  // never read, and Spark only emits a MERGE group filter when there are
  // no NOT MATCHED BY SOURCE clauses (RewriteMergeIntoTable withholds
  // groupFilterCondition otherwise)
  // a bucket/transform level offers its SOURCE column (a real data
  // attribute) and maps the extracted key values to its segment space —
  // a keyed DELETE/UPDATE on a bucketed or time-partitioned table then
  // rewrites ONE segment, not N
  override def filterAttributes(): Array[NamedReference] =
    pcols.toArray.map(GraftSource.levelSource(full, _))
      .filter(full.fieldNames.contains).map(Expressions.column)

  override def filter(predicates: Array[Predicate]): Unit = {
    // conjunctive narrowing: every extractable predicate intersects its
    // level's keep-set; anything unextractable is simply not used to
    // narrow (pruning can only skip groups the condition cannot touch)
    val acc = scala.collection.mutable.Map.empty[Int, Set[String]]
    for (p <- predicates; (c, i) <- pcols.zipWithIndex)
      GraftSource.runtimeKeepContribution(full, c, p).foreach(vs =>
        acc(i) = acc.get(i).fold(vs)(_ intersect vs))
    if (acc.nonEmpty) runtimeKeep = Some(acc.toMap)
  }

  // the manifest is pinned at FIRST planning: Spark may re-plan after the
  // runtime filter fires, and a concurrent commit between the two calls
  // must not let the rewrite read one version while the commit's
  // expectedVersion guard checks another. The base scan's pruned
  // snapshot serves both needs: pruning decided on the O(partitions)
  // root, ONLY the admitted groups' blobs hydrated — a keyed SQL
  // MERGE/DELETE on a 100 TB table plans one root + its touched
  // groups' metadata, never the table's (file-level skipping stays
  // off inside admitted groups, per the group contract below).
  private lazy val pinnedManifest: Option[AtomicTable.Manifest] =
    prunedManifest

  override def planInputPartitions(): Array[InputPartition] = {
    val m = pinnedManifest.getOrElse {
      state.readVersion = 0L
      state.scanned = Set.empty
      return Array.empty
    }
    val base = planFromManifest(m).map(_.asInstanceOf[GraftInputPartition])
    val kept = runtimeKeep match {
      case Some(byLevel) => base.filter { p =>
        val segs = p.partValues
        byLevel.forall { case (i, vs) => vs.contains(segs(i)) }
      }
      case None => base
    }
    state.readVersion = m.version
    state.scanned = kept.map(_.partValue).toSet
    kept.map(p => p: InputPartition)
  }
}

/** The write half of a group replace: land the recomputed rows of the
  * scanned partitions, drop the scanned partitions that came back empty,
  * all in one optimistic commit against the version the scan read. */
private[sources] class GraftGroupReplaceWrite(root: String,
    schema: StructType, partitionCol: String, retain: Int, cmd: Command,
    state: GraftGroupState, statsColumns: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil)
    extends BatchWrite {

  private val txn = s"txn-rl-${java.util.UUID.randomUUID().toString.take(12)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new GraftRowLevelWriterFactory(root, txn, schema, partitionCol,
      statsColumns, bloomCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = GraftWriteCommit.pruneAndMap(root, txn, partitionCol, messages)
    val rootPath = Paths.get(root)
    val existedAtRead: Set[String] =
      if (state.readVersion == 0L) Set.empty
      else try AtomicTable.rootAt(rootPath, state.readVersion).partitions.keySet
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          throw new java.util.ConcurrentModificationException(
            s"version ${state.readVersion} this rewrite read aged out of " +
              s"$root's retention window before it could commit")
      }
    // an output row landing in an existing partition the scan did NOT
    // read means the op moved rows across partitions (UPDATE SET on the
    // partition column): those partitions must keep their current rows,
    // so the moved rows APPEND (the partition's dir list grows) while
    // the scanned partitions replace — one atomic commit, optimistic
    // against the version the scan read, so no concurrent writer's work
    // on the move targets can be clobbered. Brand-new partition values
    // (MERGE inserts, moves to fresh keys) land as plain writes.
    val moved = staged.written.keySet
      .filter(p => !state.scanned(p) && existedAtRead(p))
    AtomicTable.commitManifest(rootPath, staged.written,
      newStats = GraftWriteCommit.mergedStats(schema, statsColumns, messages),
      dropPartitions = state.scanned -- staged.written.keySet,
      retain = retain, expectedVersion = Some(state.readVersion),
      operation = cmd.name.toLowerCase,
      appends = moved, statsSchema = Some(schema),
      newFiles = staged.files,
      newFileStats = GraftWriteCommit.fileStats(staged, messages))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(root, "data", txn)
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

/** Task-side adapter for the ReplaceData row shape: when the operation
  * declares no metadata attributes, Spark 4 hands the writer the RAW
  * query output with the `__row_operation` metrics column PREPENDED
  * (the projecting task only engages for writers with metadata
  * projections — verified against the analyzed UPDATE/MERGE plans:
  * `Project [N AS __row_operation, <table columns>]`). Strip it before
  * the real writer; anything else shape-wise is a loud error, never a
  * misaligned write. */
private[sources] class GraftRowLevelWriterFactory(root: String, txn: String,
    schema: StructType, partitionCol: String, statsColumns: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val inner = new GraftDataWriter(root, txn, schema, partitionCol,
      partitionId, taskId, statsColumns, bloomCols)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val strip = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, 1 to schema.length)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == schema.length) inner.write(row)
        else if (row.numFields == schema.length + 1) {
          strip.project(row)
          inner.write(strip)
        } else throw new IllegalStateException(
          s"row-level write row has ${row.numFields} fields for a " +
            s"${schema.length}-column table — unexpected ReplaceData shape")
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

/** V2-predicate → partition-key-set extraction, shared by the runtime
  * group filter and [[GraftTable]]'s metadata-only `SupportsDeleteV2`. */
private[sources] object GraftV2Predicates {

  private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
    case _ => None
  }
  private def litOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    // a NULL literal must NOT extract: String.valueOf(null) is the text
    // "null", which would wrongly match a partition whose value IS that
    // text — unextractable falls to the row-level path, always safe.
    // DATE literals carry their INTERNAL form (epoch days) — rendered
    // ISO to match the dir encoding; String.valueOf would produce
    // "18263", match no segment, and silently no-op the narrowed DML /
    // zero out a DPP keep-set.
    case l: Literal[_] if l.value != null =>
      l.dataType() match {
        case org.apache.spark.sql.types.DateType =>
          scala.util.Try(java.time.LocalDate.ofEpochDay(
            l.value.asInstanceOf[Number].longValue()).toString).toOption
        case _ => Some(String.valueOf(l.value))
      }
    case _ => None
  }

  /** The explicit partition values predicate `p` pins `partitionCol` to
    * (=, IN, OR-of-those), None when it constrains anything else — in
    * which case it cannot be used to narrow, or (for metadata deletes)
    * the delete is not metadata-only. */
  def valuesFor(p: Predicate, partitionCol: String): Option[Set[String]] =
    p.name() match {
      case "=" | "<=>" => p.children() match {
        case Array(a, b) =>
          (fieldOf(a), litOf(b), litOf(a), fieldOf(b)) match {
            case (Some(c), Some(v), _, _) if c == partitionCol => Some(Set(v))
            case (_, _, Some(v), Some(c)) if c == partitionCol => Some(Set(v))
            case _ => None
          }
        case _ => None
      }
      case "IN" => p.children().toSeq match {
        case (head +: tail) if fieldOf(head).contains(partitionCol) =>
          val vs = tail.flatMap(litOf)
          if (vs.length == tail.length) Some(vs.toSet) else None
        case _ => None
      }
      case "OR" => p.children() match {
        case Array(a: Predicate, b: Predicate) =>
          for (x <- valuesFor(a, partitionCol); y <- valuesFor(b, partitionCol))
            yield x union y
        case _ => None
      }
      case "AND" => p.children() match {
        case Array(a: Predicate, b: Predicate) =>
          for (x <- valuesFor(a, partitionCol); y <- valuesFor(b, partitionCol))
            yield x intersect y
        case _ => None
      }
      case _ => None
    }

  /** The manifest keys of `keys` predicate `p` admits when it pins ONE
    * of the partition columns — tested against that column's segment of
    * the composite key. None when `p` constrains anything else. */
  private def keysMatching(p: Predicate, pcols: Seq[String],
      keys: Set[String]): Option[Set[String]] =
    pcols.zipWithIndex.view.flatMap { case (c, i) =>
      valuesFor(p, c).map(vs => keys.filter(k =>
        vs.contains(graft.etl.AtomicTable.partKeyValues(k, pcols.size)(i))))
    }.headOption

  /** Partition keys of `keys` a conjunction of predicates matches, when
    * EVERY predicate is expressible over one partition column alone
    * (ALWAYS_TRUE allowed — that is TRUNCATE): the metadata-only DELETE
    * contract, per level on multi-level tables (`DELETE WHERE ym='x'`
    * drops every composite with that ym segment). None → not
    * metadata-only, fall to the row-level path. */
  def partitionsFor(predicates: Array[Predicate], partitionCol: String,
      keys: Set[String]): Option[Set[String]] = {
    val pcols = graft.etl.AtomicTable.partCols(partitionCol)
    predicates.foldLeft(Option(keys)) { (acc, p) =>
      for {
        a <- acc
        s <- if (p.name() == "ALWAYS_TRUE") Some(keys)
             else keysMatching(p, pcols, keys)
      } yield a intersect s
    }
  }
}
