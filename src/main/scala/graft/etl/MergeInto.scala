package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Row-level MERGE INTO / DELETE for [[AtomicTable]] — the Delta-style
  * copy-on-write rewrite, with cost bounded by the partitions actually
  * touched instead of table size. This is the warehouse-level lift of
  * the reference's per-row upsert (`/root/reference/src/load.py:60-98`
  * SELECTs each key then INSERTs or UPDATEs through SQLAlchemy): same
  * keyed-upsert semantics, but expressed as one declarative anti-join +
  * union over only the affected partitions, swapped in atomically.
  *
  * 100 TB shape: (1) the touched-partition set comes from the updates
  * frame (bounded collect of distinct partition VALUES, not rows);
  * (2) only those partitions are read back — a manifest-level selection
  * ([[AtomicTable.readPartitions]]), no file listing or scan elsewhere;
  * (3) the rewrite itself is one anti-join (update keys broadcast when
  * small) + union + partitioned write; (4) untouched partitions are
  * carried BY REFERENCE in the new manifest (same data dirs — zero
  * bytes moved); (5) the commit is optimistic (`expectedVersion`): a
  * concurrent writer landing between the read and the swap aborts this
  * rewrite with ConcurrentModificationException instead of silently
  * undoing the other writer's rows, and the staged dir ages out through
  * vacuum. DELETE is the right-to-be-forgotten primitive a training
  * corpus needs: removing one user's documents rewrites only the
  * partitions that held them, and partitions left empty drop out of the
  * manifest in the same atomic commit.
  *
  * Contract: a key's partition value must be stable (partition derives
  * from immutable row attributes — the standard warehouse layout).
  * An "update" whose key lives in a partition not present in `updates`
  * under that key's CURRENT value would append a second copy instead of
  * replacing; that is the same discipline Hive/Iceberg static-partition
  * overwrites require. */
object MergeInto {

  /** Distinct partition keys of `rows`, as the manifest's string form
    * (one bounded collect — values, not rows; multi-level specs build
    * the composite key). */
  private def partitionValues(rows: DataFrame, partitionCol: String): Set[String] = {
    val pcols = AtomicTable.partCols(partitionCol)
    // SYNTHETIC levels (bucket/transform specs) are not data columns —
    // derive each missing level's dir value exactly like the writers do
    // (same murmur3 bucket, same pinned-UTC date_format), so a keyed
    // DML on a bucketed/time-partitioned table locates its segments
    val withLevels = pcols.foldLeft(rows) { (df, c) =>
      if (df.columns.contains(c)) df
      else AtomicTable.syntheticLevelColumn(c, df.schema) match {
        case Some(e) => df.withColumn(c, e)
        case None => df // unknown level: resolution fails loudly below
      }
    }
    withLevels.select(pcols.map(c => col(c).cast("string")): _*).distinct()
      .collect()
      .map(r => AtomicTable.partKey(pcols.indices.map(r.getString)))
      .toSet
  }

  /** The current merged state of the listed partitions: the data files
    * minus their delete vectors — what every copy-on-write rewrite here
    * must start from (reading the raw files would resurrect
    * vector-deleted keys in the rewritten partitions). */
  private def mergedPartitions(spark: SparkSession, table: String,
      schema: StructType, parts: Set[String]): DataFrame =
    AtomicTable.manifest(java.nio.file.Paths.get(table)) match {
      case None => AtomicTable.readPartitions(spark, table, schema, parts)
      case Some(m) => AtomicTable.subtractDeletes(spark, table, schema, m,
        AtomicTable.readPartitions(spark, table, schema, parts), Some(parts))
    }

  /** How many distinct key values the zone-map locate will collect to
    * the driver before falling back to the full locate scan — bounds
    * driver memory, not correctness. */
  private val MaxLocateKeys = 1 << 17

  /** The frame a no-partition key locate scans: the merged state,
    * ZONE-MAP-BOUNDED when the manifest tracks min/max for the leading
    * key column — partitions whose bounds admit none of the keys are
    * dropped from METADATA before any file is listed
    * ([[AtomicTable.admitPartitions]]). On a table clustered by the key
    * (range partitioning, z-order) this turns "where do these keys
    * live" from a table scan into a read of the few admitting
    * partitions; on an unclustered table every partition admits and it
    * degrades to exactly the old full scan. Falls back when the key
    * set exceeds [[MaxLocateKeys]] (the bound is a driver-side
    * collect) or no partition tracks the column. */
  private def locateFrame(spark: SparkSession, table: String,
      schema: StructType, keys: DataFrame, keyCols: Seq[String]): DataFrame = {
    val statsCol = keyCols.head
    AtomicTable.manifest(java.nio.file.Paths.get(table)) match {
      case Some(m) if m.stats.valuesIterator.exists(_.mins.contains(statsCol)) =>
        val vals = keys.select(col(statsCol).cast("string")).distinct()
          .limit(MaxLocateKeys + 1).collect().map(_.getString(0)).toSeq
        if (vals.length > MaxLocateKeys) readMerged(spark, table, schema)
        else mergedPartitions(spark, table, schema,
          AtomicTable.admitPartitions(m, schema, statsCol, vals))
      case _ => readMerged(spark, table, schema)
    }
  }

  /** MERGE (upsert): rows of `updates` replace current rows with the
    * same `keyCols`; unmatched keys are inserted. Only the partitions
    * present in `updates` are rewritten. Returns the committed
    * manifest. */
  def upsert(spark: SparkSession, table: String, schema: StructType,
      updates: DataFrame, keyCols: Seq[String], partitionCol: String,
      statsColumns: Seq[String] = Nil, retain: Int = 1,
      beforeCommit: () => Unit = () => ()): AtomicTable.Manifest = {
    val root = java.nio.file.Paths.get(table)
    val readVersion = AtomicTable.currentVersion(root).getOrElse(0L)
    val cols = schema.fieldNames.toSeq
    val upd = updates.select(cols.map(col): _*)
    val affected = partitionValues(upd, partitionCol)
    val current = mergedPartitions(spark, table, schema, affected)
    val survivors = current.join(
      broadcast(upd.select(keyCols.map(col): _*).distinct()), keyCols, "left_anti")
    AtomicTable.replacePartitions(spark, table,
      survivors.unionByName(upd), partitionCol,
      statsColumns = statsColumns, retain = retain,
      expectedVersion = Some(readVersion), beforeCommit = beforeCommit,
      operation = "merge")
  }

  /** CDC batch apply: one atomic commit for a change batch that mixes
    * upserts and deletes. `changes` carries the payload columns of
    * `schema` (including the key and partition columns) plus `opCol`
    * (row op; equal to `deleteOp` ⇒ delete the key, anything else ⇒
    * upsert) and `seqCols` — columns whose lexicographic order totally
    * orders each key's changes WITHIN the batch (e.g. a change
    * timestamp plus a unique change id), so multi-change-per-key
    * batches resolve to last-writer-wins deterministically. Both the
    * upserts and the deletes land in ONE manifest swap — a reader (or a
    * crash) can never observe the deletes without the upserts — and
    * `properties` rides the same commit, which is what lets a streaming
    * caller make the apply exactly-once
    * ([[graft.streaming.Streams.cdcApplyCommit]]). */
  def applyChanges(spark: SparkSession, table: String, schema: StructType,
      changes: DataFrame, keyCols: Seq[String], partitionCol: String,
      opCol: String, seqCols: Seq[String], deleteOp: String = "d",
      properties: Map[String, String] = Map.empty, retain: Int = 1,
      beforeCommit: () => Unit = () => ()): AtomicTable.Manifest = {
    val root = java.nio.file.Paths.get(table)
    val readVersion = AtomicTable.currentVersion(root).getOrElse(0L)
    // last writer per key: max over struct(seqCols..., op, payload...) —
    // seqCols lead the lexicographic compare; the trailing fields only
    // break ties seqCols failed to (and make the pick deterministic
    // even then). One partial-aggregated shuffle on the key.
    val payload = schema.fieldNames.toSeq
    val ordered = seqCols ++ (opCol +: payload.filterNot(seqCols.contains))
    val latest = changes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("w"))
      .select(keyCols.map(col) ++
        Seq(col(s"w.$opCol").as(opCol)) ++
        payload.filterNot(keyCols.contains).map(c => col(s"w.$c").as(c)): _*)
    val affected = partitionValues(latest, partitionCol)
    val current = mergedPartitions(spark, table, schema, affected)
    val survivors = current.join(
      broadcast(latest.select(keyCols.map(col): _*).distinct()),
      keyCols, "left_anti")
    val merged = survivors.unionByName(
      latest.filter(col(opCol) =!= lit(deleteOp)).select(payload.map(col): _*))
    val stillThere = partitionValues(merged, partitionCol)
    AtomicTable.replacePartitions(spark, table, merged, partitionCol,
      retain = retain, dropPartitions = affected -- stillThere,
      properties = properties,
      expectedVersion = Some(readVersion), beforeCommit = beforeCommit,
      operation = "cdc")
  }

  /** DELETE by key: remove every current row matching a row of `keys`
    * on `keyCols`. If `keys` carries the partition column the rewrite
    * prunes to those partitions from metadata alone (the fast path —
    * callers that know where their keys live, e.g. date-scoped
    * retention); otherwise ONE scan of the table locates the affected
    * partitions first (the no-index path — unavoidable without a
    * key→partition index, and still rewrites only partitions that
    * matched). Partitions left empty are dropped from the manifest in
    * the same commit. */
  def deleteKeys(spark: SparkSession, table: String, schema: StructType,
      keys: DataFrame, keyCols: Seq[String], partitionCol: String,
      statsColumns: Seq[String] = Nil, retain: Int = 1,
      beforeCommit: () => Unit = () => ()): AtomicTable.Manifest = {
    val root = java.nio.file.Paths.get(table)
    val readVersion = AtomicTable.currentVersion(root).getOrElse(0L)
    val pcols = AtomicTable.partCols(partitionCol)
    val hasPartCols = pcols.forall(keys.columns.contains)
    val keyFrame = keys.select(
      (if (hasPartCols) keyCols ++ pcols
       else keyCols).distinct.map(col): _*).distinct()
    val affected: Set[String] =
      if (hasPartCols)
        partitionValues(keyFrame, partitionCol)
      else partitionValues(
        locateFrame(spark, table, schema, keyFrame, keyCols)
          .join(broadcast(keyFrame), keyCols, "left_semi"), partitionCol)
    val current = mergedPartitions(spark, table, schema, affected)
    val survivors = current.join(
      broadcast(keyFrame.select(keyCols.map(col): _*).distinct()),
      keyCols, "left_anti")
    // partitions whose every row matched vanish from `survivors`; drop
    // them in the same atomic commit (bounded collect: affected values)
    val stillThere = partitionValues(survivors, partitionCol)
    AtomicTable.replacePartitions(spark, table, survivors, partitionCol,
      statsColumns = statsColumns, retain = retain,
      dropPartitions = affected -- stillThere,
      expectedVersion = Some(readVersion), beforeCommit = beforeCommit,
      operation = "delete")
  }

  /** UPDATE ... SET: rewrite every current row matching `condition`
    * with the `set` expressions applied (non-matching rows in the same
    * partitions are carried through the rewrite unchanged; other
    * partitions are untouched by reference). Needs NO key columns —
    * identity is positional within the copy-on-write rewrite — and the
    * partition column may not be assigned (an update that moves rows
    * between partitions is a delete + insert, semantically different
    * and better said that way). Cost: one merged locate scan + a
    * rewrite of only the partitions holding matches. */
  def updateWhere(spark: SparkSession, table: String, schema: StructType,
      condition: org.apache.spark.sql.Column, set: Map[String, org.apache.spark.sql.Column],
      partitionCol: String, statsColumns: Seq[String] = Nil,
      retain: Int = 1): AtomicTable.Manifest = {
    AtomicTable.partCols(partitionCol).foreach(c => require(!set.contains(c),
      s"UPDATE may not assign the partition column '$c' " +
        "(moving a row between partitions is a delete + insert)"))
    val unknown = set.keySet -- schema.fieldNames
    require(unknown.isEmpty, s"SET columns absent from the schema: $unknown")
    val root = java.nio.file.Paths.get(table)
    val readVersion = AtomicTable.currentVersion(root).getOrElse(0L)
    val affected = partitionValues(
      readMerged(spark, table, schema).filter(condition), partitionCol)
    if (affected.isEmpty)
      return AtomicTable.manifest(root).getOrElse(AtomicTable.Manifest(0L, Map.empty))
    val current = mergedPartitions(spark, table, schema, affected)
    val rewritten = current.select(schema.map { f =>
      set.get(f.name) match {
        case Some(expr) =>
          when(condition, expr.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
    AtomicTable.replacePartitions(spark, table, rewritten, partitionCol,
      statsColumns = statsColumns, retain = retain,
      expectedVersion = Some(readVersion), operation = "update")
  }

  // ---------------------------------------------------------------- MOR

  /** Merge-on-read DELETE (deletion vectors): instead of rewriting the
    * partitions that hold `keys` (the copy-on-write [[deleteKeys]]),
    * commit a small per-partition DELETE VECTOR — a parquet of the
    * deleted key tuples — and leave every data byte where it is.
    * [[readMerged]] subtracts the vectors at read time with one
    * broadcast anti-join; [[materializeDeletes]] folds them back into
    * the data during maintenance. This is the Iceberg v2 / Delta
    * deletion-vector trade: a scattered 1000-key delete against a
    * 100 TB table costs ~one tiny parquet write + a manifest swap,
    * instead of rewriting every partition those keys touch, at the
    * price of one small anti-join per read until the next compaction.
    *
    * Commits are blind appends — no optimistic version check needed:
    * a vector is a statement about KEYS, not about file contents, so it
    * composes with any concurrent commit (the claim loop re-merges; a
    * concurrent rewrite that was derived from the pre-vector state
    * aborts on ITS `expectedVersion`, not this one). Keys may carry the
    * partition column (fast path: vector placement from the frame
    * alone) or not (one merged scan locates the partitions). */
  def deleteKeysMor(spark: SparkSession, table: String, schema: StructType,
      keys: DataFrame, keyCols: Seq[String], partitionCol: String,
      properties: Map[String, String] = Map.empty,
      retain: Int = 1): AtomicTable.Manifest = {
    val root = java.nio.file.Paths.get(table)
    AtomicTable.manifest(root).foreach { m =>
      m.properties.get(AtomicTable.DeleteKeysProperty).foreach { prior =>
        require(prior == keyCols.mkString(","),
          s"table $table already has delete vectors keyed by ($prior); " +
            s"a vector keyed by (${keyCols.mkString(",")}) would not compose")
      }
    }
    val pcols = AtomicTable.partCols(partitionCol)
    val keyFrame: DataFrame =
      if (pcols.forall(keys.columns.contains))
        keys.select((keyCols ++ pcols).distinct.map(col): _*).distinct()
      else locateFrame(spark, table, schema, keys, keyCols)
        .join(broadcast(keys.select(keyCols.map(col): _*).distinct()),
          keyCols, "left_semi")
        .select((keyCols ++ pcols).distinct.map(col): _*).distinct()
    // stage the vector exactly like data (immutable parquet under a
    // fresh txn dir, partitioned so each partition's vector is its own
    // small file set), then commit it as a vector append
    val txn = s"txn-${java.util.UUID.randomUUID().toString.take(12)}"
    val txnDir = root.resolve("data").resolve(txn)
    // one vector file per partition (repartition, not coalesce — a
    // coalesce(1) would also strangle the locate scan upstream of it).
    // Keys are stored at the table's DECLARED types, the types the graft
    // scan decodes them at, whatever the types of `keys`.
    keyFrame.select(keyFrame.columns.map(c =>
        col(c).cast(schema(c).dataType).as(c)): _*)
      .repartition(pcols.map(col): _*)
      .write.partitionBy(pcols: _*).parquet(txnDir.toString)
    val written = AtomicTable.stagedPartitionDirs(txnDir, txn, pcols)
    if (written.isEmpty) // nothing matched: no version burned
      return AtomicTable.manifest(root).getOrElse(AtomicTable.Manifest(0L, Map.empty))
    AtomicTable.commitManifest(root, Map.empty,
      properties = properties +
        (AtomicTable.DeleteKeysProperty -> keyCols.mkString(",")),
      retain = retain, newDeletes = written, operation = "delete-vector")
  }

  /** Merge-on-read DELETE WHERE: vector-delete every current row
    * matching `condition` (evaluated against the merged state). */
  def deleteWhereMor(spark: SparkSession, table: String, schema: StructType,
      condition: org.apache.spark.sql.Column, keyCols: Seq[String],
      partitionCol: String): AtomicTable.Manifest =
    deleteKeysMor(spark, table, schema,
      readMerged(spark, table, schema).filter(condition)
        .select((keyCols ++ AtomicTable.partCols(partitionCol))
          .distinct.map(col): _*),
      keyCols, partitionCol)

  /** The table's current MERGED state: data files minus delete vectors.
    * Equal to [[AtomicTable.read]] when no vectors are outstanding. */
  def readMerged(spark: SparkSession, table: String, schema: StructType): DataFrame =
    AtomicTable.manifest(java.nio.file.Paths.get(table)) match {
      case None => AtomicTable.emptyFrame(spark, schema)
      case Some(m) => readMerged(spark, table, schema, m)
    }

  /** The merged state of one already-read manifest `m`, for a caller
    * that also plans from `m` (its delete vectors, its version). */
  private[etl] def readMerged(spark: SparkSession, table: String,
      schema: StructType, m: AtomicTable.Manifest): DataFrame =
    AtomicTable.subtractDeletes(spark, table, schema, m,
      AtomicTable.readManifest(spark, table, schema, m))

  /** Time travel over merged state: the table AS OF `version`, with the
    * delete vectors THAT VERSION carried subtracted (a later vector
    * never leaks into an earlier snapshot — retention pins both the
    * data dirs and the vector dirs of every retained manifest). */
  def readMergedAt(spark: SparkSession, table: String, schema: StructType,
      version: Long): DataFrame = {
    val root = java.nio.file.Paths.get(table)
    val frame = AtomicTable.readAt(spark, table, schema, version)
    AtomicTable.subtractDeletes(spark, table, schema,
      AtomicTable.manifestAt(root, version), frame)
  }

  /** Fold every outstanding delete vector back into the data: rewrite
    * ONLY the partitions that have vectors (survivor rows re-staged,
    * emptied partitions dropped), one atomic commit that also clears
    * the folded vectors. The maintenance half of the merge-on-read
    * trade — run it like compaction, when vectors have accumulated
    * enough to tax the read anti-join. Optimistic: aborts if any
    * writer landed since the fold was derived. */
  def materializeDeletes(spark: SparkSession, table: String,
      schema: StructType, partitionCol: String,
      statsColumns: Seq[String] = Nil): AtomicTable.Manifest = {
    val root = java.nio.file.Paths.get(table)
    val m = AtomicTable.manifest(root).getOrElse(
      return AtomicTable.Manifest(0L, Map.empty))
    val affected = m.deletes.keySet.intersect(m.partitions.keySet)
    if (affected.isEmpty) return m
    val survivors = AtomicTable.subtractDeletes(spark, table, schema, m,
      AtomicTable.readPartitions(spark, table, schema, affected),
      Some(affected))
    val stillThere = partitionValues(survivors, partitionCol)
    AtomicTable.replacePartitions(spark, table,
      survivors.repartition(AtomicTable.partCols(partitionCol).map(col): _*),
      partitionCol,
      statsColumns = statsColumns,
      dropPartitions = affected -- stillThere,
      expectedVersion = Some(m.version), operation = "delete")
  }
}
