package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._

/** `columnar` is a PER-SCAN decision made by the planner (Spark forbids
  * mixing columnar and row input partitions in one scan): true only
  * when every required type vectorizes AND no partition of the scan
  * carries outstanding delete vectors — vectors subtract rows at read,
  * which the row reader does per row and the columnar path does not
  * attempt (the maintenance contract folds vectors, so steady-state
  * scans are columnar). */
private[sources] class GraftReaderFactory(required: StructType,
    renames: Map[String, Seq[String]] = Map.empty,
    columnar: Boolean = false,
    colTypes: Map[String, DataType] = Map.empty)
    extends PartitionReaderFactory {
  // one holder per deserialized factory = per (task, scan): every
  // reader this factory creates in a task tallies into it, so polls
  // are cumulative across a key group's sequential readers without
  // bleeding into the OTHER scan of a zero-exchange join task
  @transient private lazy val taskCtr = new GraftTaskDecodeCounters.Holder

  // the ROW path decodes VECTORIZED too: a scan plans row-based because
  // SOME partition carries delete vectors (or it is a stream scan), and
  // every partition keeps the columnar decode — DV subtraction probes
  // the batch's key vectors per row
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftVectorizedRowReader(p.asInstanceOf[GraftInputPartition],
      required, renames, colTypes, taskCtr)
  override def supportColumnarReads(p: InputPartition): Boolean = columnar
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    require(gp.vectorFiles.isEmpty,
      "columnar scan planned over a vector-carrying partition")
    new GraftColumnarPartitionReader(gp, required, renames, ctr = taskCtr)
  }
}

/** Row-emitting reader over the VECTORIZED decode: batches come from a
  * [[GraftColumnarPartitionReader]] over (required ++ the partition's
  * delete-key columns), delete-vector subtraction probes the key
  * column vectors per row, and surviving rows hand out as the batch's
  * mutable row view restricted to the required width. This is what
  * every row-based scan reads through: the decode stays columnar even
  * though the scan reports rows — Spark forbids mixing columnar and row
  * partitions in one scan, and a ColumnarBatch cannot subtract keys. */
private[sources] class GraftVectorizedRowReader(part: GraftInputPartition,
    required: StructType, renames: Map[String, Seq[String]],
    colTypes: Map[String, DataType],
    ctr: GraftTaskDecodeCounters.Holder = new GraftTaskDecodeCounters.Holder)
    extends PartitionReader[InternalRow] {
  GraftVectorizedRowReader.opened.incrementAndGet()

  // key columns ride the batch only while vectors are outstanding
  private val extraKeys: Seq[StructField] =
    if (part.vectorFiles.isEmpty) Nil
    else part.keyCols.filterNot(required.fieldNames.contains)
      .map(c => StructField(c, colTypes(c)))
  private val extended = StructType(required.fields ++ extraKeys)
  private val inner =
    new GraftColumnarPartitionReader(part, extended, renames, countRows = false)
  private val keyOrds: Array[Int] =
    if (part.vectorFiles.isEmpty) Array.empty
    else part.keyCols.map(extended.fieldNames.indexOf(_)).toArray
  private val deleted = GraftVectorizedRowReader.deletedKeysFor(part,
    StructType(keyOrds.map(i => StructField(extended(i).name,
      extended(i).dataType))), renames)
  // the probe renders a batch row's key tuple in the SAME UnsafeRow
  // layout the vector decode stores, so content equality is key equality
  private val probe = UnsafeProjection.create(keyOrds.toSeq.map(i =>
    BoundReference(i, extended(i).dataType, nullable = true)))

  private var wrapper: org.apache.spark.sql.vectorized.ColumnarBatch = _
  private var reqBatch: org.apache.spark.sql.vectorized.ColumnarBatch = _
  private var nRows = 0
  private var rowId = 0
  private var current = 0

  private def isDeleted(row: Int): Boolean =
    !deleted.isEmpty && deleted.contains(probe(wrapper.getRow(row)))

  override def next(): Boolean = {
    while (true) {
      while (rowId < nRows) {
        if (!isDeleted(rowId)) {
          current = rowId; rowId += 1; ctr.vecRow += 1
          return true
        }
        rowId += 1
        ctr.dv += 1
      }
      if (!inner.next()) return false
      val w = inner.get()
      if (w ne wrapper) { // new file: rebuild the required-width view
        wrapper = w
        reqBatch = new org.apache.spark.sql.vectorized.ColumnarBatch(
          Array.tabulate(required.length)(w.column(_)
            : org.apache.spark.sql.vectorized.ColumnVector))
      }
      nRows = w.numRows()
      reqBatch.setNumRows(nRows)
      rowId = 0
    }
    false
  }

  override def get(): InternalRow = reqBatch.getRow(current)
  override def close(): Unit = inner.close()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ctr.values
}

private[sources] object GraftVectorizedRowReader {
  /** Test instrumentation: readers opened on the vectorized row path. */
  private[graft] val opened = new java.util.concurrent.atomic.AtomicLong(0L)

  private val EmptyKeys = new java.util.HashSet[UnsafeRow]()

  /** The partition's deleted-key set: every key tuple of its vector
    * files, decoded through the same [[GraftColumnarPartitionReader]]
    * as the data — key columns at the table's declared types (`keys`),
    * resolved through the same rename aliases (vector files are written
    * under the THEN-current key names), partition-column keys as the
    * partition's constant — and held as UnsafeRows, which compare by
    * content. A tuple holding a null is dropped: like the equi
    * anti-join of `MergeInto.readMerged`, a null key deletes nothing. */
  private[sources] def deletedKeysFor(part: GraftInputPartition,
      keys: StructType, renames: Map[String, Seq[String]])
      : java.util.HashSet[UnsafeRow] = {
    if (part.vectorFiles.isEmpty) return EmptyKeys
    deletedKeys(part.vectorFiles.mkString(",") + "#" + keys.catalogString,
      () => {
        val s = new java.util.HashSet[UnsafeRow]()
        val proj = UnsafeProjection.create(keys)
        val r = new GraftColumnarPartitionReader(
          part.copy(dataFiles = part.vectorFiles, vectorFiles = Nil),
          keys, renames, countRows = false)
        try while (r.next()) {
          val it = r.get().rowIterator()
          while (it.hasNext) {
            val k = proj(it.next())
            if (!k.anyNull) s.add(k.copy())
          }
        } finally r.close()
        s
      })
  }

  // (vector-file list, key schema) -> decoded key set. CACHED
  // process-wide: every SPLIT of a partition shares the same vectors,
  // and one split per data file means a 100-file partition would
  // otherwise re-read them 100 times per scan (100 object-store GETs
  // each at scale). Vector files are immutable once committed and a new
  // vector commit changes the LIST, so entries never go stale; keys are
  // small by the maintenance contract (materializeDeletes folds them),
  // and the cache evicts wholesale at a coarse cap as a leak backstop.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.HashSet[UnsafeRow]]()
  private val MaxEntries = 256

  /** Test instrumentation: number of cache-miss vector LOADS (each one
    * reads every vector file of one partition). */
  private[graft] val loads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def deletedKeys(key: String,
      load: () => java.util.HashSet[UnsafeRow]): java.util.HashSet[UnsafeRow] = {
    val hit = cache.get(key)
    if (hit != null) return hit
    // eviction OUTSIDE the compute function (mutating a CHM inside its
    // own computeIfAbsent is forbidden); computeIfAbsent then runs the
    // decode ONCE even when a partition's splits all miss concurrently
    // — concurrent tasks block briefly on the per-key load instead of
    // issuing duplicate vector reads
    if (cache.size >= MaxEntries) cache.clear()
    cache.computeIfAbsent(key, _ => {
      loads.incrementAndGet()
      load()
    })
  }

  private[graft] def clearDvCache(): Unit = {
    cache.clear()
    loads.set(0L)
  }
}
