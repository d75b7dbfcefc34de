package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** COLUMNAR leaf decode for the `graft` DSv2 format.
  *
  * Every pruning tier above the leaf — partition keys, zone maps, bloom
  * bundles, DPP, runtime zone-map skipping — is built for 100 TB, but
  * until this reader the bytes that SURVIVED pruning were materialized
  * row-at-a-time through parquet-mr's example `Group` API: one heap
  * object tree per row, no dictionary exploitation, and a forced
  * row-by-row handoff into Spark. This reader instead drives Spark's
  * own [[VectorizedParquetRecordReader]] (the engine behind
  * `spark.read.parquet`) and hands the query [[ColumnarBatch]]es, so
  * graft SQL scans enter the same columnar → whole-stage-codegen
  * physical pipeline as native parquet scans.
  *
  * Schema evolution stays metadata-only at the BATCH level:
  *  - RENAME: each file's footer resolves a declared column to the
  *    newest historical alias the file carries, and the per-file
  *    requested schema is built under FILE-side names — the returned
  *    vectors are positional, so the current name never has to exist
  *    inside the file.
  *  - ADD: a column the file predates is requested under its current
  *    name and the vectorized reader null-fills it (Spark's standard
  *    missing-column path).
  *  - Type widening (INT32 → LONG, FLOAT → DOUBLE): Spark 4's
  *    `ParquetVectorUpdater` family reads the stored primitive into the
  *    requested wider vector, the same cast contract `readEvolved`
  *    applies on the Scala-API path.
  *
  * Partition values and change-feed constants ride as
  * [[ConstantColumnVector]]s in a per-file wrapper batch whose column
  * ORDER is the scan's `required` order (the inner reader only ever
  * sees real file columns).
  *
  * Delete vectors are NOT handled here: a scan over a table with any
  * outstanding vectors plans row-based ([[GraftReaderFactory]] decides
  * per scan — Spark forbids mixing columnar and row partitions in one
  * scan), and [[GraftVectorizedRowReader]] subtracts them per row over
  * this reader's batches. The maintenance contract folds vectors, so
  * steady-state scans are vector-free and columnar. */
private[sources] class GraftColumnarPartitionReader(
    part: GraftInputPartition, required: StructType,
    renames: Map[String, Seq[String]],
    countRows: Boolean = true, // false when nested in the row path,
    // which tallies its own (post-subtraction) rows
    ctr: GraftTaskDecodeCounters.Holder = new GraftTaskDecodeCounters.Holder)
    extends PartitionReader[ColumnarBatch] {

  private val conf = GraftColumnar.readerConf()

  // required index -> typed partition-level constant, resolved by NAME
  // from the manifest's own key form: with schema evolution, "not
  // present in the files" no longer identifies a partition column
  private val partValueAt: Map[Int, Any] = {
    val values = part.partValues
    part.partitionCols.zipWithIndex.flatMap { case (c, lvl) =>
      val i = required.fieldNames.indexOf(c)
      if (i < 0) None
      else Some(i -> (required(i).dataType match {
        case StringType => UTF8String.fromString(values(lvl))
        case LongType => values(lvl).toLong
        case IntegerType => values(lvl).toInt
        case DateType => java.time.LocalDate.parse(values(lvl)).toEpochDay.toInt
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type $other")
      }))
    }.toMap
  }

  /** Constant vectors shared across the split's files: partition values
    * and (CDF scans) the per-commit change columns. */
  private lazy val constantAt: Map[Int, ConstantColumnVector] = {
    val b = Map.newBuilder[Int, ConstantColumnVector]
    partValueAt.foreach { case (j, v) =>
      val cv = new ConstantColumnVector(GraftColumnar.Capacity,
        required(j).dataType)
      v match {
        case s: UTF8String => cv.setUtf8String(s)
        case l: Long => cv.setLong(l)
        case i: Int => cv.setInt(i)
        case other => throw new IllegalArgumentException(
          s"unsupported partition constant $other")
      }
      b += j -> cv
    }
    if (part.changeVersion.isDefined) {
      val t = required.fieldNames.indexOf(graft.etl.ChangeFeed.ChangeTypeCol)
      if (t >= 0) {
        val cv = new ConstantColumnVector(GraftColumnar.Capacity, StringType)
        cv.setUtf8String(UTF8String.fromString("insert"))
        b += t -> cv
      }
      val v = required.fieldNames.indexOf(graft.etl.ChangeFeed.CommitVersionCol)
      if (v >= 0) {
        val cv = new ConstantColumnVector(GraftColumnar.Capacity, LongType)
        cv.setLong(part.changeVersion.get)
        b += v -> cv
      }
    }
    b.result()
  }

  private val files = part.dataFiles.iterator
  private var inner: VectorizedParquetRecordReader = _
  private var wrapper: ColumnarBatch = _
  private var innerBatch: ColumnarBatch = _

  private def openNext(): Boolean = {
    closeInner()
    if (!files.hasNext) return false
    val path = new Path(files.next())
    val inputFile = HadoopInputFile.fromPath(path, conf)
    val footerReader = ParquetFileReader.open(inputFile)
    val footer = try footerReader.getFooter finally footerReader.close()
    val names = footer.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSet
    // per-required-field plan for THIS file: a constant, or a file
    // column under its alias-resolved FILE-side name (absent names stay
    // requested under the current name — the reader null-fills them,
    // the ADD-COLUMN contract). CDF constants only apply to fields the
    // file itself cannot answer.
    val fileFields = Seq.newBuilder[StructField]
    val innerIdxAt = new Array[Int](required.length)
    var k = 0
    required.fields.zipWithIndex.foreach { case (f, j) =>
      val resolved = (f.name +: renames.getOrElse(f.name, Nil))
        .find(names.contains)
      if (partValueAt.contains(j) ||
          (resolved.isEmpty && constantAt.contains(j))) innerIdxAt(j) = -1
      else {
        fileFields += f.copy(name = resolved.getOrElse(f.name))
        innerIdxAt(j) = k
        k += 1
      }
    }
    val requested = StructType(fileFields.result())
    val c = new Configuration(conf)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    val split = new FileSplit(path, 0, inputFile.getLength, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(c,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    // rebase CORRECTED on both counts: graft files are modern-written
    // (no ancient-calendar rebase), so values read back as stored
    inner = new VectorizedParquetRecordReader(null, "CORRECTED", "UTC",
      "CORRECTED", "UTC", GraftColumnar.OffHeap, GraftColumnar.Capacity)
    inner.initialize(split, ctx, Some(inputFile), None, Some(footer))
    innerBatch = inner.resultBatch()
    val vecs = new Array[ColumnVector](required.length)
    required.indices.foreach { j =>
      vecs(j) =
        if (innerIdxAt(j) >= 0) innerBatch.column(innerIdxAt(j))
        else constantAt(j)
    }
    wrapper = new ColumnarBatch(vecs)
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (inner == null && !openNext()) return false
      if (inner.nextBatch()) {
        wrapper.setNumRows(innerBatch.numRows())
        if (countRows) ctr.columnar += innerBatch.numRows()
        return true
      }
      if (!openNext()) return false
    }
    false
  }

  override def get(): ColumnarBatch = wrapper

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ctr.values

  private def closeInner(): Unit =
    if (inner != null) { inner.close(); inner = null }

  override def close(): Unit = {
    closeInner()
    constantAt.valuesIterator.foreach(_.close())
  }
}

private[sources] object GraftColumnar {
  /** Rows per ColumnarBatch — Spark's own parquet default. */
  val Capacity = 4096
  val OffHeap = false

  /** Can the vectorized reader produce `dt`? Everything the engine
    * declares today qualifies (atomic + nested-of-atomic). A scan that
    * needs any other type (interval, UDT, variant) plans row-based —
    * columnar-vs-row is a per-scan decision — and its reader rejects
    * the type. */
  def vectorizable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case ArrayType(e, _) => vectorizable(e)
    case s: StructType => s.fields.forall(f => vectorizable(f.dataType))
    case MapType(kt, vt, _) => vectorizable(kt) && vectorizable(vt)
    case _ => false
  }

  /** The Hadoop conf a bare [[VectorizedParquetRecordReader]] needs:
    * `SpecificParquetRecordReaderBase.initialize` rebuilds Spark's
    * parquet-to-catalyst converter from these SQLConf keys (Spark's own
    * scans copy them from the session; a DSv2 executor task has no
    * session to copy from, so the defaults are pinned here — binary is
    * BINARY, INT96 is a timestamp, names resolve case-insensitively,
    * exactly the session defaults the Scala-API read path uses). */
  def readerConf(): Configuration = {
    val c = new Configuration()
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    c.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    c.set(SQLConf.CASE_SENSITIVE.key, "false")
    c.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    c.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    c
  }
}
