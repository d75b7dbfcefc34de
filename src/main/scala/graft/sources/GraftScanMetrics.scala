package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** Driver-side DSv2 custom metrics for the graft scan: every pruning
  * tier reports what it skipped, per granularity and per mechanism, so
  * the SQL UI shows WHY a 100 TB table planned as three files — the
  * observability twin of the spec-pinned skipping contracts. All sums:
  * Spark aggregates one value per scan node (driver metrics arrive as a
  * single synthetic task update).
  *
  * Each metric is its own TOP-LEVEL class with a zero-arg constructor:
  * the SQL UI listener re-instantiates metric classes reflectively to
  * aggregate values (`CustomMetrics.buildV2CustomMetricTypeName` /
  * SQLAppStatusListener), so a parameterized shared class would make
  * every aggregation throw.
  *
  * Naming: `partitions` are table partitions (manifest keys), `files`
  * are committed data files. "static" = decided from pushed filters
  * against manifest metadata at plan time; "runtime" = decided from
  * join-side values delivered through SupportsRuntimeV2Filtering (DPP
  * and runtime zone-map/bloom skipping). */
private[sources] object GraftScanMetrics {
  val PartitionsPlanned = "partitionsPlanned"
  val PartitionsSkippedStatic = "partitionsSkippedStatic"
  val PartitionsSkippedRuntime = "partitionsSkippedRuntime"
  val FilesPlanned = "filesPlanned"
  val FilesSkippedPartition = "filesSkippedPartition"
  val FilesSkippedZoneMap = "filesSkippedZoneMap"
  val FilesSkippedBloom = "filesSkippedBloom"
  val FilesSkippedRuntime = "filesSkippedRuntime"
  val FilesSkippedLimit = "filesSkippedLimit"
  val BytesPlanned = "bytesPlanned"
  // task-side (executor) metrics: which decode path the surviving
  // bytes actually took, and what the delete vectors subtracted
  val RowsColumnar = "rowsDecodedColumnar"
  val RowsVectorizedRow = "rowsDecodedVectorizedRow"
  val DvRowsSubtracted = "dvRowsSubtracted"

  /** The scan's advertised metric set (order is display order). */
  def all: Array[CustomMetric] = Array(
    new PartitionsPlannedMetric, new PartitionsSkippedStaticMetric,
    new PartitionsSkippedRuntimeMetric, new FilesPlannedMetric,
    new FilesSkippedPartitionMetric, new FilesSkippedZoneMapMetric,
    new FilesSkippedBloomMetric, new FilesSkippedRuntimeMetric,
    new FilesSkippedLimitMetric, new BytesPlannedMetric,
    new RowsColumnarMetric, new RowsVectorizedRowMetric,
    new DvRowsSubtractedMetric)

  final case class Value(metricName: String, metricValue: Long)
      extends CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = metricValue
  }
}

/** Per-(task × scan) decode counters. Spark polls
  * `currentMetricsValues` and SETS the task accumulator to the
  * reported value (CustomMetrics.updateMetrics), and a key-grouped
  * scan packs several input partitions — several readers, sequentially
  * — into ONE task: a per-reader counter would be overwritten by each
  * successive reader's poll. All readers a task creates FROM ONE
  * FACTORY share a holder (the factory deserializes fresh per task, so
  * its instance IS the task×scan scope), so the last poll always
  * carries that scan's full task tally. The scope must NOT be the
  * whole task: a storage-partitioned zero-exchange join runs BOTH
  * sides' readers in one task, and a task-wide holder would report
  * each side's metric as the combined total. */
private[sources] object GraftTaskDecodeCounters {
  final class Holder {
    var columnar = 0L
    var vecRow = 0L
    var dv = 0L
    def values: Array[CustomTaskMetric] = Array(
      GraftScanMetrics.Value(GraftScanMetrics.RowsColumnar, columnar),
      GraftScanMetrics.Value(GraftScanMetrics.RowsVectorizedRow, vecRow),
      GraftScanMetrics.Value(GraftScanMetrics.DvRowsSubtracted, dv))
  }
}

private[sources] class PartitionsPlannedMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.PartitionsPlanned
  override def description(): String = "partitions planned"
}
private[sources] class PartitionsSkippedStaticMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.PartitionsSkippedStatic
  override def description(): String = "partitions skipped (key/zone-map)"
}
private[sources] class PartitionsSkippedRuntimeMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.PartitionsSkippedRuntime
  override def description(): String = "partitions skipped (DPP/runtime)"
}
private[sources] class FilesPlannedMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesPlanned
  override def description(): String = "files planned"
}
private[sources] class FilesSkippedPartitionMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesSkippedPartition
  override def description(): String = "files inside skipped partitions"
}
private[sources] class FilesSkippedZoneMapMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesSkippedZoneMap
  override def description(): String = "files skipped (zone map)"
}
private[sources] class FilesSkippedBloomMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesSkippedBloom
  override def description(): String = "files skipped (bloom)"
}
private[sources] class FilesSkippedRuntimeMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesSkippedRuntime
  override def description(): String = "files skipped (runtime zone-map/bloom)"
}
private[sources] class FilesSkippedLimitMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesSkippedLimit
  override def description(): String = "files skipped (LIMIT/TopN)"
}
private[sources] class BytesPlannedMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.BytesPlanned
  override def description(): String = "bytes planned (manifest estimate)"
}
private[sources] class RowsColumnarMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.RowsColumnar
  override def description(): String = "rows decoded (columnar batches)"
}
private[sources] class RowsVectorizedRowMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.RowsVectorizedRow
  override def description(): String = "rows decoded (vectorized row path)"
}
private[sources] class DvRowsSubtractedMetric extends CustomSumMetric {
  override def name(): String = GraftScanMetrics.DvRowsSubtracted
  override def description(): String = "rows subtracted by delete vectors"
}
