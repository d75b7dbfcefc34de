package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.AtomicTable
import graft.functions.HashExprs

/** Incremental MinHash-LSH dedup index: near-dup detection of a NEW batch
  * against an already-ingested corpus without recomputing the corpus.
  *
  * `Dedup.minhashPairs` is the one-shot form (whole corpus self-joined per
  * run). A continuously-ingesting 100 TB pipeline can't re-sign petabytes
  * per batch; it keeps a persistent index and pays per-batch cost
  * proportional to the BATCH:
  *
  *  - `buckets`: (doc_id, n_sh, band, bucket) — four scalars per (doc,
  *    band); the only table the candidate join touches.
  *  - `sigs`: (doc_id, n_sh, signature[32]) — consulted only for the
  *    candidate ids the verify stage actually compares.
  *
  * Both live in [[AtomicTable]]s partitioned by ingest tag, so appends are
  * partition-granular (a batch commit touches one partition) and replays
  * of a failed batch REPLACE their own partition — the same exactly-once
  * idempotency as the streaming sink. Verification is signature agreement
  * (the unbiased MinHash estimate of Jaccard), so the corpus TEXT is never
  * needed again after signing — the index is self-contained and ~100
  * bytes/doc regardless of document size.
  */
object DedupIndex {

  private def bucketsPath(root: String) = s"$root/buckets"
  private def sigsPath(root: String) = s"$root/sigs"

  val bucketSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_sh", IntegerType),
    StructField("band", IntegerType),
    StructField("bucket", IntegerType),
    StructField("ingest", StringType)))

  val sigSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_sh", IntegerType),
    StructField("signature", ArrayType(LongType, containsNull = false)),
    StructField("ingest", StringType)))

  /** Fused text→signature pass (one codegen'd expression per row). */
  def signatures(docs: DataFrame, w: Int = 3): DataFrame = {
    docs.select(col("doc_id"), HashExprs.minhashDoc(col("text"), w,
        Dedup.hashA, Dedup.hashB, Dedup.MinhashP).as("ms"))
      .select(col("doc_id"), col("ms.n_sh").as("n_sh"),
        col("ms.sig").as("signature"))
  }

  /** Commit a batch into the index. Idempotent per `ingest` tag. */
  def append(root: String, docs: DataFrame, ingest: String, w: Int = 3): Unit = {
    val spark = docs.sparkSession
    val sigs = signatures(docs, w).persist()
    try {
      AtomicTable.replacePartitions(spark, sigsPath(root),
        sigs.withColumn("ingest", lit(ingest)), "ingest")
      AtomicTable.replacePartitions(spark, bucketsPath(root),
        Dedup.lshBuckets(sigs).withColumn("ingest", lit(ingest)), "ingest")
      ()
    } finally { sigs.unpersist(); () }
  }

  /** Consolidated-history partition tag — ordered before every batch
    * tag by [[tagOrder]], see [[consolidate]]. */
  val BaseTag = "a-base"

  /** Recency order for ingest tags: the base tag first, then batch tags
    * by their NUMERIC batch id. A plain string sort breaks the moment the
    * zero-padding overflows ("b1000000" < "b999999" lexicographically),
    * and folding the true newest — possibly torn — batch tag into the
    * base would defeat its replay's tag-granular self-exclusion and drop
    * the whole replayed batch as self-duplicates. */
  private[graft] def tagOrder(tag: String): (Int, Long, String) =
    if (tag == BaseTag) (0, 0L, tag)
    else if (tag.startsWith("b") && tag.drop(1).forall(_.isDigit) &&
      tag.length > 1) (1, tag.drop(1).toLong, tag)
    else (2, 0L, tag)

  /** Index maintenance: fold every ingest tag except the `keepRecent`
    * most recent into the one consolidated [[BaseTag]] partition, per
    * table. `keepRecent` must be ≥ 1 so the streaming ingest's LAST
    * batch tag stays partition-granular — its torn-replay idempotency
    * (partition REPLACE by tag + tag-granular match exclusion) depends
    * on that tag still existing as its own partition.
    * A long-running streaming ingest appends ONE partition per batch —
    * unbounded manifest growth and a small-file per batch; consolidation
    * bounds both at (1 + keepRecent) partitions while the recent tags
    * stay partition-granular so their batches' replay idempotency
    * (partition REPLACE by tag) keeps working. The fold+drop lands in a
    * single atomic commit per table, so `matches` sees the old or the
    * new layout, never both — and its results are identical under either
    * (the same rows, different partitioning). Cost ∝ the folded index
    * rows (~100 B/doc), never the corpus. */
  def consolidate(spark: SparkSession, root: String, keepRecent: Int): Unit = {
    require(keepRecent >= 1,
      "keepRecent must be >= 1: the newest batch tag must stay its own " +
        "partition for torn-replay idempotency")
    def one(path: String, schema: StructType): Unit = {
      val m = AtomicTable.manifest(java.nio.file.Paths.get(path))
        .getOrElse(return)
      val tags = m.partitions.keySet
      // the base tag orders BEFORE every batch tag, so it can never be
      // mistaken for a recent batch and is itself re-folded on the next
      // consolidation (one base forever, not one per run)
      val recent = (tags - BaseTag).toSeq.sortBy(tagOrder)
        .takeRight(keepRecent).toSet
      val fold = tags -- recent
      if (fold.size <= 1) return // nothing to gain
      val folded = AtomicTable.read(spark, path, schema)
        .filter(col("ingest").isin(fold.toSeq: _*))
        .withColumn("ingest", lit(BaseTag))
        .repartition(col("ingest"))
      // optimistic: abort (rather than clobber) if any commit — e.g. a
      // concurrent batch append — landed since the manifest was read
      AtomicTable.replacePartitions(spark, path, folded, "ingest",
        dropPartitions = fold, expectedVersion = Some(m.version))
      ()
    }
    one(bucketsPath(root), bucketSchema)
    one(sigsPath(root), sigSchema)
  }

  /** Estimated Jaccard: fraction of agreeing signature positions. */
  private def sigSim(a: String, b: String) =
    expr(s"""aggregate(zip_with($a, $b, (x, y) -> IF(x = y, 1, 0)),
         | 0, (acc, v) -> acc + v)""".stripMargin).cast("double") /
      lit(Dedup.NumHashes.toDouble)

  /** Near-dup matches of `newDocs` against the CURRENT index: one row per
    * (new doc, indexed doc) pair whose bucket collision survives the
    * size-ratio prefilter and signature verification. The corpus side
    * never rescans its text — the candidate join runs on the scalar
    * bucket table, and only candidate ids fetch signatures.
    *
    * `excludeIngest`: ignore index entries committed under this ingest
    * tag. A replaying batch passes its OWN tag so a torn previous attempt
    * (index partition appended, corpus commit lost) does not match the
    * half-committed signatures and drop every document as a duplicate of
    * itself. The exclusion is tag-granular, not doc_id-granular: a
    * document REDELIVERED in a later batch still matches its previously
    * committed signature (different tag) and is correctly rejected. The
    * filter is on the partition column, so it prunes at the scan. */
  def matches(spark: SparkSession, root: String, newDocs: DataFrame,
      threshold: Double = 0.5, w: Int = 3,
      excludeIngest: Option[String] = None): DataFrame = {
    // eager localCheckpoint, not persist: the returned frame references the
    // new batch's signatures twice (bucket side + verify side), and a
    // persist here could never be released — the caller's result would
    // still depend on the cached plan. The checkpoint computes signatures
    // once and its blocks are freed by the ContextCleaner when the result
    // frame is dropped (no spark.catalog.clearCache needed).
    val newSigs = signatures(newDocs, w).localCheckpoint(true)
    val newBuckets = Dedup.lshBuckets(newSigs)
      .select(col("band"), col("bucket"),
        col("doc_id").as("new_id"), col("n_sh").as("n_new"))
    val notExcluded = (df: DataFrame) =>
      excludeIngest.fold(df)(tag => df.filter(col("ingest") =!= tag))
    val indexed = notExcluded(AtomicTable.read(spark, bucketsPath(root), bucketSchema))
      .select(col("band"), col("bucket"),
        col("doc_id").as("idx_id"), col("n_sh").as("n_idx"))
    val sizeOk = col("n_new") * threshold <= col("n_idx") &&
      col("n_idx") * threshold <= col("n_new")
    val candidates = newBuckets.join(indexed, Seq("band", "bucket"))
      .filter(sizeOk)
      .select("new_id", "idx_id")
      .dropDuplicates("new_id", "idx_id")
    val idxSigs = notExcluded(AtomicTable.read(spark, sigsPath(root), sigSchema))
      .select(col("doc_id").as("idx_id"), col("signature").as("sig_idx"))
    val newSide = newSigs
      .select(col("doc_id").as("new_id"), col("signature").as("sig_new"))
    candidates
      .join(newSide, "new_id")
      .join(idxSigs, "idx_id")
      .withColumn("sig_sim", sigSim("sig_new", "sig_idx"))
      .filter(col("sig_sim") >= threshold)
      .select("new_id", "idx_id", "sig_sim")
  }
}
