package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-loader handoff: sharded JSONL export of a curated corpus.
  *
  * The standard last mile of a data pipeline — balanced shards
  * ([[Sampling.assignShards]], ±1 row whatever the id distribution), one
  * JSON object per line, one directory per shard (`shard=<k>/part-*`), so
  * a data-parallel trainer maps shard k to rank k and streams lines. The
  * JSON is rendered with explicitly ordered fields (`to_json` of a
  * struct), making lines byte-deterministic for a given row.
  *
  * At 100 TB: the shard assignment is the two-phase prefix-sum rank (no
  * global single-partition window), the write is one narrow pass after
  * the shard exchange, and shard count = writer parallelism. Lossless
  * roundtrip is part of the contract — `readBack` restores the exact
  * rows (verified end-to-end by the export_jsonl_roundtrip query: every
  * field of every row survives write+read against a DuckDB oracle). */
object Export {

  /** Write `docs` as `n` JSONL shard directories under `dir`. */
  def jsonlShards(docs: DataFrame, dir: String, n: Int): Unit = {
    val cols = docs.columns
    Sampling.assignShards(docs, n)
      .select(col("shard"),
        to_json(struct(cols.map(col): _*)).as("value"))
      .write.partitionBy("shard").mode("overwrite").text(dir)
  }

  /** Read a JSONL shard export back into rows + their shard. */
  def readBack(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema.add("shard", "long")).json(dir)

  // --------------------------------------------------- token binary

  /** TOKEN-BINARY export — the format a pretraining loader memory-maps
    * (the Megatron `.bin`/`.idx` shape): per shard one `data.bin` of
    * int32-LE token ids, documents concatenated in doc_id order, plus an
    * `index.idx` of fixed 20-byte (doc_id: int64, offset: int64,
    * n_tokens: int32) records and a shared `vocab.txt` (line k = the
    * subword with id k). Encoding is the frozen-merge BPE
    * ([[Bpe.encode]]'s codegen'd expression); the vocabulary is the
    * corpus-distinct subword set in sorted order — deterministic, so the
    * same corpus + merges always produce byte-identical shards.
    *
    * Scale shape: encode is narrow per-row; the vocab collect is
    * tokenizer-sized (sketch class — it IS the tokenizer artifact); the
    * shard exchange is [[Sampling.assignShards]]' two-phase rank; each
    * shard's files are written by the one task that owns its partition
    * after an in-partition doc_id sort (byte-determinism). File I/O is
    * java.nio against the export dir — on an object store the same loop
    * targets the Hadoop FS API, shape unchanged. */
  def tokenBinShards(docs: DataFrame, merges: Seq[(String, String)],
      dir: String, n: Int): Unit = {
    val spark = docs.sparkSession
    val words = graft.functions.TextExprs.alphaTokens(col("text"))
    val flat = graft.functions.BpeExpr.subwords(words, merges)
    // the encode runs ONCE: vocab collect and shard write are two
    // actions over this persisted projection (subword arrays only — the
    // text never re-tokenizes, the BPE fold never re-runs)
    val enc = docs.select(col("doc_id"), flat.as("subs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vocab = enc.select(explode(col("subs")).as("s")).distinct()
        .collect().map(_.getString(0)).sorted
      val vocabIx: Map[String, Int] = vocab.zipWithIndex.toMap
      // OVERWRITE semantics, like jsonlShards: stale shard dirs from a
      // previous (possibly wider) export must not survive and merge into
      // the new one under a mismatched vocab
      val out = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.isDirectory(out)) {
        val s = java.nio.file.Files.list(out)
        try s.iterator().asScala.toList
          .filter(p => p.getFileName.toString.startsWith("shard=") ||
            p.getFileName.toString == "_SUCCESS")
          .foreach(deleteRecursively)
        finally s.close()
      }
      java.nio.file.Files.createDirectories(out)
      java.nio.file.Files.write(out.resolve("vocab.txt"),
        vocab.mkString("", "\n", "\n").getBytes("UTF-8"))
      val bc = spark.sparkContext.broadcast(vocabIx)
      Sampling.assignShards(enc, n)
        .repartition(n, col("shard"))
        .sortWithinPartitions("shard", "doc_id")
        .select(col("shard"), col("doc_id"), col("subs"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          writeShardFiles(dir, bc.value, it)
        }
      // completion marker LAST: a killed export leaves no _SUCCESS and
      // readBackTokens refuses the partial dir
      java.nio.file.Files.write(out.resolve("_SUCCESS"), Array.empty[Byte])
      ()
    } finally { enc.unpersist(); () }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val children = java.nio.file.Files.list(p)
      try children.forEach(deleteRecursively(_)) finally children.close()
    }
    java.nio.file.Files.deleteIfExists(p)
    ()
  }

  /** One task's shard files. Each file is staged under a task-unique tmp
    * name and ATOMICALLY renamed into place — a zombie or speculative
    * duplicate attempt then cannot interleave bytes into a live file,
    * and because shard content is a pure function of the corpus (sorted
    * docs, deterministic vocab), whichever attempt's rename lands last
    * leaves identical, mutually consistent bin/idx bytes. Streams close
    * on every path. */
  private def writeShardFiles(dir: String, vx: Map[String, Int],
      it: Iterator[org.apache.spark.sql.Row]): Unit = {
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    var curShard = -1L
    var d: java.nio.file.Path = null
    var binCh: java.io.DataOutputStream = null
    var idxCh: java.io.DataOutputStream = null
    var offset = 0L
    def le32(v: Int): Array[Byte] = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le64(v: Long): Array[Byte] =
      le32((v & 0xffffffffL).toInt) ++ le32((v >>> 32).toInt)
    def finishShard(): Unit = if (binCh != null) {
      try binCh.close() finally binCh = null
      try idxCh.close() finally idxCh = null
      java.nio.file.Files.move(d.resolve(s".data.bin.$attempt"),
        d.resolve("data.bin"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.move(d.resolve(s".index.idx.$attempt"),
        d.resolve("index.idx"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def abandon(): Unit = {
      if (binCh != null) { try binCh.close() catch { case _: Throwable => () } }
      if (idxCh != null) { try idxCh.close() catch { case _: Throwable => () } }
      // a failed attempt must not leave partial .tmp binaries inside an
      // export that a later attempt completes — anything globbing
      // shard=* would ship them
      if (d != null) {
        try {
          java.nio.file.Files.deleteIfExists(d.resolve(s".data.bin.$attempt"))
          java.nio.file.Files.deleteIfExists(d.resolve(s".index.idx.$attempt"))
          ()
        } catch { case _: Throwable => () }
      }
    }
    try {
      it.foreach { r =>
        val shard = r.getLong(0)
        if (shard != curShard) {
          finishShard()
          d = java.nio.file.Paths.get(dir, s"shard=$shard")
          java.nio.file.Files.createDirectories(d)
          binCh = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(d.resolve(s".data.bin.$attempt"))))
          idxCh = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(d.resolve(s".index.idx.$attempt"))))
          curShard = shard
          offset = 0L
        }
        val subs = r.getSeq[String](2)
        idxCh.write(le64(r.getLong(1)))
        idxCh.write(le64(offset))
        idxCh.write(le32(subs.length))
        subs.foreach(s => binCh.write(le32(vx(s))))
        offset += subs.length
      }
      finishShard()
    } catch { case t: Throwable => abandon(); throw t }
  }

  /** Read a token-binary export back: one row per document with its
    * shard and decoded SUBWORD stream (via the export's own vocab.txt) —
    * the lossless-roundtrip half of the contract. Shard dirs are read in
    * parallel, one task per shard. */
  def readBackTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")),
      s"$dir has no _SUCCESS marker: the export did not complete " +
        "(a partial dir would read back as a silently truncated corpus)")
    val vocab = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "vocab.txt")), "UTF-8")
      .split("\n", -1).dropRight(1)
    val shards = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong)
        .toSeq.sorted
      finally s.close()
    }
    val bc = spark.sparkContext.broadcast(vocab)
    spark.sparkContext.parallelize(shards, shards.length.max(1))
      .flatMap { shard =>
        val v = bc.value
        val d = java.nio.file.Paths.get(dir, s"shard=$shard")
        val idx = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
          d.resolve("index.idx"))).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val bin = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
          d.resolve("data.bin"))).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = Seq.newBuilder[(Long, Long, Seq[String])]
        while (idx.remaining() >= 20) {
          val docId = idx.getLong
          val off = idx.getLong
          val nTok = idx.getInt
          // offsets are int64 in the FORMAT; this verifier reads the whole
          // shard into one int-indexed buffer (readAllBytes caps at 2 GiB),
          // so overflow must fail loudly, never truncate — off.toInt on a
          // >512M-token shard would silently read the wrong document
          val subs = (0 until nTok).map(i =>
            v(bin.getInt(Math.toIntExact((off + i) * 4L))))
          out += ((shard, docId, subs))
        }
        out.result()
      }.toDF("shard", "doc_id", "subs")
  }
}
