package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, date_format, hash, lit, pmod, substring, xxhash64}
import org.apache.spark.sql.types.StructType

/** A minimal transactional-table protocol over parquet — the engine's
  * answer to the reference's single-transaction MERGE
  * (`/root/reference/src/load.py:86-103`) without taking a Delta/Iceberg
  * dependency.
  *
  * Layout:
  * {{{
  *   table/
  *     _graft_version             <- current version number (the ONLY mutable file)
  *     _manifests/v<N>.json       <- manifest ROOT: version, properties, and the
  *                                   partition-granular planning state (dir lists,
  *                                   zone maps, delete vectors) + per-partition
  *                                   POINTERS into blobs/
  *     _manifests/blobs/pm-*.json <- immutable per-PARTITION metadata blobs: the
  *                                   file-granular state (committed file lists,
  *                                   per-dir bytes, per-FILE zone maps, sort
  *                                   markers) — O(files)-sized, so it must never
  *                                   ride the root
  *     data/txn-<id>/source=X/    <- immutable parquet, one dir per (txn, partition)
  * }}}
  *
  * Two-tier metadata (the Iceberg manifest-list shape): the root is
  * O(partitions) — version, properties, each partition's dir list, its
  * zone map, its delete-vector dirs, and a pointer to its blob. The
  * blobs are O(that partition's files) and IMMUTABLE: a commit writes
  * fresh blobs ONLY for the partitions it touches and carries every
  * other partition's pointer forward verbatim, so commit metadata I/O
  * is bounded by the commit's own footprint, never by table size — at
  * 100 TB (millions of files × per-file stats) a one-partition revision
  * writes one root + one blob, not hundreds of MB of re-rendered JSON.
  * Planning is tiered the same way: partition pruning, aggregate
  * pushdown, history, GC, and the changefeed diff read ONLY roots;
  * file-granular planning (committed file lists, file zone maps, sort
  * markers) hydrates ONLY the admitted partitions' blobs. Pre-split
  * (format 1) manifests carry everything inline in the root and read
  * transparently; the first commit over one migrates every partition
  * into blobs (a one-time O(partitions) rewrite, after which commits
  * are O(touched) again).
  *
  * Writers stage changed partitions into a fresh `data/txn-<id>/` dir and
  * build manifest v(N+1) = v(N) with those partitions' dirs replaced; the
  * commit point is the atomic CREATE-NEW of `_manifests/v<N+1>.json` at
  * its final name — the full content is staged to a tmp file and
  * published with one `Files.createLink` (POSIX link(2)), which fails
  * with EEXIST atomically if any other writer — thread OR process —
  * already claimed that version. The loser re-reads the new current
  * manifest, re-merges its partitions, and retries at N+2: optimistic
  * concurrency with the filesystem itself as the commit service (the
  * Delta-on-HDFS rename-no-replace protocol; on S3 the same slot-claim
  * runs over a conditional PUT). `_graft_version` is a best-effort
  * forward-only CACHE of the latest version — readers take the manifest
  * directory listing as the authority, so a crash between the link and
  * the pointer refresh loses nothing. A crash anywhere before the link
  * leaves orphan data files and tmp manifests but the table reads
  * exactly as the previous version; a crash after it leaves
  * unreferenced old dirs that the next commit's best-effort GC removes.
  * Readers never see a torn table. (CrossProcessCommitSpec races real
  * OS processes through interleaved commits to pin this.)
  *
  * Scale notes: unchanged partitions are carried forward in the manifest
  * by reference — a one-partition revision moves one partition's bytes,
  * never the table's. Reads group partition dirs by their txn dir and use
  * `basePath` so Spark's partition discovery restores the partition
  * column and partition pruning still applies (asserted in PipelineSpec).
  */
object AtomicTable {

  /** Per-partition zone map: row count plus min/max per tracked column,
    * string-encoded in a form whose ORDER matches the column type's order
    * (numerics parse back; dates/timestamps serialize as sortable ISO
    * text). The manifest-level data-skipping stats of Delta/Iceberg: a
    * reader with a range predicate on a tracked column prunes whole
    * partitions from METADATA — no file listing, no footer reads — which
    * at 100 TB is the difference between a point lookup and a scan. */
  final case class PartStats(rows: Long, mins: Map[String, String],
      maxs: Map[String, String])

  /** partitions: partition value -> ORDERED data dirs relative to the
    * table root, in append order. A replace commit installs a fresh
    * single-dir list; an APPEND commit (a partition for which
    * [[commitManifest]]'s `appends` holds) extends the list — INSERT
    * INTO adds a dir and never touches existing bytes, so two concurrent
    * appends into the same partition both survive (they merge at the
    * list level), which is the standard SQL/Delta/Iceberg append
    * contract.
    * properties: small KV payload committed ATOMICALLY with the data — the
    * streaming sink stores its last batch epoch here, which is what makes
    * foreachBatch replay idempotent (see graft.streaming.Streams).
    * stats: optional per-partition zone maps ([[PartStats]]); partitions
    * without an entry are simply never pruned.
    * files: optional dir -> committed parquet file names. When present
    * for a dir, readers open EXACTLY those files instead of listing the
    * dir — a zombie/speculative task attempt that drops a straggler file
    * into the dir after commit is never read (the file list is built
    * from the commit messages of attempts the driver actually
    * committed). Dirs without an entry are listed as before.
    * deletes: per-partition DELETE VECTORS (merge-on-read): partition
    * value -> ordered list of delete-key dirs (each a small parquet of
    * deleted key tuples, staged like data under `data/txn-*`). A
    * partition's data dirs are IMMUTABLE under a merge-on-read delete —
    * only this list grows — and [[MergeInto.readMerged]] subtracts the
    * keys at read time. Replacing or dropping a partition clears its
    * vectors in the same commit (the rewrite already folded them; a
    * stale vector would wrongly re-delete a key the rewrite
    * re-inserted). Appending to a partition with outstanding vectors is
    * REFUSED (the key-scoped vectors would wrongly re-delete appended
    * rows that reuse a deleted key) — fold first, see
    * [[MergeInto.materializeDeletes]].
    * bytes: optional dir -> total parquet bytes, recorded once at the
    * commit that introduced the dir, so scan statistics (static
    * broadcast decisions) read the manifest instead of issuing one
    * filesystem stat per data file per planning pass. Dirs without an
    * entry (pre-upgrade manifests) are stat'd lazily by the reader and
    * backfilled by the next commit.
    * fileStats: optional dir -> (file name -> [[PartStats]]) — FILE-level
    * zone maps, the second granularity of data skipping (Iceberg's
    * per-data-file column bounds / Delta's per-AddFile stats). Partition
    * zone maps prune whole partitions; these prune FILES inside an
    * admitted partition, which at 100 TB is what turns "read the whole
    * day" into "read the two files whose id range matches". Recorded by
    * the DSv2 writer (one file per task per partition value = the task's
    * stats fragment IS the file's stats, zero extra passes); entries
    * follow their dirs like `files`/`bytes` — dirs are immutable, so a
    * carried-forward dir keeps its file stats verbatim. Files without an
    * entry are never pruned. The row-level GROUP-replace scan must NOT
    * skip files (a scanned group is rewritten from scan output — see
    * GraftRowLevelScan), only plain reads do.
    * sorted: optional dir -> comma-joined columns EVERY file of that dir
    * is internally sorted by (ascending, nulls first) — recorded by the
    * writes that actually sort (write_order INSERTs, clustered
    * compaction), Iceberg's per-data-file sort-order-id. The scan
    * reports the common prefix across planned dirs as its V2 output
    * ordering, which is what lets a storage-partitioned join over
    * clustered tables skip its sorts as well as its exchanges. Dirs
    * without an entry claim nothing (safe: a missing marker only costs
    * a sort). */
  final case class Manifest(version: Long, partitions: Map[String, Seq[String]],
      properties: Map[String, String] = Map.empty,
      stats: Map[String, PartStats] = Map.empty,
      deletes: Map[String, Seq[String]] = Map.empty,
      tsMs: Long = 0L, operation: String = "write",
      files: Map[String, Seq[String]] = Map.empty,
      bytes: Map[String, Long] = Map.empty,
      fileStats: Map[String, Map[String, PartStats]] = Map.empty,
      sorted: Map[String, String] = Map.empty) {
    /** Every data dir the manifest references, in stable order. */
    def allDirs: Seq[String] = partitions.values.flatten.toSeq.sorted
  }

  /** One line of a table's commit log ([[history]]): `rows` is the total
    * from the per-partition zone maps when every partition carries one,
    * None otherwise (row counts are stats, not a scan). */
  final case class CommitInfo(version: Long, tsMs: Long, operation: String,
      numPartitions: Int, rows: Option[Long])

  /** The FILE-granular half of one partition's metadata, stored in an
    * immutable blob file next to the roots (`_manifests/blobs/pm-*`).
    * Every map is keyed by that partition's own data dirs; every map is
    * optional-by-contract (absent file list → list the dir, absent
    * bytes → stat lazily, absent file stats → never prune, absent sort
    * marker → claim nothing), which is what lets a commit carry an
    * untouched partition's blob POINTER forward without reading it. */
  final case class PartBlob(
      files: Map[String, Seq[String]] = Map.empty,
      bytes: Map[String, Long] = Map.empty,
      fileStats: Map[String, Map[String, PartStats]] = Map.empty,
      sorted: Map[String, String] = Map.empty) {
    def isEmpty: Boolean =
      files.isEmpty && bytes.isEmpty && fileStats.isEmpty && sorted.isEmpty
  }

  /** The manifest ROOT of one version: everything partition-granular
    * (dir lists, zone maps, delete vectors, properties) plus one blob
    * pointer per partition that has file-granular metadata. O(partitions)
    * to parse — partition pruning, aggregate pushdown, history, GC, and
    * changefeed diffs run entirely on roots; [[hydrate]] loads blobs only
    * for the partitions a caller actually plans. `inline` carries a
    * fully-parsed pre-split (format 1) manifest so old tables read
    * without migration. */
  final case class ManifestRoot(version: Long,
      partitions: Map[String, Seq[String]],
      properties: Map[String, String] = Map.empty,
      stats: Map[String, PartStats] = Map.empty,
      deletes: Map[String, Seq[String]] = Map.empty,
      tsMs: Long = 0L, operation: String = "write",
      blobs: Map[String, String] = Map.empty,
      inline: Option[Manifest] = None,
      fileCounts: Map[String, Int] = Map.empty) {
    def allDirs: Seq[String] = partitions.values.flatten.toSeq.sorted
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def versionFile(root: Path): Path = root.resolve("_graft_version")
  private def manifestFile(root: Path, v: Long): Path =
    root.resolve("_manifests").resolve(s"v$v.json")
  private def blobsDir(root: Path): Path =
    root.resolve("_manifests").resolve("blobs")

  /** Test instrumentation: when enabled, every blob file [[hydrate]]
    * loads is recorded — the spec that pins "planning a pruned query
    * reads only the admitted partitions' blobs" watches this. Off by
    * default (an unbounded log has no place in a long-lived driver). */
  @volatile private[graft] var recordBlobReads = false
  private[graft] val blobReadLog =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def loadBlob(root: Path, name: String): PartBlob = {
    if (recordBlobReads) blobReadLog.add(name)
    val n = mapper.readTree(Files.readString(blobsDir(root).resolve(name)))
    def strMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    def strListMap(node: com.fasterxml.jackson.databind.JsonNode)
        : Map[String, Seq[String]] =
      node.fields().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText).toSeq
      }.toMap
    def partStatsOf(v: com.fasterxml.jackson.databind.JsonNode): PartStats =
      PartStats(v.get("rows").asLong,
        Option(v.get("mins")).map(strMap).getOrElse(Map.empty),
        Option(v.get("maxs")).map(strMap).getOrElse(Map.empty))
    PartBlob(
      Option(n.get("files")).map(strListMap).getOrElse(Map.empty),
      Option(n.get("bytes")).map(_.fields().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap).getOrElse(Map.empty),
      Option(n.get("fileStats")).map(_.fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala
          .map(f => f.getKey -> partStatsOf(f.getValue)).toMap
      }.toMap).getOrElse(Map.empty),
      Option(n.get("sorted")).map(strMap).getOrElse(Map.empty))
  }

  private def renderBlob(b: PartBlob): String = {
    val node = mapper.createObjectNode()
    if (b.files.nonEmpty) {
      val fl = node.putObject("files")
      b.files.toSeq.sortBy(_._1).foreach { case (dir, names) =>
        val a = fl.putArray(dir)
        names.foreach(a.add)
      }
    }
    if (b.bytes.nonEmpty) {
      val by = node.putObject("bytes")
      b.bytes.toSeq.sortBy(_._1).foreach { case (dir, n) => by.put(dir, n) }
    }
    if (b.sorted.nonEmpty) {
      val so = node.putObject("sorted")
      b.sorted.toSeq.sortBy(_._1).foreach { case (dir, o) => so.put(dir, o) }
    }
    if (b.fileStats.nonEmpty) {
      val fs = node.putObject("fileStats")
      b.fileStats.toSeq.sortBy(_._1).foreach { case (dir, perFile) =>
        val d = fs.putObject(dir)
        perFile.toSeq.sortBy(_._1).foreach { case (name, s) =>
          val p = d.putObject(name)
          p.put("rows", s.rows)
          val mins = p.putObject("mins")
          s.mins.toSeq.sortBy(_._1).foreach { case (c, v) => mins.put(c, v) }
          val maxs = p.putObject("maxs")
          s.maxs.toSeq.sortBy(_._1).foreach { case (c, v) => maxs.put(c, v) }
        }
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }

  /** The partition key a data dir's path segments encode — the exact
    * inverse of the keying [[stagedPartitionDirs]] commits under
    * ("data/txn-x/c1=a/c2=b" -> partKey(Seq("a","b"))). What lets a
    * commit attribute dir-keyed inputs (file lists, file stats) to the
    * partition blob they belong in without any lookup state. */
  private[graft] def partitionKeyOfDir(d: String): String =
    partKey(d.split('/').iterator.drop(2).map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"'$d' is not a partitioned data dir")
      ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
    }.toSeq)

  /** The latest committed version — authoritative: the max `v<N>.json`
    * present in `_manifests/` (a manifest file at its final name IS a
    * commit, by the create-new protocol). The `_graft_version` pointer is
    * only a forward-lagging cache for external tooling; trusting it here
    * would let a reader miss another PROCESS's just-landed commit, or
    * chase a stale value into the GC'd gap below the retention window. */
  def currentVersion(root: Path): Option[Long] = {
    val mDir = root.resolve("_manifests")
    if (!Files.isDirectory(mDir)) None
    else {
      val s = Files.list(mDir)
      try s.iterator.asScala.flatMap { f =>
        val n = f.getFileName.toString
        if (n.startsWith("v") && n.endsWith(".json"))
          n.stripPrefix("v").stripSuffix(".json").toLongOption
        else None
      }.maxOption
      finally s.close()
    }
  }

  def manifest(root: Path): Option[Manifest] = {
    // re-probe on a miss: between our listing and the read, another
    // process's commit + GC (retain=1) can prune the version we chose —
    // the next probe lands on the new current
    var attempt = 0
    while (true) {
      currentVersion(root) match {
        case None => return None
        case Some(v) =>
          try return Some(manifestAt(root, v))
          catch {
            case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException
              if attempt < 5 => attempt += 1
          }
      }
    }
    None // unreachable
  }

  /** The current manifest ROOT — the O(partitions) planning tier, no
    * blob reads. Same GC-race re-probe as [[manifest]]. */
  def rootOpt(root: Path): Option[ManifestRoot] = {
    var attempt = 0
    while (true) {
      currentVersion(root) match {
        case None => return None
        case Some(v) =>
          try return Some(rootAt(root, v))
          catch {
            case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException
              if attempt < 5 => attempt += 1
          }
      }
    }
    None // unreachable
  }

  /** Head reads that go root → prune → hydrate in TWO steps get the
    * same GC-race tolerance [[manifest]] gives its single step: a
    * concurrent process's commit+gc may delete a blob between our root
    * read and its hydration, so a vanished file re-probes from the
    * CURRENT version — re-running the caller's pruning against the
    * fresh root — instead of surfacing a NoSuchFileException mid-plan.
    * `none` is the no-table result; version-PINNED readers must not use
    * this (a pinned version aging out mid-read is a real error). */
  def withHeadRoot[A](root: Path)(none: => A)(run: ManifestRoot => A): A = {
    var attempt = 0
    while (true) {
      rootOpt(root) match {
        case None => return none
        case Some(r) =>
          try return run(r)
          catch {
            case e @ (_: java.nio.file.NoSuchFileException |
                _: java.io.FileNotFoundException) =>
              if (attempt >= 5) throw e
              attempt += 1
          }
      }
    }
    none // unreachable
  }

  /** A specific version's fully-hydrated manifest (the root file must
    * still exist — see `retainVersions`): the root plus EVERY
    * partition's blob. Planning paths that prune should prefer
    * [[rootAt]] + [[hydrate]] over a subset. */
  def manifestAt(root: Path, v: Long): Manifest = {
    val r = rootAt(root, v)
    hydrate(root, r, r.partitions.keySet)
  }

  /** Assemble a [[Manifest]] from a root, loading the file-granular
    * blobs of ONLY the `keys` partitions — the partition-level fields
    * (partitions, stats, deletes, properties) always carry the full
    * root state, so pruning logic downstream sees the whole table while
    * file-granular planning cost stays bounded by the admitted set. */
  def hydrate(root: Path, r: ManifestRoot, keys: Set[String]): Manifest =
    r.inline match {
      case Some(m) => m // format 1: the root carried everything already
      case None =>
        val loaded = r.blobs.iterator
          .filter { case (p, _) => keys(p) }
          .map { case (_, name) => loadBlob(root, name) }.toSeq
        Manifest(r.version, r.partitions, r.properties, r.stats, r.deletes,
          r.tsMs, r.operation,
          files = loaded.iterator.flatMap(_.files).toMap,
          bytes = loaded.iterator.flatMap(_.bytes).toMap,
          fileStats = loaded.iterator.flatMap(_.fileStats).toMap,
          sorted = loaded.iterator.flatMap(_.sorted).toMap)
    }

  /** A specific version's manifest ROOT (O(partitions), zero blob
    * reads). Format-1 files parse in full and ride along as `inline`. */
  /** A specific version's manifest ROOT (O(partitions), zero blob
    * reads). Tree parse, DELIBERATELY: an A/B at the 100k-partition
    * root (RootScaleBench r13) measured Jackson's DOM readTree at
    * 354 ms warm vs 732 ms for a hand-rolled streaming-token walk —
    * the DOM's batched parsing beats per-token Scala closures, so the
    * "optimization" was reverted on the measurement. Format-1 files
    * parse in full and ride along as `inline`. */
  def rootAt(root: Path, v: Long): ManifestRoot = {
    val n = mapper.readTree(Files.readString(manifestFile(root, v)))
    val props = Option(n.get("properties")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)
    def strMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val stats = Option(n.get("stats")).map(_.fields().asScala.map { e =>
      e.getKey -> PartStats(e.getValue.get("rows").asLong,
        Option(e.getValue.get("mins")).map(strMap).getOrElse(Map.empty),
        Option(e.getValue.get("maxs")).map(strMap).getOrElse(Map.empty))
    }.toMap).getOrElse(Map.empty)
    def strListMap(node: com.fasterxml.jackson.databind.JsonNode)
        : Map[String, Seq[String]] =
      node.fields().asScala.map { e =>
        // a plain string is a legacy single-dir entry; an array is the
        // current ordered-list form
        e.getKey -> (if (e.getValue.isArray)
          e.getValue.elements().asScala.map(_.asText).toSeq
        else Seq(e.getValue.asText))
      }.toMap
    val deletes = Option(n.get("deletes")).map(strListMap)
      .getOrElse(Map.empty[String, Seq[String]])
    val files = Option(n.get("files")).map(strListMap)
      .getOrElse(Map.empty[String, Seq[String]])
    val bytes = Option(n.get("bytes")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap)
      .getOrElse(Map.empty[String, Long])
    def partStatsOf(v: com.fasterxml.jackson.databind.JsonNode): PartStats =
      PartStats(v.get("rows").asLong,
        Option(v.get("mins")).map(strMap).getOrElse(Map.empty),
        Option(v.get("maxs")).map(strMap).getOrElse(Map.empty))
    val fileStats = Option(n.get("fileStats")).map(_.fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala
        .map(f => f.getKey -> partStatsOf(f.getValue)).toMap
    }.toMap).getOrElse(Map.empty[String, Map[String, PartStats]])
    val sorted = Option(n.get("sorted")).map(strMap)
      .getOrElse(Map.empty[String, String])
    val version = n.get("version").asLong
    val partitions = strListMap(n.get("partitions"))
    val ts = Option(n.get("tsMs")).map(_.asLong).getOrElse(0L)
    val op = Option(n.get("operation")).map(_.asText).getOrElse("write")
    if (Option(n.get("format")).map(_.asInt).getOrElse(1) >= 2)
      ManifestRoot(version, partitions, props, stats, deletes, ts, op,
        blobs = Option(n.get("blobs")).map(strMap).getOrElse(Map.empty),
        inline = None,
        fileCounts = Option(n.get("nfiles")).map(_.fields().asScala
          .map(e => e.getKey -> e.getValue.asInt).toMap).getOrElse(Map.empty))
    else
      // format 1: the file-granular maps ride the root — parse them all
      // and hand the complete manifest back as `inline`
      ManifestRoot(version, partitions, props, stats, deletes, ts, op,
        blobs = Map.empty,
        inline = Some(Manifest(version, partitions, props, stats, deletes,
          ts, op, files, bytes, fileStats, sorted)))
  }

  /** Render a format-2 root — STREAMING generator, compact output.
    * The tree render it replaced (ObjectNode + pretty printer) both
    * built a DOM and paid ~25-30% size in indentation; at 100k
    * partitions the compact streaming form shrinks the root file and
    * the per-commit render time together (RootScaleBench r13). Keys
    * stay sorted so renders are deterministic byte-for-byte. */
  private def renderRoot(r: ManifestRoot): String = {
    val sw = new java.io.StringWriter(
      math.min(1 << 24, 256 + r.partitions.size * 192))
    val g = mapper.getFactory.createGenerator(sw)
    g.writeStartObject()
    g.writeNumberField("format", 2)
    g.writeNumberField("version", r.version)
    if (r.tsMs > 0L) g.writeNumberField("tsMs", r.tsMs)
    g.writeStringField("operation", r.operation)
    g.writeObjectFieldStart("partitions")
    r.partitions.toSeq.sortBy(_._1).foreach { case (k, dirs) =>
      g.writeArrayFieldStart(k)
      dirs.foreach(g.writeString)
      g.writeEndArray()
    }
    g.writeEndObject()
    g.writeObjectFieldStart("properties")
    r.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
      g.writeStringField(k, v)
    }
    g.writeEndObject()
    if (r.stats.nonEmpty) {
      g.writeObjectFieldStart("stats")
      r.stats.toSeq.sortBy(_._1).foreach { case (part, s) =>
        g.writeObjectFieldStart(part)
        g.writeNumberField("rows", s.rows)
        g.writeObjectFieldStart("mins")
        s.mins.toSeq.sortBy(_._1).foreach { case (c, v) =>
          g.writeStringField(c, v)
        }
        g.writeEndObject()
        g.writeObjectFieldStart("maxs")
        s.maxs.toSeq.sortBy(_._1).foreach { case (c, v) =>
          g.writeStringField(c, v)
        }
        g.writeEndObject()
        g.writeEndObject()
      }
      g.writeEndObject()
    }
    if (r.deletes.nonEmpty) {
      g.writeObjectFieldStart("deletes")
      r.deletes.toSeq.sortBy(_._1).foreach { case (part, dirs) =>
        g.writeArrayFieldStart(part)
        dirs.foreach(g.writeString)
        g.writeEndArray()
      }
      g.writeEndObject()
    }
    if (r.blobs.nonEmpty) {
      g.writeObjectFieldStart("blobs")
      r.blobs.toSeq.sortBy(_._1).foreach { case (part, name) =>
        g.writeStringField(part, name)
      }
      g.writeEndObject()
    }
    if (r.fileCounts.nonEmpty) {
      g.writeObjectFieldStart("nfiles")
      r.fileCounts.toSeq.sortBy(_._1).foreach { case (part, n) =>
        g.writeNumberField(part, n)
      }
      g.writeEndObject()
    }
    g.writeEndObject()
    g.close()
    sw.toString
  }

  /** Attempt to claim version `version`: stage the full root content to
    * a tmp file, then hard-link it to the final `v<N>.json` name —
    * `Files.createLink` is link(2), which atomically fails with EEXIST
    * when the name is taken, and when it succeeds the final name carries
    * the COMPLETE content (no reader can observe a torn manifest).
    * Returns false when another writer — any thread, any process — won
    * the version slot. The tmp file is removed on every path; one
    * orphaned by a crash between write and link is reclaimed by
    * [[vacuum]]'s tmp sweep. Blob files are written BEFORE this claim
    * under fresh random names, so a lost race (or a crash) orphans
    * unreferenced blobs, never tears a referenced one. */
  private def tryPublishManifest(root: Path, version: Long,
      content: String): Boolean = {
    val mDir = root.resolve("_manifests")
    Files.createDirectories(mDir)
    val tmp = mDir.resolve(s".tmp-${UUID.randomUUID().toString.take(12)}")
    Files.writeString(tmp, content)
    try { Files.createLink(manifestFile(root, version), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Refresh the advisory `_graft_version` cache, forward-only: written
    * via tmp + atomic rename so readers of the cache never see a torn
    * value. Two processes racing here can transiently regress the cache
    * by one commit (check-then-rename is not atomic) — harmless, because
    * nothing trusts the pointer for correctness ([[currentVersion]] lists
    * the manifest dir) and the next commit heals it. */
  private def advancePointer(root: Path, v: Long): Unit = {
    val stale = if (!Files.exists(versionFile(root))) None
      else Files.readString(versionFile(root)).trim.toLongOption
    if (stale.forall(_ < v)) {
      val tmp = root.resolve(s"_version.${UUID.randomUUID().toString.take(12)}.tmp")
      Files.writeString(tmp, v.toString)
      Files.move(tmp, versionFile(root),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** Read the table at its current version (empty frame with `schema` if
    * the table has never committed). Column order follows `schema`. */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    manifest(Paths.get(table)) match {
      case None => emptyFrame(spark, schema)
      case Some(m) => readManifest(spark, table, schema, m)
    }

  /** An empty frame with `schema` as a local relation. Unlike a frame over
    * an empty RDD it is known to be empty at planning time, so the
    * optimizer removes the joins and unions it feeds instead of planning
    * an exchange for each. */
  private[etl] def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)


  /** Decode %XX escape sequences only — RFC-3986 percent decoding of
    * UTF-8 bytes, with none of URLDecoder's form semantics ('+' stays a
    * literal '+'). Malformed sequences pass through verbatim. */
  private def percentDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try { out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3 }
        catch { case _: NumberFormatException =>
          out.write('%'.toInt); i += 1 }
      } else {
        // advance by CODE POINT: a supplementary character (emoji in a
        // partition value) is a surrogate pair, and encoding each half
        // separately would emit two U+FFFD replacement bytes — the key
        // would then never resolve against the written partition map
        val cp = s.codePointAt(i)
        out.write(new String(Character.toChars(cp)).getBytes("UTF-8"))
        i += Character.charCount(cp)
      }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  // ---- multi-level partitioning -------------------------------------
  // A table may be partitioned by SEVERAL identity columns. The spec is
  // the comma-joined column list ("o_ym,o_orderstatus" — every
  // `partitionCol` parameter accepts it), a partition's data dirs nest
  // one Hive-style level per column ("data/txn-x/o_ym=1995-01/
  // o_orderstatus=F"), and its MANIFEST KEY is:
  //  - one level: the unescaped value (the historical key format,
  //    unchanged — existing tables read as before);
  //  - multiple levels: the HIVE-ESCAPED per-level values joined with
  //    '/' (escaping removes '/', so the join is unambiguous).

  /** The column list a partition spec names, in level order. */
  def partCols(spec: String): Seq[String] =
    spec.split(',').iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** The staging txn prefix of a manifest-relative dir
    * ("data/txn-x/c1=a/c2=b" -> "data/txn-x"): the `basePath` that
    * makes a parquet scan restore EVERY partition level from the dir
    * names. Never the parent dir, which under multi-level layouts
    * would silently drop the outer levels from the scan. */
  private[graft] def txnDirOf(d: String): String = {
    val i = d.indexOf('/')
    val j = if (i < 0) -1 else d.indexOf('/', i + 1)
    if (j < 0) d else d.substring(0, j)
  }

  /** The partition columns a manifest-relative data dir encodes, in
    * level order ("data/txn-x/c1=a/c2=b" -> Seq(c1, c2)). */
  private[graft] def partColsOfDir(d: String): Seq[String] =
    d.split('/').iterator.drop(2).map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"'$d' is not a partitioned data dir")
      seg.substring(0, i)
    }.toSeq

  /** Build the manifest key of one partition's per-level values. */
  private[graft] def partKey(values: Seq[String]): String =
    if (values.lengthCompare(1) == 0) values.head
    else values.map(ExternalCatalogUtils.escapePathName).mkString("/")

  /** Recover the per-level values of a manifest key (`n` = number of
    * partition columns). A single-level key is NEVER split — its value
    * may legitimately contain '/'. */
  private[graft] def partKeyValues(key: String, n: Int): Seq[String] =
    if (n <= 1) Seq(key)
    else {
      val segs = key.split("/", -1)
      require(segs.length == n,
        s"partition key '$key' has ${segs.length} levels, expected $n")
      segs.iterator.map(ExternalCatalogUtils.unescapePathName).toSeq
    }

  /** The dir-name suffix of a partition key ("c1=e1/c2=e2"). */
  private[graft] def partDirSuffix(cols: Seq[String], key: String): String =
    cols.zip(partKeyValues(key, cols.size))
      .map { case (c, v) => s"$c=${ExternalCatalogUtils.escapePathName(v)}" }
      .mkString("/")

  /** Map the partition dirs a `partitionBy(cols)` write staged under
    * `table/data/<txn>` to manifest entries (key -> relative dir),
    * walking one nested level per column. Shared by every staging
    * writer (data commits and delete-vector commits alike). */
  private[graft] def stagedPartitionDirs(txnDir: Path, txn: String,
      pcols: Seq[String]): Map[String, Seq[String]] = {
    def level(dirs: Seq[Path], c: String): Seq[Path] = dirs.flatMap { d =>
      val s = Files.list(d)
      try s.iterator.asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(s"$c=")).toSeq
      finally s.close()
    }
    pcols.foldLeft(Seq(txnDir))(level).map { leaf =>
      val segs = txnDir.relativize(leaf).toString.replace('\\', '/')
      val values = segs.split('/').iterator.zip(pcols.iterator).map {
        case (seg, c) => ExternalCatalogUtils.unescapePathName(
          seg.substring(c.length + 1))
      }.toSeq
      partKey(values) -> Seq(s"data/$txn/$segs")
    }.toMap
  }

  /** Order-preserving comparison of two zone-map strings under the
    * column's type: numerics compare numerically; dates/timestamps and
    * strings compare as text (their cast-to-string form is sortable). */
  private def statsCompare(dt: org.apache.spark.sql.types.DataType,
      a: String, b: String): Int = dt match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType => java.lang.Long.compare(a.toLong, b.toLong)
    case org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _: org.apache.spark.sql.types.DecimalType =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      // normalize to epoch micros: ISO text order almost always matches
      // timestamp order, but signed (BCE) years invert it ("-0044" sorts
      // after "-0100" as text) — parse both sides and compare numerically,
      // falling back to text only if either fails to parse
      (parseTsMicros(a), parseTsMicros(b)) match {
        case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
        case _ => a.compareTo(b)
      }
    case org.apache.spark.sql.types.DateType =>
      // same signed-year inversion as timestamps ("-0044-…" sorts after
      // "-0100-…" as text): compare as epoch days when both parse
      (parseDateDays(a), parseDateDays(b)) match {
        case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
        case _ => a.compareTo(b)
      }
    case _ => a.compareTo(b)
  }

  /** Parse a zone-map rendered bound back to its CATALYST value — what
    * the DSv2 scan reports as V2 column statistics min/max (Spark's
    * CBO consumes Catalyst-typed values). None for types whose bounds
    * the estimator doesn't use (strings, binary) or on parse failure —
    * absent stats are always safe. */
  private[graft] def statsValue(dt: org.apache.spark.sql.types.DataType,
      rendered: String): Option[Any] = try {
    dt match {
      case org.apache.spark.sql.types.LongType => Some(rendered.toLong)
      case org.apache.spark.sql.types.IntegerType => Some(rendered.toInt)
      case org.apache.spark.sql.types.ShortType => Some(rendered.toShort)
      case org.apache.spark.sql.types.ByteType => Some(rendered.toByte)
      case org.apache.spark.sql.types.DoubleType => Some(rendered.toDouble)
      case org.apache.spark.sql.types.FloatType => Some(rendered.toFloat)
      case d: org.apache.spark.sql.types.DecimalType =>
        Some(org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(rendered), d.precision, d.scale))
      case org.apache.spark.sql.types.DateType =>
        parseDateDays(rendered).map(_.toInt)
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        parseTsMicros(rendered)
      case _ => None
    }
  } catch { case _: Exception => None }

  /** The zone-map comparator, shared with the DSv2 scan
    * (graft.sources.GraftSource) so its pushed-filter pruning orders
    * bounds exactly like [[readPruned]] does. */
  private[graft] def statsOrder(dt: org.apache.spark.sql.types.DataType,
      a: String, b: String): Int = statsCompare(dt, a, b)

  /** Parse a zone-map date string ("yyyy-MM-dd", the `cast(d as
    * string)` form both writers emit) to epoch days. */
  private def parseDateDays(s: String): Option[Long] =
    try Some(java.time.LocalDate.parse(s.trim,
      java.time.format.DateTimeFormatter.ISO_LOCAL_DATE).toEpochDay)
    catch { case _: Exception => None }

  /** Parse a zone-map timestamp string ("yyyy-MM-dd HH:mm:ss[.f+]", the
    * `cast(ts as string)` form both writers emit) to epoch microseconds. */
  private def parseTsMicros(s: String): Option[Long] =
    try {
      val ldt = java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'),
        java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      Some(Math.addExact(Math.multiplyExact(
        ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
        ldt.getNano / 1000L))
    } catch { case _: Exception => None }

  /** Metadata data-skipping read: the table filtered to `col` ∈ [lo, hi],
    * where partitions whose committed zone map proves no overlap are
    * dropped BEFORE any file is listed or opened — the manifest is the
    * only thing consulted. Partitions with no stats entry (never tracked,
    * or replaced by a stats-less commit) are conservatively read. The
    * residual per-row filter is still applied, so the result is exact
    * regardless of how coarse the zone maps are; parquet footer min/max
    * skipping then prunes row groups WITHIN the surviving partitions as
    * usual — this operates one level above, at 100 TB saving the listing
    * and footer I/O itself. */
  def readPruned(spark: SparkSession, table: String, schema: StructType,
      column: String, lo: String, hi: String): DataFrame =
    readPrunedMulti(spark, table, schema, Seq((column, lo, hi)))

  /** Multi-column form of [[readPruned]]: a partition survives only if
    * EVERY (column, lo, hi) bound's zone map overlaps — a z-ordered
    * table pruned on both clustered dimensions keeps far fewer
    * partitions than either bound alone (conjunction of box tests, the
    * Iceberg metadata-filter shape). The residual filter is the same
    * conjunction per row. */
  def readPrunedMulti(spark: SparkSession, table: String, schema: StructType,
      bounds: Seq[(String, String, String)]): DataFrame = {
    require(bounds.nonEmpty, "at least one (column, lo, hi) bound")
    val residual = bounds.map { case (c, lo, hi) =>
      val dt = schema(c).dataType
      col(c) >= lit(lo).cast(dt) && col(c) <= lit(hi).cast(dt)
    }.reduce(_ && _)
    withHeadRoot(Paths.get(table))(emptyFrame(spark, schema)) { r =>
      val kept = r.partitions.filter { case (part, _) =>
        r.stats.get(part) match {
          case Some(s) => bounds.forall { case (c, lo, hi) =>
            val dt = schema(c).dataType
            (s.mins.get(c), s.maxs.get(c)) match {
              case (Some(mn), Some(mx)) =>
                statsCompare(dt, mn, hi) <= 0 && statsCompare(dt, mx, lo) >= 0
              case _ => true // column untracked in this partition
            }
          }
          case None => true // no zone map: cannot prune, must read
        }
      }
      if (kept.isEmpty) emptyFrame(spark, schema)
        .filter(residual)
      // hydrate ONLY the admitted partitions' blobs: the pruning above
      // ran on the root alone, so a pruned metadata read costs
      // O(admitted), never O(table files)
      else readManifest(spark, table, schema,
        hydrate(Paths.get(table), r, kept.keySet).copy(partitions = kept))
        .filter(residual)
    }
  }

  /** Partitions whose zone map ADMITS at least one of `values` on
    * `column` — the point-set form of [[readPruned]]'s range test, and
    * the metadata half of a key-located DELETE: on a table clustered by
    * the key (range partitioning, z-order), the partitions that could
    * hold any of a scattered key set fall out of the MANIFEST, no file
    * listed or read. Partitions without stats on the column are
    * conservatively kept (correct, just not pruned). O(P log V) after
    * one sort of the values. */
  private[etl] def admitPartitions(m: Manifest, schema: StructType,
      column: String, values: Seq[String]): Set[String] = {
    val dt = schema(column).dataType
    val sorted = values.sortWith((a, b) => statsCompare(dt, a, b) < 0).toIndexedSeq
    def anyInRange(mn: String, mx: String): Boolean = {
      // first value >= mn, then check it is <= mx
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (statsCompare(dt, sorted(mid), mn) < 0) lo = mid + 1 else hi = mid
      }
      lo < sorted.length && statsCompare(dt, sorted(lo), mx) <= 0
    }
    m.partitions.keySet.filter { part =>
      m.stats.get(part) match {
        case Some(s) => (s.mins.get(column), s.maxs.get(column)) match {
          case (Some(mn), Some(mx)) => anyInRange(mn, mx)
          case _ => true
        }
        case None => true
      }
    }
  }

  /** Read only the listed partition values at the current version — the
    * metadata-bounded scan a partition-scoped rewrite ([[MergeInto]]'s
    * row-level MERGE / DELETE) starts from: cost ∝ selected partitions,
    * never table size. Unknown values are simply absent (empty frame if
    * none match). */
  def readPartitions(spark: SparkSession, table: String, schema: StructType,
      parts: Set[String]): DataFrame =
    withHeadRoot(Paths.get(table))(emptyFrame(spark, schema)) { r =>
      val kept = r.partitions.filter { case (p, _) => parts(p) }
      if (kept.isEmpty) emptyFrame(spark, schema)
      // selected-partition blobs only — cost ∝ selected, never table
      else readManifest(spark, table, schema,
        hydrate(Paths.get(table), r, kept.keySet).copy(partitions = kept))
    }

  /** Time travel: read the table AS OF `version`. Valid while the version
    * is inside the table's retention window (`retainVersions` at write
    * time) — the manifest and every data dir it references are kept on
    * disk until they age out, so a reader pinned to an old snapshot keeps
    * a consistent view no matter how many commits land after it. */
  def readAt(spark: SparkSession, table: String, schema: StructType,
      version: Long): DataFrame = {
    val root = Paths.get(table)
    require(currentVersion(root).exists(_ >= version),
      s"version $version was never committed to $table")
    require(Files.exists(manifestFile(root, version)),
      s"version $version is outside the retention window of $table")
    readManifest(spark, table, schema, manifestAt(root, version))
  }

  /** The commit time of version `v` in epoch millis: the timestamp
    * stamped into the manifest at commit (strictly monotonic per table —
    * see [[commitManifest]]); for manifests predating the stamp, the
    * manifest file's mtime (the hard-link publish carries the staged
    * file's write time, i.e. commit time to within the link latency). */
  def commitTimeMs(root: Path, v: Long): Long = {
    val m = rootAt(root, v) // root-only: no blob reads on the time axis
    if (m.tsMs > 0L) m.tsMs
    else Files.getLastModifiedTime(manifestFile(root, v)).toMillis
  }

  /** Every version still inside the retention window, ascending. */
  private def retainedVersions(root: Path): Seq[Long] = {
    val mDir = root.resolve("_manifests")
    if (!Files.isDirectory(mDir)) Nil
    else {
      val s = Files.list(mDir)
      try s.iterator.asScala.flatMap { f =>
        val n = f.getFileName.toString
        if (n.startsWith("v") && n.endsWith(".json"))
          n.stripPrefix("v").stripSuffix(".json").toLongOption
        else None
      }.toSeq.sorted
      finally s.close()
    }
  }

  /** TIMESTAMP AS OF resolution: the latest retained version whose commit
    * time is <= `tsMs` (commit timestamps are strictly monotonic, so the
    * answer is unique), None when `tsMs` predates every retained commit. */
  def versionAsOf(root: Path, tsMs: Long): Option[Long] =
    retainedVersions(root).reverseIterator
      .find(v => commitTimeMs(root, v) <= tsMs)

  /** Read the table as of a wall-clock instant — [[readAt]] with the
    * version resolved by [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, table: String, schema: StructType,
      tsMs: Long): DataFrame = {
    val root = Paths.get(table)
    val v = versionAsOf(root, tsMs).getOrElse(throw new IllegalArgumentException(
      s"no commit of $table at or before tsMs=$tsMs is inside the retention window"))
    readAt(spark, table, schema, v)
  }

  /** The table's commit log over the retention window, newest first —
    * `DESCRIBE HISTORY` from metadata only: version, commit time,
    * operation tag, partition count, and the zone-map row total when
    * every partition carries stats (no scan, ever). */
  def history(root: Path): Seq[CommitInfo] =
    retainedVersions(root).reverseIterator.map { v =>
      val m = rootAt(root, v) // row counts are root-level stats: no blobs
      val rows =
        if (m.partitions.nonEmpty && m.partitions.keySet.subsetOf(m.stats.keySet))
          Some(m.partitions.keysIterator.map(m.stats(_).rows).sum)
        else None
      CommitInfo(v, commitTimeMs(root, v), m.operation, m.partitions.size, rows)
    }.toSeq

  /** Aggregate one 8 KiB bloom per (file, column) of `frame` and write
    * the sidecars next to the files. Bounded: one buffer per pair to
    * the driver. Shared by rewrites and the backfill. */
  private def writeBloomSidecars(frame: DataFrame,
      bloomBy: Seq[String]): Unit = {
    val bloomAgg = graft.sources.GraftBloom.aggregator
    val touchedDirs = scala.collection.mutable.Set.empty[String]
    frame.select(bloomBy.map(c => col(c).cast("string").as(c)) :+
        org.apache.spark.sql.functions.input_file_name().as("_f"): _*)
      .groupBy(col("_f"))
      .agg(bloomAgg(col(bloomBy.head)).as(bloomBy.head),
        bloomBy.tail.map(c => bloomAgg(col(c)).as(c)): _*)
      .collect().foreach { r =>
        val fp = new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0)))
        bloomBy.zipWithIndex.foreach { case (c, i) =>
          val sp = new org.apache.hadoop.fs.Path(fp.getParent,
            graft.sources.GraftBloom.sidecarName(fp.getName, c))
          val out = sp.getFileSystem(
            new org.apache.hadoop.conf.Configuration()).create(sp, true)
          try out.write(r.getAs[Array[Byte]](i + 1)) finally out.close()
        }
        touchedDirs += fp.getParent.toString
      }
    // re-fold each touched dir's bundle so the one-read-per-dir probe
    // sees the rebuilt (or backfilled) filters immediately
    touchedDirs.foreach(graft.sources.GraftBloom.writeBundle)
  }

  /** BACKFILL bloom sidecars for a table written before `bloom_columns`
    * was declared (the analog of [[analyzeStats]] for zone maps): one
    * column-pruned scan of the committed files builds each file's
    * filter, the sidecars land next to the immutable bytes (additive —
    * no data file changes), and a properties-only commit announces the
    * covered columns to the scan. Blooms are built over RAW file
    * contents (outstanding delete vectors only add false positives,
    * never skip a live row). */
  def rebuildBlooms(spark: SparkSession, table: String, schema: StructType,
      bloomBy: Seq[String], retain: Int = 2): Manifest = {
    require(bloomBy.nonEmpty, "rebuildBlooms needs at least one column")
    val root = Paths.get(table)
    val m = manifest(root).getOrElse(
      throw new IllegalArgumentException(s"$table has no commits"))
    if (m.partitions.nonEmpty)
      writeBloomSidecars(
        readManifest(spark, table, schema, m)
          .select(bloomBy.map(col): _*), bloomBy)
    commitManifest(root, Map.empty,
      properties = Map(
        graft.sources.GraftSource.BloomColsProperty -> bloomBy.mkString(",")),
      retain = retain, operation = "blooms")
  }

  // ------------------------------------------------------------- tags

  /** Property prefix of a snapshot tag: `graft.tag.<name> = <version>`.
    * An empty value means the tag was removed (manifest properties only
    * merge forward, they cannot be deleted). */
  val TagPrefix = "graft.tag."

  /** The versions the current manifest's tags pin against GC. */
  private[etl] def taggedVersions(m: Manifest): Set[Long] =
    m.properties.collect {
      case (k, v) if k.startsWith(TagPrefix) && v.nonEmpty => v.toLong
    }.toSet

  /** TAG a retained snapshot with a durable name (Iceberg tags): the
    * tag rides a commit, and from then on GC keeps `version`'s manifest
    * and every data dir it references until [[untag]] — the
    * reproducibility primitive a training corpus needs ("the exact
    * snapshot run X read"). Resolvable as `VERSION AS OF '<name>'`. */
  def tag(root: Path, name: String, version: Long,
      retain: Int = 2): Manifest = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag '$name' must be non-empty and not all digits " +
        "(it would be ambiguous with a version number)")
    require(Files.exists(manifestFile(root, version)),
      s"version $version of $root is not retained — a tag can only pin " +
        "a still-existing snapshot")
    commitManifest(root, Map.empty,
      properties = Map(TagPrefix + name -> version.toString),
      retain = retain, operation = s"tag($name=v$version)")
  }

  /** Remove a tag; the pinned version ages out through normal retention
    * at the NEXT commit's GC. */
  def untag(root: Path, name: String, retain: Int = 2): Manifest =
    commitManifest(root, Map.empty,
      properties = Map(TagPrefix + name -> ""),
      retain = retain, operation = s"untag($name)")

  /** Resolve a tag name to its pinned version, None when absent. */
  def tagVersion(root: Path, name: String): Option[Long] =
    manifest(root).flatMap(_.properties.get(TagPrefix + name))
      .filter(_.nonEmpty).map(_.toLong)

  /** RESTORE TABLE TO VERSION AS OF: commit a NEW version whose
    * partitions, stats, and delete vectors are exactly those of a
    * retained `version` — time travel made durable. History is preserved
    * (the bad commits stay readable inside retention; nothing is ever
    * rewound in place) and the data move is zero bytes: the restored
    * manifest references the old version's still-retained dirs, which the
    * commit re-pins against GC. Table properties deliberately stay at
    * CURRENT: they hold writer idempotence state (the streaming sink's
    * last-committed epoch), and restoring data must not make a replayed
    * epoch look unprocessed. Fails with ConcurrentModificationException
    * if any writer lands between reading the head and publishing — a
    * restore built on a stale premise must not clobber fresh commits. */
  def restore(root: Path, version: Long, retain: Int = 2): Manifest = {
    require(Files.exists(manifestFile(root, version)),
      s"version $version is outside the retention window of $root")
    val targetR = rootAt(root, version)
    val cur = rootOpt(root).getOrElse(
      throw new IllegalStateException(s"$root has no commits"))
    targetR.inline match {
      case Some(target) =>
        // format-1 snapshot: its heavy state is inline in the old root —
        // commit it wholesale (one-time; the commit re-homes it into
        // blobs like any format-1 upgrade)
        commitManifest(root, written = target.partitions,
          newStats = target.stats,
          properties = Map("graft.restore.of" -> version.toString),
          dropPartitions = cur.partitions.keySet -- target.partitions.keySet,
          expectedVersion = Some(cur.version), retain = retain,
          newDeletes = target.deletes, operation = s"restore(v$version)",
          newFiles = target.files, newFileStats = target.fileStats,
          newSorted = target.sorted)
      case None =>
        // the target's blobs are still retained (its root is) — CARRY
        // the pointers instead of rewriting them: a restore is one new
        // ROOT, zero blob writes, zero data moves, whatever the table
        // size (the same O(touched)-metadata contract as any commit)
        commitManifest(root, written = targetR.partitions,
          newStats = targetR.stats,
          properties = Map("graft.restore.of" -> version.toString),
          dropPartitions = cur.partitions.keySet -- targetR.partitions.keySet,
          expectedVersion = Some(cur.version), retain = retain,
          newDeletes = targetR.deletes, operation = s"restore(v$version)",
          carryBlobs = targetR.blobs, carryCounts = targetR.fileCounts)
    }
  }

  /** CLONE TABLE: materialize a retained snapshot of `src` as a brand-new
    * independent table at `dst` — zero data bytes COPIED on a local
    * filesystem, because every referenced parquet file is HARD-LINKED
    * into the clone's own dir tree (`link(2)` shares the immutable bytes;
    * the committed files are never mutated in place by any writer path,
    * so shared extents are safe). Unlike Delta's shallow clone, the
    * result has an INDEPENDENT lifetime: the clone's manifest references
    * only clone-local dirs, so GC/vacuum/retention on either table can
    * never invalidate the other. Filesystems without cross-link support
    * (or a cross-device dst) fall back to a per-file copy. Stats, delete
    * vectors, and properties (incl. the vector key contract) carry over;
    * the clone starts at version 1 with a `graft.clone.of` marker. On an
    * object store the link step becomes the store's server-side copy —
    * still no bytes through the client. */
  def cloneTable(src: Path, dst: Path, version: Option[Long] = None,
      retain: Int = 2): Manifest = {
    val m = version.map(v => manifestAt(src, v)).orElse(manifest(src))
      .getOrElse(throw new IllegalArgumentException(
        s"$src has no committed manifest to clone"))
    require(currentVersion(dst).isEmpty, s"$dst already has commits")
    val dirs = (m.allDirs ++ m.deletes.values.flatten).toSet
    dirs.foreach { rel =>
      val from = src.resolve(rel)
      val to = dst.resolve(rel)
      Files.createDirectories(to)
      // clone only the COMMITTED files when the manifest lists them —
      // a zombie attempt's straggler stays behind in the source. Bloom
      // index files RIDE with their committed data file: `<file>.<col>
      // .bloom` sidecars of committed files and the dir's fold bundle
      // clone too, or the clone would silently lose its point skipping
      val committedOnly = m.files.get(rel).map(_.toSet)
      def keeps(name: String): Boolean = committedOnly.forall { set =>
        set(name) || name == graft.sources.GraftBloom.BundleName ||
          (name.endsWith(".bloom") &&
            set.exists(n => name.startsWith(n + ".")))
      }
      val s = Files.list(from)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
        keeps(f.getFileName.toString)).foreach { f =>
        val t = to.resolve(f.getFileName.toString)
        try { Files.createLink(t, f); () }
        catch {
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            Files.copy(f, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            ()
        }
      } finally s.close()
    }
    commitManifest(dst, written = m.partitions, newStats = m.stats,
      properties = m.properties +
        ("graft.clone.of" -> s"${src.toAbsolutePath}@v${m.version}"),
      newDeletes = m.deletes, retain = retain,
      operation = s"clone(v${m.version})", newFiles = m.files,
      newFileStats = m.fileStats, newSorted = m.sorted)
  }

  /** One scan per txn dir over the manifest's data dirs (basePath
    * restores the partition column from the dir names; a filter on it
    * pushes through the union into each scan's PartitionFilters). Dirs
    * with a committed-file list are read as exactly those files — a
    * zombie task attempt's straggler never enters the scan. Each scan's
    * data schema comes from one footer ([[txnScan]]), so building the
    * read starts no Spark job. */
  private def txnScans(spark: SparkSession, table: String,
      m: Manifest): Seq[DataFrame] = {
    val byTxn = m.allDirs.groupBy(txnDirOf)
    byTxn.toSeq.sortBy(_._1).map { case (txnDir, dirs) =>
      txnScan(spark, table, txnDir, dirs.flatMap { d =>
        m.files.get(d) match {
          case Some(names) => names.sorted.map(n => s"$d/$n")
          case None => Seq(d)
        }
      })
    }
  }

  /** A parquet scan of `paths` (table-relative files or partition dirs,
    * all under `txnDir`) whose data schema is read on the driver from
    * ONE footer: the first data file by path, its Spark row metadata
    * when present, else the parquet schema converted — the rule Spark's
    * own inference applies with `mergeSchema` off, without the job that
    * inference starts. The partition columns stay out of the passed
    * schema, so they are still restored, and typed, from the dir names.
    * With no data file to read (nothing committed there) the read falls
    * back to inference and fails as it always did. */
  private[etl] def txnScan(spark: SparkSession, table: String, txnDir: String,
      paths: Seq[String]): DataFrame = {
    val first = paths.sorted.iterator.flatMap { p =>
      val f = Paths.get(s"$table/$p")
      if (!Files.isDirectory(f)) Iterator(f)
      else {
        // Spark's listing skips hidden (`_`, `.`) files: markers and checksums
        val s = Files.list(f)
        try s.iterator.asScala.filter { q =>
          val n = q.getFileName.toString
          Files.isRegularFile(q) && !n.startsWith("_") && !n.startsWith(".")
        }.toSeq.sortBy(_.toString).iterator
        finally s.close()
      }
    }.nextOption()
    val reader = spark.read.option("basePath", s"$table/$txnDir")
    val full = paths.map(p => s"$table/$p")
    first match {
      case None => reader.parquet(full: _*)
      case Some(f) =>
        val conf = spark.sessionState.newHadoopConf()
        val path = new HPath(f.toUri)
        val in = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
          ParquetReadOptions.builder()
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        val footer = try in.getFooter finally in.close()
        val fileSchema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(path, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        val pcols = Paths.get(s"$table/$txnDir").relativize(f.getParent)
          .iterator.asScala.map(_.toString.takeWhile(_ != '=')).toSet
        reader.schema(StructType(fileSchema.filterNot(c => pcols(c.name))))
          .parquet(full: _*)
    }
  }

  private[etl] def readManifest(spark: SparkSession, table: String,
      schema: StructType, m: Manifest): DataFrame = {
    // ALTER ... RENAME COLUMN is metadata-only: files written before
    // the rename keep the old parquet name forever, and the manifest's
    // own rename properties resolve the declared name per txn. Absent
    // renames, the single-union shape below is byte-identical to the
    // historical one; a column NO generation carries still fails
    // loudly at resolution (usually a typo), exactly as before.
    val renames = graft.sources.GraftSource.renameAliases(m.properties)
    if (renames.isEmpty) {
      val df = txnScans(spark, table, m).reduce(_.unionByName(_))
      // the partition column comes back TYPE-INFERRED from dir names (an
      // all-numeric value like "2" reads as int); cast any column whose
      // read type differs from the caller's declared schema — compared by
      // catalogString, which ignores nullability, because a bare cast
      // between nullability variants of the same type is rejected — so
      // the contract is the schema, not the inference
      df.select(schema.map { f =>
        if (df.schema(f.name).dataType.catalogString == f.dataType.catalogString)
          col(f.name)
        else col(f.name).cast(f.dataType).as(f.name)
      }: _*)
    } else txnScans(spark, table, m).map { df =>
      // per-txn projection BEFORE the union: generations differ in
      // column names, so the union only meets already-aligned shapes
      val have = df.schema.fieldNames.toSet
      df.select(schema.map { f =>
        val n = (f.name +: renames.getOrElse(f.name, Nil))
          .find(have.contains)
          .getOrElse(f.name) // absent everywhere: fail loudly below
        (if (have.contains(n) &&
          df.schema(n).dataType.catalogString == f.dataType.catalogString)
          col(n)
         else col(n).cast(f.dataType)).as(f.name)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** Schema-evolution read: the table under an EVOLVED schema, where
    * partitions written before a column existed fill it with NULL and
    * narrower-typed history is widened by cast (int -> long, float ->
    * double — the parquet-compatible widenings). This is Delta's
    * `mergeSchema` read contract made explicit: adding a column (or
    * widening a type) is a METADATA-ONLY evolution — no old file is
    * rewritten, ever; new commits simply write the new shape and the
    * read reconciles. Deliberately a separate entry point from [[read]]:
    * the strict read still fails loudly on a column no file carries
    * (usually a typo), while this one declares "absent means null" on
    * purpose. Rename/drop are not evolutions here — they are rewrites. */
  def readEvolved(spark: SparkSession, table: String, schema: StructType): DataFrame =
    manifest(Paths.get(table)) match {
      case None => emptyFrame(spark, schema)
      case Some(m) => readManifestEvolved(spark, table, schema, m)
    }

  /** The evolved read of a SPECIFIC manifest, optionally RENAME-aware:
    * per txn scan, each target column resolves to itself or (pre-rename
    * txns) the newest historical alias the scan carries, columns the
    * txn predates entirely null-fill, and narrower history widens by
    * cast — all BEFORE the union, so every branch has identical shape.
    * A target name that was itself RENAMED AWAY (it appears as an OLD
    * name in the alias chains) fails LOUDLY instead of silently
    * null-filling the post-rename generations — the caller's schema is
    * stale (an incremental view defined before the rename) and must be
    * recreated, not fed nulls. */
  private[graft] def readManifestEvolved(spark: SparkSession, table: String,
      schema: StructType, m: Manifest,
      renames: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val renamedAway: Set[String] = renames.valuesIterator.flatten.toSet
    if (m.partitions.isEmpty)
      return emptyFrame(spark, schema)
    txnScans(spark, table, m).map { df =>
      val have = df.schema.fieldNames.toSet
      df.select(schema.map { f =>
        (f.name +: renames.getOrElse(f.name, Nil)).find(have.contains) match {
          case None =>
            if (renamedAway.contains(f.name))
              throw new IllegalStateException(
                s"column '${f.name}' of $table was renamed away — the " +
                  "caller's schema predates the rename; re-derive it " +
                  "from the current declared schema")
            lit(null).cast(f.dataType).as(f.name)
          case Some(n) =>
            (if (df.schema(n).dataType.catalogString == f.dataType.catalogString)
              col(n)
             else col(n).cast(f.dataType)).as(f.name)
        }
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** Manifest property naming the key columns every delete vector of
    * this table is keyed by (comma-joined, committed with the first
    * vector) — what makes a table with vectors self-describing enough
    * for [[compact]] / [[compactFragmented]] to fold them without being
    * told the keys. */
  val DeleteKeysProperty = "graft.dv.keys"

  /** Subtract `m`'s delete vectors (restricted to partition values in
    * `parts` when given) from `rows`: one anti-join on (key columns,
    * partition column) against the union of the vector files. The vector
    * side is only the keys deleted since those partitions were last
    * rewritten — small by the maintenance contract
    * ([[MergeInto.materializeDeletes]] folds it periodically) — so it is
    * broadcast; the 100 TB data side never moves. No-op when the
    * selected vector set is empty. */
  private[etl] def subtractDeletes(spark: SparkSession, table: String,
      schema: StructType, m: Manifest, rows: DataFrame,
      parts: Option[Set[String]] = None): DataFrame = {
    val sel = parts.fold(m.deletes)(p => m.deletes.filter { case (k, _) => p(k) })
    if (sel.isEmpty) return rows
    val keyCols = m.properties(DeleteKeysProperty).split(",").toSeq
    // the partition column names are in every vector dir name
    // (`data/txn-x/<col>=<val>` per level), same as the data dirs
    val partitionCols = partColsOfDir(sel.valuesIterator.next().head)
    val dirs = sel.values.flatten.toSeq.sorted
    val byTxn = dirs.groupBy(txnDirOf)
    val dv = byTxn.toSeq.sortBy(_._1).map { case (txnDir, ds) =>
      txnScan(spark, table, txnDir, ds)
    }.reduce(_.unionByName(_))
    val joinCols = keyCols ++ partitionCols
    val dvKeys = dv.select(joinCols.map { c =>
      val dt = schema(c).dataType
      (if (dv.schema(c).dataType.catalogString == dt.catalogString) col(c)
       else col(c).cast(dt)).as(c)
    }: _*)
    // a USING join moves the join columns to the front of the output;
    // restore the caller's column order
    rows.join(org.apache.spark.sql.functions.broadcast(dvKeys),
      joinCols, "left_anti").select(rows.columns.map(col): _*)
  }

  /** Per-table-root commit locks: concurrent writers in ONE JVM take the
    * root's lock around the claim loop so sibling threads don't burn
    * retries against each other — an efficiency courtesy, NOT the
    * correctness mechanism. Correctness against any concurrent writer,
    * same JVM or another OS process, is the create-new manifest claim in
    * [[tryPublishManifest]] (POSIX link(2) EEXIST): whoever links
    * `v<N+1>.json` first owns version N+1, everyone else re-reads and
    * retries at N+2. The DATA STAGING (the expensive parquet write)
    * stays outside the lock — writers overlap on everything but the
    * metadata claim, which is exactly the Delta/Iceberg commit-service
    * shape. WriterRaceSpec pins the in-JVM interleaving;
    * CrossProcessCommitSpec races real OS processes. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(root: Path): Object =
    commitLocks.computeIfAbsent(root.toAbsolutePath.normalize.toString,
      _ => new Object)

  /** The metadata half of a commit: merge `written` partitions (and
    * `newStats`, `properties`, minus `dropPartitions`) into the current
    * manifest and publish it as the next version, retrying the version
    * claim until it lands or `expectedVersion` proves the premise stale.
    * Public because it is the full cross-process commit protocol over
    * ALREADY-STAGED data dirs — [[replacePartitions]] delegates here
    * after staging, and the two-process race spec drives it directly
    * from a second JVM. `beforeCommit` runs once, after the merged
    * manifest is computed but before any claim attempt — throwing there
    * simulates a crash at the worst moment and must leave the table
    * unchanged. A written partition for which `appends` holds adds its
    * dirs to its current list instead of replacing it, and its zone map
    * merges under `statsSchema`'s column types. */
  def commitManifest(root: Path, written: Map[String, Seq[String]],
      newStats: Map[String, PartStats] = Map.empty,
      properties: Map[String, String] = Map.empty,
      dropPartitions: Set[String] = Set.empty,
      expectedVersion: Option[Long] = None, retain: Int = 1,
      beforeCommit: () => Unit = () => (),
      newDeletes: Map[String, Seq[String]] = Map.empty,
      operation: String = "write",
      appends: String => Boolean = _ => false,
      statsSchema: Option[StructType] = None,
      newFiles: Map[String, Seq[String]] = Map.empty,
      newFileStats: Map[String, Map[String, PartStats]] = Map.empty,
      overrideStats: Map[String, PartStats] = Map.empty,
      newSorted: Map[String, String] = Map.empty,
      carryBlobs: Map[String, String] = Map.empty,
      carryCounts: Map[String, Int] = Map.empty): Manifest =
    commitLock(root).synchronized {
      var hookRan = false
      var committed: Manifest = null
      while (committed == null) {
        // the O(partitions) root is all the merge needs — file-granular
        // state is loaded below ONLY for the partitions being rewritten
        val prev = rootOpt(root)
        expectedVersion.foreach { v =>
          val cur = prev.map(_.version).getOrElse(0L)
          if (cur != v) throw new java.util.ConcurrentModificationException(
            s"$root moved to v$cur since this rewrite read v$v; " +
              "staged data left as a vacuum-reclaimable orphan")
        }
        val prevParts = prev.map(_.partitions).getOrElse(Map.empty)
        val prevStats = prev.map(_.stats).getOrElse(Map.empty)
        val prevDels = prev.map(_.deletes).getOrElse(Map.empty)
        val blocked = written.keySet
          .filter(p => appends(p) && prevDels.get(p).exists(_.nonEmpty))
        if (blocked.nonEmpty) throw new IllegalStateException(
          // appended rows that reuse a vector-deleted key would be
          // wrongly re-deleted by the partition-scoped key vectors —
          // refuse loudly; the SQL write path folds the vectors first
          s"cannot append into partitions with outstanding delete " +
            s"vectors ${blocked.toSeq.sorted.mkString("[", ", ", "]")} " +
            s"of $root — fold them first (MergeInto.materializeDeletes)")
        val nextParts = (prevParts -- dropPartitions) ++ written.map {
          case (p, ds) =>
            p -> (if (appends(p)) prevParts.getOrElse(p, Nil) ++ ds else ds)
        }
        // zone maps: a replace installs the fresh stats; an append MERGES
        // (rows add, bounds widen) — but only when the column types are
        // known and BOTH sides carry the bound; otherwise the entry is
        // dropped so a partial zone map can never wrongly prune.
        // A partition's PREVIOUS map may be recorded under pre-rename
        // column names (stats follow the data — they only re-render when
        // the partition does), so translate it through the alias chain
        // to current names first, or the bound intersection would come
        // up empty on the first post-rename append and silently drop
        // that partition's pruning forever
        val oldToNew: Map[String, String] = graft.sources.GraftSource
          .renameAliases(prev.map(_.properties).getOrElse(Map.empty) ++
            properties)
          .iterator.flatMap { case (cur, olds) => olds.map(_ -> cur) }.toMap
        def statsToCurrentNames(s: PartStats): PartStats =
          if (oldToNew.isEmpty) s
          else PartStats(s.rows,
            s.mins.map { case (c, v) => oldToNew.getOrElse(c, c) -> v },
            s.maxs.map { case (c, v) => oldToNew.getOrElse(c, c) -> v })
        val nextStats = {
          val base = prevStats -- dropPartitions
          val merged = base -- written.keys ++ written.keys.flatMap { p =>
            val hadDirs = prevParts.get(p).exists(_.nonEmpty)
            (if (!appends(p) || !hadDirs) newStats.get(p)
             else (base.get(p), newStats.get(p), statsSchema) match {
              case (Some(a), Some(b), Some(sch)) =>
                Some(mergeStats(sch, statsToCurrentNames(a), b))
              case _ => None
            }).map(p -> _)
          }
          // stats-only installs (ANALYZE): replace entries for live
          // partitions without touching any data — the backfill path
          merged ++ overrideStats.filter { case (p, _) => nextParts.contains(p) }
        }
        // delete vectors APPEND per partition; replacing or dropping a
        // partition clears its vectors (the rewrite folded them — a
        // stale vector would re-delete a key the rewrite re-inserted);
        // a data APPEND leaves its partitions' vectors alone (they were
        // proven vector-free above)
        val delBase = prevDels -- dropPartitions --
          written.keys.filterNot(appends)
        // commit time, STRICTLY monotonic per table: two commits landing
        // inside one clock millisecond (or under clock skew between
        // processes) still order by timestamp exactly as they order by
        // version, so TIMESTAMP AS OF resolves to one unambiguous
        // version (Delta's commit-timestamp monotonicity adjustment)
        val ts = math.max(System.currentTimeMillis(),
          prev.map(_.tsMs + 1L).getOrElse(1L))
        val nextDeletes = delBase ++ newDeletes.map { case (p, ds) =>
          p -> (delBase.getOrElse(p, Nil) ++ ds) }

        // ---- two-tier file-granular metadata --------------------------
        // Rebuild blobs ONLY for the partitions this commit touches;
        // every other partition's blob pointer carries forward verbatim —
        // commit metadata I/O bounded by the commit's own footprint.
        val prevBlobs = prev.map(_.blobs).getOrElse(Map.empty[String, String])
        val prevInline = prev.flatMap(_.inline)
        // `carryBlobs` (restore): the caller installs a still-retained
        // version's blob POINTERS verbatim — those partitions are
        // written at the root level but need no blob rebuild
        val touched: Set[String] = written.keySet ++ dropPartitions ++
          (newFiles.keySet ++ newFileStats.keySet ++ newSorted.keySet)
            .map(partitionKeyOfDir) -- carryBlobs.keySet
        val carried = nextParts.keySet -- touched
        // format-1 upgrade: a pre-split manifest carries everything
        // inline — re-home every carried partition's heavy state into a
        // blob once; commits after that are O(touched) again
        val upgrade: Set[String] =
          if (prevInline.isDefined) carried -- carryBlobs.keySet
          else Set.empty
        def prevHeavy(p: String): PartBlob = prevInline match {
          case Some(m) =>
            val ds = m.partitions.getOrElse(p, Nil).toSet
            PartBlob(m.files.filter { case (d, _) => ds(d) },
              m.bytes.filter { case (d, _) => ds(d) },
              m.fileStats.filter { case (d, _) => ds(d) },
              m.sorted.filter { case (d, _) => ds(d) })
          case None =>
            prevBlobs.get(p).map(loadBlob(root, _)).getOrElse(PartBlob())
        }
        val newBlobData: Map[String, PartBlob] =
          (touched ++ upgrade).iterator.filter(nextParts.contains).map { p =>
            // committed-file lists / file zone maps / sort markers follow
            // their dirs (dirs are immutable): keep entries whose dir the
            // partition still references, add this commit's own
            val live = nextParts(p).toSet
            val pb = prevHeavy(p)
            def mine[A](m: Map[String, A]): Map[String, A] =
              m.filter { case (d, _) => live(d) && partitionKeyOfDir(d) == p }
            // per-dir byte totals, stat'd ONCE for dirs this commit
            // introduces — what lets a reader's estimateStatistics come
            // from metadata instead of O(files) RPCs per planning pass
            val bytes0 = pb.bytes.filter { case (d, _) => live(d) }
            p -> PartBlob(
              pb.files.filter { case (d, _) => live(d) } ++ mine(newFiles),
              bytes0 ++ (live -- bytes0.keySet).iterator
                .map(d => d -> dirParquetBytes(root.resolve(d))).toMap,
              pb.fileStats.filter { case (d, _) => live(d) } ++ mine(newFileStats),
              pb.sorted.filter { case (d, _) => live(d) } ++ mine(newSorted))
          }.toMap
        // blob files land BEFORE the root claim under fresh random names:
        // a lost race or crash orphans unreferenced blobs (vacuum sweeps
        // them by age), never tears a referenced one
        if (newBlobData.valuesIterator.exists(!_.isEmpty))
          Files.createDirectories(blobsDir(root))
        val newBlobNames: Map[String, String] = newBlobData.iterator
          .filter { case (_, b) => !b.isEmpty }
          .map { case (p, b) =>
            val name = s"pm-${UUID.randomUUID().toString.take(12)}.json"
            Files.writeString(blobsDir(root).resolve(name), renderBlob(b))
            p -> name
          }.toMap
        val nextBlobs: Map[String, String] =
          (carried -- upgrade).iterator
            .flatMap(p => prevBlobs.get(p).map(p -> _)).toMap ++
          carryBlobs.filter { case (p, _) => nextParts.contains(p) } ++
          newBlobNames
        // per-partition committed-FILE counts ride the root, so
        // maintenance scheduling (fragmentation scans, OPTIMIZE-where
        // planning) reads O(partitions) metadata and hydrates nothing:
        // rebuilt partitions count from their fresh blob — committed
        // file lists first, then per-file stats keys (also committed
        // names), then one dir listing (an UPPER bound: a zombie
        // attempt's straggler inflates it; compaction over-scheduling
        // is the worst case, never a wrong read) — untouched partitions
        // carry forward
        val prevCounts = prev.map(_.fileCounts)
          .getOrElse(Map.empty[String, Int])
        val newCounts: Map[String, Int] = newBlobData.iterator
          .map { case (p, b) =>
            p -> nextParts(p).map(d => b.files.get(d).map(_.size)
              .orElse(b.fileStats.get(d).map(_.size))
              .getOrElse(dirParquetCount(root.resolve(d)))).sum
          }.toMap
        val nextCounts: Map[String, Int] =
          (carried -- upgrade).iterator
            .flatMap(p => prevCounts.get(p).map(p -> _)).toMap ++
          carryCounts.filter { case (p, _) => nextParts.contains(p) } ++
          newCounts

        val nextRoot = ManifestRoot(prev.map(_.version).getOrElse(0L) + 1L,
          nextParts,
          prev.map(_.properties).getOrElse(Map.empty) ++ properties,
          nextStats, nextDeletes, ts, operation, nextBlobs, None,
          nextCounts)
        if (!hookRan) { beforeCommit(); hookRan = true }
        // the commit point: atomically claim the version slot; a lost
        // claim means another PROCESS committed meanwhile (threads are
        // serialized by the lock) — re-read its manifest and re-merge
        if (tryPublishManifest(root, nextRoot.version, renderRoot(nextRoot)))
          // the returned manifest's file-granular maps cover the
          // partitions this commit rebuilt; carried partitions' blobs
          // are deliberately NOT loaded (O(touched) commit contract) —
          // all four maps are optional-by-contract, and a caller that
          // needs the full view reads `manifest(root)`
          committed = Manifest(nextRoot.version, nextParts,
            nextRoot.properties, nextStats, nextDeletes, ts, operation,
            files = newBlobData.iterator.flatMap(_._2.files).toMap,
            bytes = newBlobData.iterator.flatMap(_._2.bytes).toMap,
            fileStats = newBlobData.iterator.flatMap(_._2.fileStats).toMap,
            sorted = newBlobData.iterator.flatMap(_._2.sorted).toMap)
      }
      advancePointer(root, committed.version)
      gc(root, committed, retain)
      committed
    }

  /** Committed parquet files in a dir — one listing, commit time only. */
  private def dirParquetCount(dir: Path): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.count(
        _.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  /** Total bytes of a staged dir's parquet files — one listing, at
    * commit time only (dirs are immutable once committed). */
  private def dirParquetBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.list(dir)
      try s.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => try Files.size(p) catch { case _: java.io.IOException => 0L })
        .sum
      finally s.close()
    }

  /** Widen two zone-map fragments of one partition (append merge): rows
    * add; a column's merged bound exists only when BOTH fragments bound
    * it (an unbounded side means the union is unbounded). */
  private def mergeStats(schema: StructType, a: PartStats,
      b: PartStats): PartStats = {
    def bound(x: Map[String, String], y: Map[String, String],
        takeMin: Boolean): Map[String, String] =
      x.keySet.intersect(y.keySet).flatMap { c =>
        schema.fields.find(_.name == c).map { f =>
          val cmp = statsCompare(f.dataType, x(c), y(c))
          c -> (if ((cmp <= 0) == takeMin) x(c) else y(c))
        }
      }.toMap
    PartStats(a.rows + b.rows, bound(a.mins, b.mins, takeMin = true),
      bound(a.maxs, b.maxs, takeMin = false))
  }

  /** Atomically replace the partitions present in `rows` (values of
    * `partitionCol`), leaving all other partitions at their current data
    * dirs. `beforeCommit` is a test hook invoked after the staged data is
    * durable but before the version swap — throwing there simulates a
    * crash at the worst moment and must leave the table unchanged. */
  /** `retain` = how many trailing versions stay readable (via `readAt`)
    * after this commit; 1 keeps only the new version (no time travel). */
  /** `statsColumns`: record a per-partition zone map (row count + min/max
    * of each listed column) for the REPLACED partitions, computed in one
    * partial-aggregated pass over the staged rows — metadata-scale next
    * to the parquet write. A replaced partition always DROPS its previous
    * stats entry first, so a commit without stats can never leave a stale
    * zone map that [[readPruned]] would wrongly prune on. */
  /** `dropPartitions`: partition values removed from the manifest in the
    * SAME atomic commit that lands `rows` — the primitive a consolidation
    * job needs (rewrite many small partitions into one, drop the
    * originals, one version swap; readers never see both or neither).
    * The dropped dirs age out through the normal retention GC.
    *
    * `expectedVersion`: optimistic concurrency for READ-MODIFY-WRITE
    * jobs (compaction, consolidation): they read the table at some
    * version, derive a rewrite from what they read, and must not commit
    * it over data another writer replaced meanwhile — plain commits
    * merge at the PARTITION level, but a rewrite of partition p built
    * from stale p would silently undo the concurrent change. Passing the
    * version the job read makes the commit abort
    * (ConcurrentModificationException) if any other commit landed first;
    * the staged dir becomes a vacuum-reclaimable orphan and the
    * maintenance job simply runs again later. */
  /** Column derivation of a SYNTHETIC partition level's dir value from
    * its source column, for staged `partitionBy` writes. Level-name
    * grammar mirrors the sources-layer parsers (`<col>_bucket<N>`,
    * `_days`/`_months`/`_years`, `<col>_trunc<W>`); a name that IS a
    * data column is never synthetic (the caller checks first). None →
    * unknown shape, let partitionBy fail loudly. */
  private[etl] def syntheticLevelColumn(level: String,
      schema: StructType): Option[org.apache.spark.sql.Column] = {
    val Bucket = """^(.+)_bucket([0-9]+)$""".r
    val Trunc = """^(.+)_trunc([0-9]+)$""".r
    def typed(s: String): Option[(String, org.apache.spark.sql.types.DataType)] =
      schema.fields.find(_.name == s).map(f => f.name -> f.dataType)
    level match {
      case Bucket(s, n) => typed(s).map { case (c, _) =>
        pmod(hash(col(c)), lit(n.toInt)) } // hash() IS murmur3 seed 42
      case Trunc(s, w) => typed(s).map {
        case (c, org.apache.spark.sql.types.StringType) =>
          substring(col(c), 1, w.toInt)
        case (c, _) => // integral floors
          (col(c).cast("long") - pmod(col(c).cast("long"), lit(w.toLong)))
      }
      case _ if level.endsWith("_hours") =>
        typed(level.dropRight(6)).map { case (c, _) =>
          date_format(col(c), "yyyy-MM-dd-HH") }
      case _ if level.endsWith("_days") =>
        typed(level.dropRight(5)).map { case (c, _) =>
          date_format(col(c), "yyyy-MM-dd") }
      case _ if level.endsWith("_months") =>
        typed(level.dropRight(7)).map { case (c, _) =>
          date_format(col(c), "yyyy-MM") }
      case _ if level.endsWith("_years") =>
        typed(level.dropRight(6)).map { case (c, _) =>
          date_format(col(c), "yyyy") }
      case _ => None
    }
  }

  /** `appends`: the written partitions whose staged dirs APPEND to their
    * current ones; every other written partition is replaced — one
    * staged write and one commit for a MERGE that rewrites some
    * partitions and only inserts into others. */
  /** `sortedBy`: the caller asserts every staged FILE's rows are sorted
    * by these columns (ascending, nulls first) — recorded per dir so the
    * DSv2 scan can report output ordering. Only pass it when the input
    * really is per-task sorted with the partition columns leading (the
    * staged partitionBy write then keeps the arrival order: its required
    * ordering is already satisfied, so no re-sort is inserted). */
  def replacePartitions(spark: SparkSession, table: String, rows: DataFrame,
      partitionCol: String, beforeCommit: () => Unit = () => (),
      properties: Map[String, String] = Map.empty, retain: Int = 1,
      statsColumns: Seq[String] = Nil,
      dropPartitions: Set[String] = Set.empty,
      expectedVersion: Option[Long] = None,
      operation: String = "write",
      appends: String => Boolean = _ => false,
      sortedBy: Seq[String] = Nil,
      bloomBy: Seq[String] = Nil): Manifest = {
    val pcols = partCols(partitionCol)
    require(pcols.nonEmpty, "replacePartitions needs a partition column")
    pcols.foreach(c => require(!statsColumns.contains(c),
      s"statsColumns must not include the partition column '$c': " +
        "partition pruning already handles it, and the staged files do " +
        "not physically carry it (its inferred stand-in could record " +
        "bounds under the wrong type and mis-prune)"))
    val root = Paths.get(table)
    val txn = s"txn-${UUID.randomUUID().toString.take(12)}"
    // SYNTHETIC levels (bucket/transform specs, absent from the data):
    // materialize the level's dir value as a derived column so the
    // staged partitionBy fans out by it — maintenance rewrites
    // (compaction, spec evolution) of bucketed/time-partitioned tables
    // then route every row back to its ORIGINAL segment. The derivation
    // must equal the DSv2 writer's (hash() IS murmur3 seed 42 =
    // GraftBuckets.bucketId; date_format in the engine's pinned UTC
    // session = GraftTransforms.dirValue) — GraftSyntheticMaintSpec pins
    // the equality end-to-end: a post-compaction pruned lookup returns
    // empty if a row changed segments.
    val staged = pcols.foldLeft(rows) { (df, c) =>
      if (df.columns.contains(c)) df
      else syntheticLevelColumn(c, df.schema) match {
        case Some(expr) => df.withColumn(c, expr)
        case None => df // partitionBy will fail loudly below
      }
    }
    staged.write.partitionBy(pcols: _*).parquet(root.resolve("data").resolve(txn).toString)
    val txnDir = root.resolve("data").resolve(txn)
    val written = stagedPartitionDirs(txnDir, txn, pcols)
    // the staged files, listed once, before any bloom sidecar lands
    // next to them, and read with a footer schema: no inference job
    lazy val stagedScan = txnScan(spark, table, s"data/$txn",
      written.values.flatten.toSeq)
    // rebuild bloom sidecars for the rewritten files (a rewrite that
    // dropped them would silently lose point-lookup skipping): one
    // grouped aggregation over the staged bytes, one 8 KiB buffer per
    // (file, column) to the driver — bounded by the rewrite's own size
    if (bloomBy.nonEmpty && written.nonEmpty)
      writeBloomSidecars(stagedScan, bloomBy)
    val (newStats: Map[String, PartStats],
         newFileStats: Map[String, Map[String, PartStats]]) =
      if (statsColumns.isEmpty || written.isEmpty)
        (Map.empty[String, PartStats], Map.empty[String, Map[String, PartStats]])
      else {
        // stats MUST come from the staged parquet, never from a second
        // execution of `rows`: a non-deterministic input plan (range
        // partitioner sampling, rand(), spark_partition_id over a fresh
        // shuffle) can place rows differently on re-execution, and a
        // committed zone map that does not bound the written files makes
        // readPruned silently drop qualifying partitions. ONE scan of
        // the txn dir (a commit replacing thousands of partitions must
        // not build thousands of per-dir plans), keyed by the partition
        // DIR NAME extracted from each row's file path and mapped back
        // to the manifest key driver-side — never through Spark's
        // partition-VALUE inference, which would read part=00123 as int
        // 123 and orphan or cross-wire its stats. Only the stats columns
        // are scanned, thanks to parquet column pruning.
        val dirToKey: Map[String, String] = written.keys.map(k =>
          partKeyValues(k, pcols.size)
            .map(ExternalCatalogUtils.escapePathName).mkString("/") -> k).toMap
        // anchored to the trailing path segments (greedy .* takes the
        // last occurrence): a table rooted under an ancestor dir that
        // itself contains "<partitionCol>=" must not hijack the key;
        // one capture group per partition level, re-joined with '/'
        val dirPattern =
          ".*/" + pcols.map(c =>
            java.util.regex.Pattern.quote(s"$c=") + "([^/]+)").mkString("/") +
            "/[^/]*$"
        val fname = org.apache.spark.sql.functions.input_file_name()
        val dirExpr =
          if (pcols.size == 1)
            org.apache.spark.sql.functions.regexp_extract(fname, dirPattern, 1)
          else org.apache.spark.sql.functions.concat_ws("/",
            pcols.indices.map(g => org.apache.spark.sql.functions
              .regexp_extract(fname, dirPattern, g + 1)): _*)
        // grouped per FILE, not per dir: each group IS one staged
        // file's zone map, and the per-partition map folds from them
        // driver-side (null-tolerant: a file whose column is all-null
        // carries no bound and simply doesn't narrow the fold — SQL
        // min/max ignore nulls the same way)
        val fileExpr = org.apache.spark.sql.functions.regexp_extract(
          fname, ".*/([^/]+)$", 1)
        val staged = stagedScan.select(statsColumns.map(col) ++
          Seq(dirExpr.as("_dir"), fileExpr.as("_file")): _*)
        val aggs = Seq(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("_rows")) ++
          statsColumns.flatMap(c => Seq(
            org.apache.spark.sql.functions.min(col(c)).cast("string").as(s"_min_$c"),
            org.apache.spark.sql.functions.max(col(c)).cast("string").as(s"_max_$c")))
        val perFile = staged.groupBy(col("_dir"), col("_file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            // input_file_name URI-encodes the path; the dir segment may
            // be percent-encoded on top of Hive's own escaping — decode
            // %XX sequences ONLY until it resolves against the written
            // keys (URLDecoder is form decoding: it would turn a literal
            // '+' in a partition value into a space and could collapse
            // two distinct partitions onto one stats key)
            val raw = r.getString(0)
            // per-level decoding: each captured segment is '/'-free, so
            // the joined form splits back unambiguously at every level
            def perSeg(s: String)(f: String => String): String =
              s.split("/", -1).iterator.map(f).mkString("/")
            val key = dirToKey.getOrElse(raw,
              dirToKey.getOrElse(perSeg(raw)(percentDecode),
                partKey(perSeg(raw)(percentDecode).split("/", -1).toSeq
                  .map(ExternalCatalogUtils.unescapePathName))))
            (key, r.getString(1), PartStats(r.getLong(2),
              statsColumns.zipWithIndex.flatMap { case (c, i) =>
                Option(r.getString(3 + 2 * i)).map(c -> _) }.toMap,
              statsColumns.zipWithIndex.flatMap { case (c, i) =>
                Option(r.getString(4 + 2 * i)).map(c -> _) }.toMap))
          }
        val folded = perFile.groupBy(_._1).map { case (key, sts) =>
          key -> sts.map(_._3).reduce(foldFileStats(rows.schema, _, _))
        }
        (folded, perFile.groupBy(t => written(t._1).head).map {
          case (dir, sts) => dir -> sts.map(t => t._2 -> t._3).toMap
        })
      }
    commitManifest(root, written, newStats,
      properties ++
        (if (bloomBy.isEmpty) Map.empty
         else Map(graft.sources.GraftSource.BloomColsProperty ->
           bloomBy.mkString(","))),
      dropPartitions,
      expectedVersion, retain, beforeCommit, operation = operation,
      appends = appends, statsSchema = Some(rows.schema),
      newFileStats = newFileStats,
      newSorted =
        if (sortedBy.isEmpty) Map.empty
        else written.values.flatten.map(_ -> sortedBy.mkString(",")).toMap)
  }

  /** Fold two FILES' stats into their partition's: rows add, bounds
    * widen, and a side with no bound (all-null column in that file)
    * does not narrow the result — exactly SQL min/max over the union.
    * Distinct from [[mergeStats]], whose one-sided-absent case means
    * "unknown rows" and must DROP the bound. */
  private def foldFileStats(schema: StructType, a: PartStats,
      b: PartStats): PartStats = {
    def bound(x: Map[String, String], y: Map[String, String],
        takeMin: Boolean): Map[String, String] =
      (x.keySet ++ y.keySet).flatMap { c =>
        schema.fields.find(_.name == c).map { f =>
          val v = (x.get(c), y.get(c)) match {
            case (Some(p), Some(q)) =>
              val cmp = statsCompare(f.dataType, p, q)
              if ((cmp <= 0) == takeMin) p else q
            case (Some(p), None) => p
            case (None, Some(q)) => q
            case _ => throw new IllegalStateException("unreachable")
          }
          c -> v
        }
      }.toMap
    PartStats(a.rows + b.rows, bound(a.mins, b.mins, takeMin = true),
      bound(a.maxs, b.maxs, takeMin = false))
  }

  /** Stage `rows` and APPEND them to their partitions — INSERT INTO:
    * existing data dirs are untouched, each touched partition's dir
    * list grows by one, zone maps merge (bounds widen, rows add).
    * Concurrent appends into the same partition both survive: each
    * lands its own dir and the manifest merge is list-level. Refused
    * when a touched partition has outstanding delete vectors (fold
    * them first — see [[commitManifest]]). */
  def appendPartitions(spark: SparkSession, table: String, rows: DataFrame,
      partitionCol: String, properties: Map[String, String] = Map.empty,
      retain: Int = 1, statsColumns: Seq[String] = Nil,
      operation: String = "append"): Manifest =
    replacePartitions(spark, table, rows, partitionCol,
      properties = properties, retain = retain,
      statsColumns = statsColumns, operation = operation, appends = _ => true)

  /** Bin-pack the table's files: rewrite every partition with one task per
    * partition value, committed through the same atomic protocol. Many
    * incremental commits leave each partition with one small file per
    * writer task; at 100 TB the small-file tax (NameNode/listing pressure,
    * per-file open cost, tiny row groups that defeat min/max skipping)
    * makes periodic compaction a first-class maintenance operator — this
    * is `OPTIMIZE` without the Delta dependency. Readers racing the
    * compaction keep their snapshot: the rewrite lands as a new version.
    *
    * The hash repartition on the partition column sends each partition
    * value to exactly one task, so each partition dir ends up with one
    * file (pass `filesPerPartition > 1` to spread very large partitions —
    * repartitions on (partitionCol, random-ish split) instead). */
  def compact(spark: SparkSession, table: String, schema: StructType,
      partitionCol: String, filesPerPartition: Int = 1,
      retain: Int = 1, clusterBy: Seq[String] = Nil): Manifest = {
    val root = Paths.get(table)
    val m = manifest(root).getOrElse(return Manifest(0L, Map.empty))
    // fold any merge-on-read delete vectors into the rewrite: the commit
    // replaces (or, if a partition came out empty, drops) every current
    // partition, which clears their vectors in the same swap — without
    // the fold, the rewrite would resurrect every vector-deleted key
    val current = subtractDeletes(spark, table, schema, m,
      readManifest(spark, table, schema, m))
    val pcolExprs = partCols(partitionCol).map(col)
    val packed = packForWrite(current, pcolExprs, schema, filesPerPartition,
      clusterBy, m.partitions.size)
    // pinned read + optimistic commit: deriving the rewrite from version
    // m and committing over a concurrent writer would clobber it
    // carry the zone maps through the rewrite: a compaction that drops
    // the table's skipping stats silently degrades every later pruned
    // read — recompute them for the tracked columns already in force
    val trackedCols = m.stats.values
      .flatMap(st => st.mins.keySet ++ st.maxs.keySet).toSeq.distinct.sorted
    replacePartitions(spark, table, packed, partitionCol,
      dropPartitions = m.partitions.keySet, expectedVersion = Some(m.version),
      operation = "compact", retain = retain, statsColumns = trackedCols)
  }

  /** Layout of a compaction rewrite. Default: hash each partition value
    * to one task (one file per partition; `filesPerPartition > 1`
    * spreads very large partitions by a row-hash split). With
    * `clusterBy`: RANGE-partition on (partition cols, cluster cols) and
    * sort within tasks, so a partition's several files carry DISJOINT
    * cluster-column ranges — which is what makes FILE-level zone maps
    * actually prune a range read inside a big partition (Delta's
    * `OPTIMIZE ... ZORDER BY`'s purpose, done as linear range
    * clustering; compose [[graft.ops.Layout.zValue]] into a derived
    * column for the 2-D curve form). The sort additionally tightens
    * parquet row-group stats inside each file. */
  private def packForWrite(current: DataFrame, pcolExprs: Seq[org.apache.spark.sql.Column],
      schema: StructType, filesPerPartition: Int, clusterBy: Seq[String],
      nPartitions: Int): DataFrame =
    if (clusterBy.nonEmpty && filesPerPartition <= 1) {
      // one task per partition VALUE (hash, not range: a range boundary
      // need not align with partition boundaries, and a partition split
      // across two range tasks would land two files where the caller
      // asked for one) with the in-task sort that makes the single file
      // cluster-sorted — the layout the scan's ordering report needs
      val exprs = pcolExprs ++ clusterBy.map(col)
      current.repartition(pcolExprs: _*).sortWithinPartitions(exprs: _*)
    } else if (clusterBy.nonEmpty) {
      val exprs = pcolExprs ++ clusterBy.map(col)
      val n = math.max(1, nPartitions * math.max(filesPerPartition, 1))
      current.repartitionByRange(n, exprs: _*).sortWithinPartitions(exprs: _*)
    }
    else if (filesPerPartition <= 1) current.repartition(pcolExprs: _*)
    else current.repartition(pcolExprs :+
      pmod(xxhash64(schema.fieldNames.map(col): _*), lit(filesPerPartition.toLong)): _*)

  /** Targeted compaction: rewrite ONLY the partitions whose file count
    * has reached `minFiles`, leaving every healthy partition's bytes
    * untouched (carried forward in the manifest by reference). The plain
    * [[compact]] rewrites the WHOLE table — at 100 TB that is a full
    * table rewrite to fix a few hot partitions' small-file debt; this is
    * the `OPTIMIZE WHERE` form a maintenance scheduler actually runs:
    * cost ∝ fragmented data, not table size. Returns the current
    * manifest unchanged when nothing is fragmented. */
  def compactFragmented(spark: SparkSession, table: String,
      schema: StructType, partitionCol: String, minFiles: Int,
      statsColumns: Seq[String] = Nil, retain: Int = 1,
      clusterBy: Seq[String] = Nil, filesPerPartition: Int = 1,
      bloomBy: Seq[String] = Nil): Manifest = {
    val root = Paths.get(table)
    // the fragmentation scan reads the ROOT's per-partition file
    // counts — maintenance scheduling is O(partitions) metadata, zero
    // blob reads; partitions a pre-counts root doesn't cover fall back
    // to their own blobs/listings, bounded to exactly those. The whole
    // derivation sits under withHeadRoot: a concurrent commit+gc can
    // delete a blob between the root read and its hydration, in which
    // case scheduling simply re-derives from the fresh root.
    val derived: Either[Manifest, (Manifest, Set[String])] =
      withHeadRoot[Either[Manifest, (Manifest, Set[String])]](root)(
        Left(Manifest(0L, Map.empty))) { r =>
        val unknown = r.partitions.keySet.filterNot(r.fileCounts.contains)
        val fallbackCounts: Map[String, Int] =
          if (unknown.isEmpty) Map.empty
          else {
            val mu = hydrate(root, r, unknown)
            unknown.iterator.map { p =>
              p -> r.partitions(p).map(d =>
                mu.files.get(d).map(_.size)
                  .orElse(mu.fileStats.get(d).map(_.size))
                  .getOrElse(dirParquetCount(root.resolve(d)))).sum
            }.toMap
          }
        val counts = r.fileCounts ++ fallbackCounts
        val fragmented = r.partitions.keySet
          .filter(p => counts.getOrElse(p, 0) >= minFiles)
        if (fragmented.isEmpty) Left(hydrate(root, r, Set.empty))
        // hydrate ONLY the fragmented partitions' blobs for the rewrite
        else Right((hydrate(root, r, fragmented), fragmented))
      }
    val (m, fragmented) = derived match {
      case Left(asIs) => return asIs
      case Right(t) => t
    }
    // read ONLY the fragmented partitions' dirs, selected by manifest
    // PATH — never by an isin on the restored partition column, whose
    // inferred type need not round-trip the manifest key (part=00123
    // reads back as int 123, and "123" != "00123" would silently skip
    // the partition). The rewrite commits with dropPartitions so the
    // original keys leave the manifest in the same atomic swap even if
    // the rewritten dir names render differently under inference.
    // fold the fragmented partitions' delete vectors (those partitions
    // are all rewritten or dropped by this commit, clearing the vectors);
    // healthy partitions keep both their bytes AND their vectors
    val rows = packForWrite(
      subtractDeletes(spark, table, schema, m,
        readManifest(spark, table, schema,
          m.copy(partitions = m.partitions.filter { case (k, _) => fragmented(k) })),
        Some(fragmented)),
      partCols(partitionCol).map(col), schema, filesPerPartition, clusterBy,
      fragmented.size)
    // pinned read + optimistic commit: the rewrite was derived from
    // version m; if another writer replaced one of these partitions
    // meanwhile, committing would clobber it — abort instead
    replacePartitions(spark, table, rows, partitionCol,
      statsColumns = statsColumns, dropPartitions = fragmented,
      expectedVersion = Some(m.version), operation = "compact",
      retain = retain,
      // the clustered rewrite range-sorts (partition cols, clusterBy)
      // within tasks, so each staged file is internally clusterBy-sorted
      // — but only identity levels keep that order through the staged
      // partitionBy write (a synthetic level is re-derived as a new
      // column there, whose required sort is not satisfied by the
      // source-column order, and the inserted sort is not stable)
      sortedBy =
        if (partCols(partitionCol).forall(rows.columns.contains)) clusterBy
        else Nil,
      bloomBy = bloomBy)
  }

  /** PARTITION-SPEC EVOLUTION: rewrite the table's current contents
    * under a NEW partition layout (e.g. "ym" -> "ym,status") in one
    * optimistic commit — Iceberg's evolve-spec operation done as an
    * explicit rewrite, which is the honest cost here: every row
    * changes dirs, so this is a full-table rewrite of the same class
    * as [[compact]] (run it as maintenance; readers keep their
    * snapshot, a concurrent writer aborts the evolution, never the
    * reverse). Outstanding delete vectors fold into the rewrite; zone
    * maps are recomputed for the columns already tracked (minus any
    * now serving as partition levels — partition pruning covers them).
    * Catalog-declared tables: also update the declared meta
    * ([[graft.sources.GraftCatalog.repartitionDeclaredTable]] wraps
    * both halves). */
  def repartitionTable(spark: SparkSession, table: String,
      schema: StructType, newSpec: String, retain: Int = 1): Manifest = {
    val root = Paths.get(table)
    val m = manifest(root).getOrElse(return Manifest(0L, Map.empty))
    val pcols = partCols(newSpec)
    // a level is either a schema column (identity) or a SYNTHETIC
    // bucket/transform level derivable from one (see
    // syntheticLevelColumn) — evolution TO a bucketed/time layout
    pcols.foreach(c => require(schema.fieldNames.contains(c) ||
      syntheticLevelColumn(c, schema).isDefined,
      s"partition column '$c' is not in the table schema"))
    // an empty (but committed) table has no rows to relocate and no scan
    // to union — the layout lives in dir names (and, for declared
    // tables, the catalog meta the caller updates), so the evolution is
    // already complete
    if (m.partitions.isEmpty) return m
    val current = subtractDeletes(spark, table, schema, m,
      readManifest(spark, table, schema, m))
    val trackedCols = m.stats.values
      .flatMap(st => st.mins.keySet ++ st.maxs.keySet).toSeq.distinct.sorted
      .filterNot(pcols.contains)
    // cluster by the DERIVED level values (bucket id / transform dir
    // value) so each new segment lands in one task = one file
    val clusterExprs = pcols.map(c =>
      if (schema.fieldNames.contains(c)) col(c)
      else syntheticLevelColumn(c, schema).get)
    replacePartitions(spark, table, current.repartition(clusterExprs: _*),
      newSpec, dropPartitions = m.partitions.keySet,
      expectedVersion = Some(m.version), operation = "repartition",
      retain = retain, statsColumns = trackedCols)
  }

  /** ANALYZE: backfill partition- AND file-level zone maps for
    * `statsColumns` over the CURRENT snapshot without moving a byte —
    * this format's `ANALYZE TABLE`, for tables that declared no stats
    * at write time (or grew a newly tracked column): ONE column-pruned
    * scan of the committed parquet computes per-FILE bounds, partition
    * stats fold from them driver-side with the shared comparator, and a
    * stats-only commit installs both levels (operation "analyze",
    * optimistic against the analyzed version — a concurrent writer
    * aborts the stale stats, never the reverse). Bounds render with the
    * same cast-as-string encoding every writer uses, so pruned reads
    * compare them with one comparator. Outstanding delete vectors only
    * leave bounds OVER-wide (vectors subtract rows at read), which can
    * never mis-prune; the recorded row counts are physical. Cost: one
    * scan of the stats columns only (parquet column pruning), plus one
    * driver row per committed file — metadata-bounded, like the
    * manifest itself. */
  def analyzeStats(spark: SparkSession, table: String, schema: StructType,
      partitionCol: String, statsColumns: Seq[String],
      retain: Int = 1): Manifest = {
    import org.apache.spark.sql.functions.{count, input_file_name, max, min}
    val root = Paths.get(table)
    val m = manifest(root).getOrElse(return Manifest(0L, Map.empty))
    val pcols = partCols(partitionCol)
    if (m.partitions.isEmpty || statsColumns.isEmpty) return m
    statsColumns.foreach { c =>
      require(!pcols.contains(c),
        s"'$c' is a partition column — partition pruning already covers it")
      require(schema.fieldNames.contains(c),
        s"stats column '$c' is not in the table schema")
    }
    val dirToPart: Map[String, String] = m.partitions.toSeq
      .flatMap { case (p, ds) => ds.map(d => d -> p) }.toMap
    val filesByDir: Seq[(String, Seq[String])] =
      dirToPart.keys.toSeq.sorted.map { d =>
        val names = m.files.getOrElse(d, {
          val dir = root.resolve(d)
          if (!Files.isDirectory(dir)) Nil
          else {
            val s = Files.list(dir)
            try s.iterator.asScala.map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toList.sorted
            finally s.close()
          }
        })
        d -> names
      }
    val paths = filesByDir.flatMap { case (d, ns) =>
      ns.map(n => root.resolve(d).resolve(n).toString) }
    if (paths.isEmpty) return m
    // data files never carry the partition columns physically
    val dataSchema = StructType(schema.filterNot(f => pcols.contains(f.name)))
    // Pre-rename files store a stats column under its OLD parquet field
    // name, and this whole-table read resolves by CURRENT name only —
    // so those files contributed all-nulls (inflated null counts,
    // deflated NDV feeding CBO, and min/max blind to old-generation
    // values). The scan path alias-resolves per file; a whole-table agg
    // can't — but reading current + alias names (explicit-schema
    // parquet null-fills missing columns) and COALESCING is equivalent:
    // exactly one generation's field exists in any given file. An alias
    // colliding with a DIFFERENT live column's name is skipped
    // (conservative — never folds another column's values in).
    val aliasesOf: Map[String, Seq[String]] =
      graft.sources.GraftSource.renameAliases(m.properties)
        .map { case (c, olds) =>
          c -> olds.filterNot(dataSchema.fieldNames.contains) }
    val aliasFields = statsColumns.flatMap { c =>
      aliasesOf.getOrElse(c, Nil).map(a => dataSchema(c).copy(name = a)) }
    val readSchema = StructType(dataSchema ++ aliasFields)
    def resolvedCol(c: String): Column = {
      val names = c +: aliasesOf.getOrElse(c, Nil)
      if (names.size == 1) col(c)
      else org.apache.spark.sql.functions.coalesce(names.map(col): _*)
    }
    val aggs = Seq(count(lit(1)).as("_rows")) ++ statsColumns.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"_min_$c"),
      max(col(c)).cast("string").as(s"_max_$c")))
    val perFile = spark.read.schema(readSchema).parquet(paths: _*)
      .select(statsColumns.map(c => resolvedCol(c).as(c)) :+
        input_file_name().as("_f"): _*)
      .groupBy(col("_f")).agg(aggs.head, aggs.tail: _*)
      .collect() // one row per committed FILE — metadata-bounded
    // map each scanned path back to its committed (dir, name):
    // percent-decode segments only until they resolve against the
    // manifest (never form decoding — a literal '+' must survive)
    val known: Set[String] =
      filesByDir.flatMap { case (d, ns) => ns.map(n => s"$d/$n") }.toSet
    def relOf(raw: String): Option[String] = {
      val i = raw.lastIndexOf("/data/")
      if (i < 0) None
      else {
        val tail = "data/" + raw.substring(i + 6)
        def perSeg(s: String)(f: String => String): String =
          s.split("/", -1).iterator.map(f).mkString("/")
        if (known(tail)) Some(tail)
        else Some(perSeg(tail)(percentDecode)).filter(known)
      }
    }
    val fileStats =
      scala.collection.mutable.Map.empty[String,
        scala.collection.mutable.Map[String, PartStats]]
    perFile.foreach { r =>
      val rel = relOf(r.getString(0)).getOrElse(throw new IllegalStateException(
        s"analyze could not map scanned file '${r.getString(0)}' back to " +
          s"a committed file of $table"))
      val cut = rel.lastIndexOf('/')
      val st = PartStats(r.getLong(1),
        statsColumns.zipWithIndex.flatMap { case (c, i) =>
          Option(r.getString(2 + 2 * i)).map(c -> _) }.toMap,
        statsColumns.zipWithIndex.flatMap { case (c, i) =>
          Option(r.getString(3 + 2 * i)).map(c -> _) }.toMap)
      fileStats.getOrElseUpdate(rel.substring(0, cut),
        scala.collection.mutable.Map.empty) += rel.substring(cut + 1) -> st
    }
    val partStats: Map[String, PartStats] = dirToPart.toSeq
      .flatMap { case (d, p) =>
        fileStats.get(d).toSeq.flatMap(_.values).map(p -> _) }
      .groupBy(_._1).map { case (p, sts) =>
        // per-file absence means all-null in THAT file, so the fold
        // inherits the other side's bound (never mergeStats's drop)
        p -> sts.map(_._2).reduce((a, b) => foldFileStats(schema, a, b))
      }
    // TABLE-LEVEL column statistics for the OPTIMIZER (the warehouse
    // half of ANALYZE: Iceberg/Delta both carry these): approximate
    // NDV + null count per stats column, one extra column-pruned agg
    // pass at analyze time, stored as properties and surfaced through
    // the DSv2 scan's estimateStatistics so CBO sees graft tables like
    // it sees catalog tables (filter selectivity, join sizing).
    import org.apache.spark.sql.functions.{approx_count_distinct, sum => fsum, when => fwhen, length => flen}
    val colAggs = statsColumns.flatMap(c => Seq(
      approx_count_distinct(col(c)).as(s"_ndv_$c"),
      fsum(fwhen(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c")) ++
      (if (dataSchema(c).dataType == org.apache.spark.sql.types.StringType)
        Seq(org.apache.spark.sql.functions.max(flen(col(c)))
          .as(s"_maxlen_$c"),
          org.apache.spark.sql.functions.avg(flen(col(c)))
            .as(s"_avglen_$c"))
       else Nil))
    val colRow = spark.read.schema(readSchema).parquet(paths: _*)
      .select(statsColumns.map(c => resolvedCol(c).as(c)): _*)
      .agg(colAggs.head, colAggs.tail: _*).head()
    val colProps: Map[String, String] = statsColumns.map { c =>
      val ndv = colRow.getAs[Long](s"_ndv_$c")
      val nulls = Option(colRow.getAs[Any](s"_nulls_$c"))
        .map(_.toString.toLong).getOrElse(0L)
      val lens =
        if (dataSchema(c).dataType == org.apache.spark.sql.types.StringType)
          (Option(colRow.getAs[Any](s"_maxlen_$c")),
            Option(colRow.getAs[Any](s"_avglen_$c"))) match {
            case (Some(mx), Some(av)) =>
              s";maxlen=$mx;avglen=${math.ceil(av.toString.toDouble).toLong}"
            case _ => ""
          }
        else ""
      (ColStatProperty + c) -> s"ndv=$ndv;nulls=$nulls$lens"
    }.toMap
    commitManifest(root, Map.empty, operation = "analyze",
      expectedVersion = Some(m.version), retain = retain,
      overrideStats = partStats, properties = colProps,
      newFileStats = fileStats.map { case (d, mm) => d -> mm.toMap }.toMap)
  }

  /** Property prefix of ANALYZE's table-level column statistics:
    * `graft.colstat.<col> = ndv=N;nulls=N[;maxlen=N;avglen=N]`. */
  val ColStatProperty = "graft.colstat."

  /** Parsed `graft.colstat.<col>` entry. */
  final case class ColStat(ndv: Option[Long], nulls: Option[Long],
      maxLen: Option[Long], avgLen: Option[Long])

  /** All column statistics recorded in `props`. */
  private[graft] def colStats(props: Map[String, String]): Map[String, ColStat] =
    props.collect { case (k, v) if k.startsWith(ColStatProperty) =>
      val fields = v.split(";").iterator.map(_.split("=", 2))
        .collect { case Array(n, x) => n -> x.toLongOption }
        .collect { case (n, Some(x)) => n -> x }.toMap
      k.stripPrefix(ColStatProperty) -> ColStat(fields.get("ndv"),
        fields.get("nulls"), fields.get("maxlen"), fields.get("avglen"))
    }

  /** Number of data files the current manifest references — the metric a
    * compaction job watches. Root counts when recorded (zero blob
    * reads); partitions without one fall back to their blob/listing. */
  def dataFileCount(root: Path): Long = withHeadRoot(root)(0L) { r =>
    val unknown = r.partitions.keySet.filterNot(r.fileCounts.contains)
    lazy val mu = hydrate(root, r, unknown)
    r.partitions.iterator.map { case (p, dirs) =>
      r.fileCounts.get(p).map(_.toLong).getOrElse(
        dirs.map(d => mu.files.get(d).map(_.size.toLong)
          .orElse(mu.fileStats.get(d).map(_.size.toLong))
          .getOrElse(dirParquetCount(root.resolve(d)).toLong)).sum)
    }.sum
  }

  /** Best-effort post-commit GC: prune manifests older than the
    * retention window and delete exactly the data dirs those pruned
    * manifests referenced that no RETAINED manifest still references.
    * Deliberately scoped to ONCE-COMMITTED dirs: a dir no manifest has
    * ever referenced is either a crash orphan or — under concurrent
    * writers — another thread's IN-FLIGHT staging txn, and deleting it
    * here would destroy that writer's data mid-commit (found by
    * WriterRaceSpec). Never-committed orphans are reclaimed by the
    * explicit age-gated [[vacuum]] instead. Crash anywhere here leaves
    * orphans, never corruption. */
  private def gc(root: Path, current: Manifest, retain: Int): Unit = {
    val dataDir = root.resolve("data")
    if (!Files.isDirectory(dataDir)) return
    val minKeep = current.version - (retain.max(1) - 1)
    val mDir = root.resolve("_manifests")
    if (!Files.isDirectory(mDir)) return
    // TAGGED versions are pinned against retention: the tag names a
    // reproducible snapshot (Iceberg tags — "the corpus run X trained
    // on"), so its manifest and every dir it references survive until
    // the tag is removed. Tags live in the CURRENT manifest's
    // properties, so creating/removing one is itself an atomic commit.
    val tagged = taggedVersions(current)
    // read the pruned manifests' dir references BEFORE deleting them —
    // they are the only record that those dirs were ever committed
    val (pruned, kept) = {
      val ms = Files.list(mDir)
      try ms.iterator.asScala.toList.flatMap { f =>
        f.getFileName.toString.stripPrefix("v").stripSuffix(".json")
          .toLongOption.map(v => (v, f))
      }.partition { case (v, _) => v < minKeep && !tagged(v) }
      finally ms.close()
    }
    // tolerant reads: a CONCURRENT process's gc may delete a pruned
    // manifest between our listing and the read — its dirs are then that
    // process's to reclaim, skipping them here is exactly right.
    // ROOTS ONLY: data dirs and delete-vector dirs are root-level, and
    // blob liveness diffs at the POINTER level — gc never opens a blob,
    // so its cost is O(retained roots), not O(table files)
    def rootOf(v: Long): Option[ManifestRoot] =
      try Some(rootAt(root, v))
      catch { case _: java.nio.file.NoSuchFileException |
                   _: java.io.FileNotFoundException => None }
    val prunedRoots = pruned.flatMap { case (v, _) => rootOf(v) }
    val keptRoots = kept.flatMap { case (v, _) => rootOf(v) }
    def dirsOf(r: ManifestRoot): Seq[String] =
      r.allDirs ++ r.deletes.values.flatten
    val prunedDirs = prunedRoots.flatMap(dirsOf).toSet
    val keptDirs = keptRoots.flatMap(dirsOf).toSet
    pruned.foreach { case (_, f) => Files.deleteIfExists(f) }
    // blob GC mirrors the data-dir rule: delete exactly the blobs the
    // pruned roots referenced that no retained root still references —
    // a blob shared by carry-forward across versions survives until the
    // last root naming it ages out; never-referenced blobs (in-flight
    // commits, crash orphans) are vacuum's to reclaim, not ours
    val prunedBlobs = prunedRoots.flatMap(_.blobs.values).toSet
    val keptBlobs = keptRoots.flatMap(_.blobs.values).toSet
    (prunedBlobs -- keptBlobs)
      .foreach(b => Files.deleteIfExists(blobsDir(root).resolve(b)))
    for (rel <- prunedDirs -- keptDirs) {
      val p = root.resolve(rel)
      if (Files.isDirectory(p)) deleteRecursively(p)
      // climb from the leaf toward the txn dir, clearing the now-empty
      // intermediate value dirs a multi-level layout leaves behind
      val txn = root.resolve(txnDirOf(rel))
      var cur = p.getParent
      while (cur != null && cur != txn && cur.startsWith(txn) &&
          Files.isDirectory(cur) && {
            val s = Files.list(cur)
            try !s.iterator.asScala.hasNext finally s.close()
          }) {
        Files.deleteIfExists(cur)
        cur = cur.getParent
      }
      if (Files.isDirectory(txn)) {
        val left = Files.list(txn)
        // '_' and '.' prefixes are the Hadoop hidden-file convention:
        // _SUCCESS markers and their .crc shadows must not pin the husk
        try { if (!left.iterator.asScala.exists { q =>
          val n = q.getFileName.toString
          Files.isDirectory(q) || !(n.startsWith("_") || n.startsWith("."))
        }) deleteRecursively(txn) }
        finally left.close()
      }
    }
  }

  /** Reclaim never-committed data dirs (crash leftovers): delete any
    * `data/txn-*` dir that no retained manifest references AND whose
    * last-modified time is older than `olderThanMs`. The age gate is what
    * makes this safe to run beside live writers — an in-flight staging
    * dir is by definition recent (the Delta VACUUM retention argument).
    * Run it as periodic maintenance, like [[compact]]. Returns the
    * number of reclaimed txn dirs (the metric a maintenance scheduler
    * logs; tmp-manifest sweeps don't count). */
  def vacuum(root: Path, olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val dataDir = root.resolve("data")
    val mDir = root.resolve("_manifests")
    var reclaimed = 0
    val tmpCutoff = System.currentTimeMillis() - olderThanMs
    // reclaim tmp manifests orphaned by a writer that crashed between
    // staging the content and linking it into place (same age gate) —
    // independent of whether any data was ever staged
    if (Files.isDirectory(mDir)) {
      val ts = Files.list(mDir)
      try ts.iterator.asScala.toList.foreach { f =>
        if (f.getFileName.toString.startsWith(".tmp-") &&
            Files.getLastModifiedTime(f).toMillis < tmpCutoff)
          Files.deleteIfExists(f)
      } finally ts.close()
    }
    // every RETAINED manifest pins its txn dirs and blobs — a
    // time-travel reader inside the retention window must keep its
    // snapshot. Roots only: vacuum never opens a blob.
    val retainedRoots: Seq[ManifestRoot] =
      if (!Files.isDirectory(mDir)) Nil
      else {
        val ms = Files.list(mDir)
        try ms.iterator.asScala.toList.flatMap { f =>
          f.getFileName.toString.stripPrefix("v").stripSuffix(".json")
            .toLongOption.flatMap { v =>
              try Some(rootAt(root, v))
              catch { case _: java.nio.file.NoSuchFileException |
                           _: java.io.FileNotFoundException => None }
            }
        }
        finally ms.close()
      }
    // reclaim blob files no retained root references (lost commit races,
    // crashes between blob write and root claim) — same age gate
    val refBlobs = retainedRoots.flatMap(_.blobs.values).toSet
    val bDir = blobsDir(root)
    if (Files.isDirectory(bDir)) {
      val bs = Files.list(bDir)
      try bs.iterator.asScala.toList.foreach { f =>
        if (!refBlobs.contains(f.getFileName.toString) &&
            Files.getLastModifiedTime(f).toMillis < tmpCutoff)
          Files.deleteIfExists(f)
      } finally bs.close()
    }
    if (!Files.isDirectory(dataDir)) return reclaimed
    val referenced: Set[String] =
      retainedRoots.flatMap(r => r.allDirs ++ r.deletes.values.flatten).toSet
    val refTxns = referenced.map(d => d.split("/")(1))
    val cutoff = System.currentTimeMillis() - olderThanMs
    val txns = Files.list(dataDir)
    try txns.iterator.asScala.toList.foreach { txn =>
      if (Files.isDirectory(txn) &&
          !refTxns.contains(txn.getFileName.toString) &&
          Files.getLastModifiedTime(txn).toMillis < cutoff) {
        deleteRecursively(txn)
        reclaimed += 1
      }
    } finally txns.close()
    reclaimed
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively) finally children.close()
    }
    Files.deleteIfExists(p)
  }
}
