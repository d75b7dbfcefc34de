package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type => PType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.AtomicTable

/** `spark.read.format("graft").load(tableRoot)` — the engine's
  * [[AtomicTable]] protocol as a native DataSource V2 relation, which is
  * what makes the transactional tables reachable from PLAIN SQL
  * (`CREATE TEMPORARY VIEW t USING graft OPTIONS (path '…')`) with the
  * table's own metadata driving the scan:
  *
  *  - **Snapshot isolation for free**: the scan plans against ONE
  *    manifest read at planning time; concurrent commits land new
  *    versions that this scan simply never sees.
  *  - **Manifest pruning pushed down** ([[SupportsPushDownFilters]]):
  *    equality/IN on the partition column selects partitions by key;
  *    range/equality predicates on zone-mapped columns drop partitions
  *    whose committed [min, max] cannot match — all from metadata,
  *    before a single file is listed. Every filter is also kept as a
  *    residual (Spark re-evaluates), so pruning can only skip work,
  *    never change results.
  *  - **Merge-on-read deletion vectors applied IN the reader**: each
  *    input partition carries its vector files; the reader loads the
  *    (small, by maintenance contract) deleted-key set into a hash set
  *    and drops matching rows as it streams — the Iceberg v2 scan
  *    shape, so SQL readers see the merged state with no extra join in
  *    their plan.
  *  - **Column pruning reaches the parquet reader**
  *    ([[SupportsPushDownRequiredColumns]]): the projection is pushed
  *    into the record materializer (key columns are force-included
  *    only while vectors are outstanding, then dropped from output).
  *  - **One input partition per table partition** — co-located with the
  *    layout the writers maintain (one file per partition after
  *    compaction), the right granularity for a fact table whose
  *    partitions are balance-managed by compact/z-order.
  *  - **Time travel as read options**: `.option("versionAsOf", n)` /
  *    `.option("timestampAsOf", ts)` pin the scan (and its schema,
  *    zone maps, and deletion vectors) to a retained snapshot — the
  *    Delta read-option surface, SQL-reachable through view OPTIONS;
  *    a pinned handle is read-only and refuses writes/streams.
  *
  * Scope: flat primitive schemas (long/int/double/float/boolean/
  * string/binary/date/timestamp) — the warehouse fact-table shape;
  * nested columns stay on the Scala API. The partition column surfaces
  * as STRING (the manifest's own key form). */
class GraftSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = GraftSource.rootOf(options)
    val pin = GraftSource.pinnedVersion(k => Option(options.get(k)), root)
    // a table being CREATED by a write has no manifest yet: return an
    // empty shape and let the write's own schema through
    // (ACCEPT_ANY_SCHEMA); reads of the empty root still fail loudly
    // at scan planning
    if (pin.isEmpty &&
      AtomicTable.rootOpt(java.nio.file.Paths.get(root)).isEmpty) StructType(Nil)
    else {
      val base = GraftSource.inferredSchema(new Configuration(), root, pin)
      if (options.getBoolean("readChangeFeed", false))
        StructType(base.fields.toSeq :+
          StructField(graft.etl.ChangeFeed.ChangeTypeCol, StringType,
            nullable = false) :+
          StructField(graft.etl.ChangeFeed.CommitVersionCol, LongType,
            nullable = false))
      else base
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftTable(properties.asScala.toMap, schema)
  override def supportsExternalMetadata(): Boolean = false
}

object GraftSource {

  /** Manifest property naming the columns whose data files carry bloom
    * sidecars ([[GraftBloom]]) — set by every write of a table that
    * declares `bloom_columns`. */
  val BloomColsProperty = "graft.bloom.cols"

  /** Property prefix of a METADATA-ONLY column rename:
    * `graft.rename.<new> = <old>`, one entry per ALTER ... RENAME
    * COLUMN step (chains compose: a→b then b→c leaves rename.c=b and
    * rename.b=a). Files written before the rename keep their old
    * column name forever — the reader and every pruning tier resolve
    * the current name through the alias chain instead of rewriting a
    * single byte of data. */
  val RenamePrefix = "graft.rename."

  /** Property listing column names DROPPED from the declared schema
    * (comma-joined, append-only). A dropped column's bytes stay in the
    * old files (never projected); the marker exists so a LATER re-add
    * of the same name is refused — stale zone maps / bloom sidecars
    * recorded under the name would silently mis-prune the new column. */
  val DroppedColsProperty = "graft.dropped.cols"

  /** current name -> historical names, NEWEST first, resolved through
    * the rename chain (bounded: a chain longer than 32 steps would be
    * a cycle, impossible by the refuse-reuse rule but guarded anyway). */
  private[graft] def renameAliases(props: Map[String, String])
      : Map[String, Seq[String]] = {
    val step = props.collect {
      case (k, v) if k.startsWith(RenamePrefix) && v.nonEmpty =>
        k.stripPrefix(RenamePrefix) -> v
    }
    if (step.isEmpty) Map.empty
    else step.keysIterator.map { c =>
      val chain = Seq.newBuilder[String]
      var cur = step.get(c)
      var guard = 0
      while (cur.isDefined && guard < 32) {
        chain += cur.get
        cur = step.get(cur.get)
        guard += 1
      }
      c -> chain.result()
    }.toMap
  }

  /** old name -> CURRENT name (the inverse chains), for translating
    * metadata recorded pre-rename (sort markers, bloom declarations). */
  private[graft] def currentNames(aliases: Map[String, Seq[String]])
      : Map[String, String] =
    aliases.iterator.flatMap { case (c, olds) => olds.map(_ -> c) }.toMap

  /** Every name ever used for live OR dropped columns — the name-reuse
    * guard ADD COLUMN checks against. */
  private[graft] def retiredNames(props: Map[String, String]): Set[String] =
    props.get(DroppedColsProperty)
      .map(_.split(",").toSet.filter(_.nonEmpty)).getOrElse(Set.empty) ++
      props.collect { case (k, v) if k.startsWith(RenamePrefix) &&
        v.nonEmpty => v }

  private[sources] def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("paths")))
    require(p.isDefined, "graft source needs a path (the AtomicTable root)")
    p.get.stripPrefix("[\"").stripSuffix("\"]")
  }

  /** Time-travel read pin (Delta's read-option surface): `versionAsOf`
    * names a retained version directly; `timestampAsOf` resolves through
    * [[AtomicTable.versionAsOf]] (latest commit at or before the
    * instant — epoch millis, ISO-8601 instant, or `yyyy-MM-dd HH:mm:ss`
    * UTC wall time). `get` abstracts over the two option carriers Spark
    * hands a TableProvider (CaseInsensitiveStringMap vs the getTable
    * properties map), so both resolve identically. */
  private[sources] def pinnedVersion(get: String => Option[String],
      root: String): Option[Long] = {
    val byV = get("versionAsOf").map(_.trim.toLong)
    val byTs = get("timestampAsOf").map(parseTsMs)
    require(byV.isEmpty || byTs.isEmpty,
      "graft time travel takes versionAsOf OR timestampAsOf, not both")
    byV.orElse(byTs.map { ts =>
      AtomicTable.versionAsOf(java.nio.file.Paths.get(root), ts).getOrElse(
        throw new IllegalArgumentException(s"no commit of $root at or " +
          s"before timestampAsOf=$ts is inside the retention window"))
    })
  }

  private def parseTsMs(s: String): Long = {
    val t = s.trim
    if (t.forall(_.isDigit)) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime
          .parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** The manifest ROOT a read plans against (O(partitions), zero blob
    * reads): the pinned snapshot, or the head. Everything
    * partition-granular — key sets, dir lists, zone maps, delete
    * vectors, properties — is answerable from this alone. */
  private[sources] def rootFor(root: String, pin: Option[Long])
      : Option[AtomicTable.ManifestRoot] = {
    val rootPath = java.nio.file.Paths.get(root)
    pin match {
      case None => AtomicTable.rootOpt(rootPath)
      case Some(v) =>
        try Some(AtomicTable.rootAt(rootPath, v))
        catch {
          case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
            throw new IllegalArgumentException(
              s"versionAsOf=$v of $root is outside the retention window")
        }
    }
  }

  /** The partition columns a manifest's layout encodes, in level order
    * (from the dir names — the layout is self-describing). */
  private[graft] def partitionColsOf(m: AtomicTable.Manifest): Seq[String] =
    AtomicTable.partColsOfDir(m.allDirs.head)
  private[graft] def partitionColsOf(r: AtomicTable.ManifestRoot): Seq[String] =
    AtomicTable.partColsOfDir(r.allDirs.head)

  /** The comma-joined partition SPEC of a manifest's layout — the form
    * every `partitionCol` parameter accepts. */
  private[graft] def partitionColOf(m: AtomicTable.Manifest): String =
    partitionColsOf(m).mkString(",")
  private[graft] def partitionColOf(r: AtomicTable.ManifestRoot): String =
    partitionColsOf(r).mkString(",")

  /** A data dir's committed parquet paths: exactly the manifest's file
    * list when recorded (zombie attempts' stragglers excluded), else a
    * listing. */
  /** Per-process dir -> parquet-bytes cache for manifests that predate
    * the manifest `bytes` map. Committed data dirs are immutable (a
    * rewrite installs NEW dirs), so an entry can never go stale; GC'd
    * dirs simply stop being asked for. Bounded: one Long per distinct
    * dir this process ever planned. */
  private val dirBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[sources] def cachedDirBytes(conf: Configuration, root: String,
      dir: String): Long =
    dirBytesCache.computeIfAbsent(s"$root/$dir", { key =>
      val p = new Path(key)
      try {
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
      } catch { case _: java.io.IOException => 0L }
    })

  private[sources] def committedFiles(m: AtomicTable.Manifest,
      conf: Configuration, root: String, dir: String): Seq[String] =
    m.files.get(dir) match {
      case Some(names) => names.sorted.map(n => s"$root/$dir/$n")
      case None =>
        val p = new Path(s"$root/$dir")
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted.toSeq
    }

  /** Exact partition-key admission: Some(verdict) when `f` is one of
    * the shapes partition pruning decides EXACTLY against `part`'s key
    * (typed comparison, per level — every row of a partition carries
    * the partition value, so these verdicts are row-accurate, which is
    * what lets the scan builder CONSUME such filters instead of
    * returning them as residuals); None when the filter is not
    * partition-exact and the caller must fall back to zone maps. */
  private[sources] def partitionExact(full: StructType, pcols: Seq[String],
      f: Filter, part: String): Option[Boolean] = {
    val level = pcols.zipWithIndex.toMap
    def cmp(c: String, v: Any): Int = {
      val dt = if (full.fieldNames.contains(c)) full(c).dataType
        else org.apache.spark.sql.types.StringType
      val seg = AtomicTable.partKeyValues(part, pcols.size)(level(c))
      AtomicTable.statsOrder(dt, seg, filterValueString(v))
    }
    f match {
      case EqualTo(c, v) if level.contains(c) && v != null =>
        Some(cmp(c, v) == 0)
      case In(c, vs) if level.contains(c) && vs != null =>
        Some(vs.filter(_ != null).exists(v => cmp(c, v) == 0))
      case GreaterThan(c, v) if level.contains(c) && v != null =>
        Some(cmp(c, v) > 0)
      case GreaterThanOrEqual(c, v) if level.contains(c) && v != null =>
        Some(cmp(c, v) >= 0)
      case LessThan(c, v) if level.contains(c) && v != null =>
        Some(cmp(c, v) < 0)
      case LessThanOrEqual(c, v) if level.contains(c) && v != null =>
        Some(cmp(c, v) <= 0)
      // partition values restore as non-null dir strings by contract
      case IsNotNull(c) if level.contains(c) => Some(true)
      case _ => None
    }
  }

  /** Bucket-level admission: Some(false) prunes a partition whose bucket
    * id cannot hold rows matching an equality/IN/null predicate on a
    * bucket SOURCE column — the point-lookup path on bucketed tables
    * (`WHERE k = v` reads ONE of N buckets). Necessary but NOT
    * sufficient (other values share the bucket), so this is pruning
    * only — never filter consumption; range predicates return None
    * (hashing destroys order). Null keys fold to bucket 0 by the
    * writer's contract, so IS NULL admits only bucket 0. */
  private[sources] def bucketAdmits(full: StructType, pcols: Seq[String],
      f: Filter, part: String): Option[Boolean] = {
    val srcLevel: Map[String, (Int, Int)] = pcols.zipWithIndex.flatMap {
      case (c, i) if syntheticLevel(full, c) =>
        GraftBuckets.level(c).map { case (s, n) => s -> (i, n) }
      case _ => None
    }.toMap
    if (srcLevel.isEmpty) return None
    def seg(i: Int): Option[Int] = scala.util.Try(
      AtomicTable.partKeyValues(part, pcols.size)(i).toInt).toOption
    def dtOf(c: String): Option[DataType] =
      full.fields.find(_.name == c).map(_.dataType)
    def eqAdmit(c: String, v: Any): Option[Boolean] = {
      val (i, n) = srcLevel(c)
      for (dt <- dtOf(c); s <- seg(i))
        yield s == GraftBuckets.bucketIdExternal(v, dt, n)
    }
    f match {
      case EqualTo(c, v) if srcLevel.contains(c) && v != null => eqAdmit(c, v)
      case EqualNullSafe(c, v) if srcLevel.contains(c) =>
        if (v != null) eqAdmit(c, v)
        else seg(srcLevel(c)._1).map(_ == 0)
      case In(c, vs) if srcLevel.contains(c) && vs != null =>
        val (i, n) = srcLevel(c)
        for (dt <- dtOf(c); s <- seg(i)) yield
          vs.exists(v => v != null &&
            s == GraftBuckets.bucketIdExternal(v, dt, n))
      case IsNull(c) if srcLevel.contains(c) =>
        seg(srcLevel(c)._1).map(_ == 0)
      case _ => None
    }
  }

  /** A level name that IS a schema column is ALWAYS identity — the
    * synthetic `_bucketN`/`_days`/... suffixes only classify names the
    * schema does not claim (a real column named "foo_days" partitions
    * by identity, never by a phantom transform of "foo"). */
  private[sources] def syntheticLevel(full: StructType, c: String): Boolean =
    !full.fieldNames.contains(c) &&
      (GraftBuckets.level(c).isDefined || GraftTransforms.level(c).isDefined)

  /** Planned data-file count of a graft scan AFTER runtime filtering —
    * public so plan-shape pins outside this package (e.g. the oracled
    * queries' staged `require`s) can audit file skipping. None when the
    * scan is not a graft batch scan. */
  def plannedFileCount(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[Int] = scan match {
    case g: GraftScan => Some(g.planInputPartitions()
      .collect { case p: GraftInputPartition => p.dataFiles.size }.sum)
    case _ => None
  }

  /** The DATA column a partition level derives from: itself for
    * identity levels, the source column for bucket/transform levels. */
  private[sources] def levelSource(full: StructType, c: String): String =
    if (!syntheticLevel(full, c)) c
    else GraftBuckets.level(c).map(_._1)
      .orElse(GraftTransforms.level(c).map(_.src)).getOrElse(c)

  /** The honest V2 transform of a partition level (identity / bucket /
    * days / months / years / truncate) — what the table declares, the
    * write clusters on, and the scan reports for storage-partitioned
    * compatibility. */
  private[sources] def levelTransformOf(full: StructType, c: String)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (!syntheticLevel(full, c)) return Expressions.identity(c)
    GraftBuckets.level(c) match {
      case Some((src, n)) => Expressions.bucket(n, src)
      case None => GraftTransforms.level(c) match {
        case Some(GraftTransforms.Level(src, GraftTransforms.Hours)) =>
          Expressions.hours(src)
        case Some(GraftTransforms.Level(src, GraftTransforms.Days)) =>
          Expressions.days(src)
        case Some(GraftTransforms.Level(src, GraftTransforms.Months)) =>
          Expressions.months(src)
        case Some(GraftTransforms.Level(src, GraftTransforms.Years)) =>
          Expressions.years(src)
        case Some(GraftTransforms.Level(src, GraftTransforms.Trunc(w))) =>
          Expressions.apply("truncate",
            Expressions.literal(w), Expressions.column(src))
        case None => Expressions.identity(c)
      }
    }
  }

  /** One level's contribution to a runtime keep-set from predicate `p`:
    * identity levels take the extracted values verbatim; bucket and
    * transform levels extract on their SOURCE column and map every
    * value into the level's segment space — refusing (None) unless
    * EVERY value maps, so a failed parse can never widen a skip into a
    * row loss. Shared by DPP and row-level group filtering. */
  private[sources] def runtimeKeepContribution(full: StructType, c: String,
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[String]] =
    if (!syntheticLevel(full, c)) GraftV2Predicates.valuesFor(p, c)
    else GraftBuckets.level(c) match {
      case Some((src, n)) =>
        for {
          vs <- GraftV2Predicates.valuesFor(p, src)
          dt <- full.fields.find(_.name == src).map(_.dataType)
          mapped = vs.toSeq.map(GraftBuckets.idFromValueString(_, dt, n))
          if mapped.forall(_.isDefined)
        } yield mapped.flatten.map(_.toString).toSet
      case None => GraftTransforms.level(c) match {
        case Some(GraftTransforms.Level(src, kind)) =>
          for {
            vs <- GraftV2Predicates.valuesFor(p, src)
            dt <- full.fields.find(_.name == src).map(_.dataType)
            mapped = vs.toSeq
              .map(GraftTransforms.dirFromValueString(_, dt, kind))
            if mapped.forall(_.isDefined)
          } yield mapped.flatten.toSet
        case None => GraftV2Predicates.valuesFor(p, c)
      }
    }

  /** Monotone-transform admission: range AND equality predicates on a
    * days/months/years/truncate SOURCE column decide against the
    * level's segment in the transform's output space — `ts >= X` skips
    * every partition before X's day, the pruning hashing cannot do.
    * Necessary-but-not-sufficient (a day holds many timestamps), so
    * pruning only, never consumption. None → not transform-decidable. */
  private[sources] def transformAdmits(full: StructType, pcols: Seq[String],
      f: Filter, part: String): Option[Boolean] = {
    val srcLevel: Map[String, (Int, GraftTransforms.Kind)] =
      pcols.zipWithIndex.flatMap {
        case (c, i) if syntheticLevel(full, c) =>
          GraftTransforms.level(c).map(l => l.src -> (i, l.kind))
        case _ => None
      }.toMap
    if (srcLevel.isEmpty) return None
    def cmp(c: String, v: Any): Option[Int] = {
      val (i, kind) = srcLevel(c)
      for {
        dt <- full.fields.find(_.name == c).map(_.dataType)
        tv <- scala.util.Try(
          GraftTransforms.dirValueExternal(v, dt, kind)).toOption
        seg = AtomicTable.partKeyValues(part, pcols.size)(i)
        o <- GraftTransforms.dirOrder(kind, dt, seg, tv)
      } yield o
    }
    f match {
      case EqualTo(c, v) if srcLevel.contains(c) && v != null =>
        cmp(c, v).map(_ == 0)
      case In(c, vs) if srcLevel.contains(c) && vs != null =>
        val hits = vs.filter(_ != null).map(cmp(c, _))
        if (hits.exists(_.isEmpty)) None
        else Some(hits.exists(_.contains(0)))
      // the BOUNDARY partition may hold qualifying rows on either side
      // of the literal, so strict predicates still admit equality
      case GreaterThan(c, v) if srcLevel.contains(c) && v != null =>
        cmp(c, v).map(_ >= 0)
      case GreaterThanOrEqual(c, v) if srcLevel.contains(c) && v != null =>
        cmp(c, v).map(_ >= 0)
      case LessThan(c, v) if srcLevel.contains(c) && v != null =>
        cmp(c, v).map(_ <= 0)
      case LessThanOrEqual(c, v) if srcLevel.contains(c) && v != null =>
        cmp(c, v).map(_ <= 0)
      case _ => None
    }
  }

  /** Render a pushed-filter value in the zone-map string encoding.
    * Timestamp-like values MUST go through an explicit UTC conversion:
    * `String.valueOf` on java.sql.Timestamp renders in the JVM default
    * timezone while zone-map bounds are UTC wall time — on a non-UTC
    * host that skew would prune partitions that contain matching rows. */
  private[sources] def filterValueString(v: Any): String = v match {
    case t: java.sql.Timestamp =>
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
        .toString.replace('T', ' ')
    case i: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
        .toString.replace('T', ' ')
    case ldt: java.time.LocalDateTime => ldt.toString.replace('T', ' ')
    case other => String.valueOf(other)
  }

  /** The changefeed's manifest diff: per partition, the dirs a consumer
    * of `start -> end` must read. A brand-new partition emits all its
    * dirs; an APPENDED partition (start's list is a strict prefix)
    * emits only the appended dirs — row-level insert granularity; a
    * REWRITTEN partition (list not a prefix) re-emits its full new
    * contents (upsert-style, no preimages). Dropped partitions emit
    * nothing. */
  private[sources] def changedDirs(startParts: Map[String, Seq[String]],
      end: Map[String, Seq[String]]): Map[String, Seq[String]] =
    end.flatMap { case (p, ds) =>
      startParts.get(p) match {
        case None => Some(p -> ds)
        case Some(prev) if ds.startsWith(prev) =>
          if (ds.size == prev.size) None else Some(p -> ds.drop(prev.size))
        case Some(_) => Some(p -> ds)
      }
    }

  /** The row-level CDF view of exactly version `v`: a manifest copy
    * whose partitions hold only the dirs version `v` APPENDED relative
    * to `v - 1` — every row in them is an `insert` of commit `v`. A
    * commit that REWRITES a partition, changes its delete vectors, or
    * DROPS one has change rows a plain scan cannot express (preimages
    * need a join) — fail loudly and point at the full-fidelity
    * [[graft.etl.ChangeFeed.changes]] instead of silently mislabeling
    * a rewrite as inserts. Shared by the batch `readChangeFeed` scan
    * and the streaming CDF source. */
  private[sources] def cdfAppendManifest(root: String, v: Long)
      : AtomicTable.Manifest = {
    val rootPath = java.nio.file.Paths.get(root)
    // the version diff is partition-granular, so it runs on the two
    // ROOTS alone; only the APPENDED partitions' blobs hydrate below —
    // changefeed planning cost ∝ the commit's change volume, not table
    // size
    val cur = AtomicTable.rootAt(rootPath, v)
    val prev =
      if (v == 1L) AtomicTable.ManifestRoot(0L, Map.empty)
      else try AtomicTable.rootAt(rootPath, v - 1L)
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"the change feed needs version ${v - 1} of $root, which is " +
              "outside the retention window — write the table with a " +
              "larger `retain`")
      }
    def fail(what: String): Nothing =
      throw new IllegalStateException(
        s"readChangeFeed: version $v of $root $what — those change rows " +
          "are not expressible as a scan; use " +
          "graft.etl.ChangeFeed.changes (full _change_type fidelity, " +
          "preimages included) over this range")
    if ((prev.partitions.keySet -- cur.partitions.keySet).nonEmpty)
      fail("drops partitions")
    if (cur.deletes != prev.deletes) fail("changes delete vectors")
    val appended = cur.partitions.flatMap { case (p, ds) =>
      prev.partitions.get(p) match {
        case None => Some(p -> ds)
        case Some(pds) if ds.startsWith(pds) =>
          if (ds.size == pds.size) None else Some(p -> ds.drop(pds.size))
        case Some(_) => fail(s"rewrites partition '$p'")
      }
    }
    AtomicTable.hydrate(rootPath, cur, appended.keySet)
      .copy(partitions = appended, deletes = Map.empty)
  }

  /** Spark type for a flat parquet primitive (the supported scope). */
  private def sparkType(t: PType): DataType = {
    require(t.isPrimitive, s"graft source reads flat schemas; '${t.getName}' is nested")
    val p = t.asPrimitiveType()
    p.getPrimitiveTypeName match {
      case BOOLEAN => BooleanType
      case FLOAT => FloatType
      case DOUBLE => DoubleType
      case INT96 => TimestampType
      case INT32 => p.getLogicalTypeAnnotation match {
        case _: DateLogicalTypeAnnotation => DateType
        case d: DecimalLogicalTypeAnnotation =>
          DecimalType(d.getPrecision, d.getScale)
        case _ => IntegerType
      }
      case INT64 => p.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation =>
          if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType
        case d: DecimalLogicalTypeAnnotation =>
          DecimalType(d.getPrecision, d.getScale)
        case _ => LongType
      }
      case BINARY => p.getLogicalTypeAnnotation match {
        case _: StringLogicalTypeAnnotation => StringType
        case d: DecimalLogicalTypeAnnotation =>
          DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
      // Spark writes DECIMAL(p > 18) as fixed-length big-endian unscaled
      case FIXED_LEN_BYTE_ARRAY => p.getLogicalTypeAnnotation match {
        case d: DecimalLogicalTypeAnnotation =>
          DecimalType(d.getPrecision, d.getScale)
        case _ => throw new IllegalArgumentException(
          s"unsupported parquet type $p for column ${t.getName}")
      }
      case other => throw new IllegalArgumentException(
        s"unsupported parquet type $other for column ${t.getName}")
    }
  }

  /** Schema = first data file's parquet schema + the partition column
    * (STRING, the manifest key form) appended — of the PINNED version's
    * files when time-traveling, so a snapshot from before a schema
    * evolution reads with its own (narrower) shape. */
  private[sources] def inferredSchema(conf: Configuration, root: String,
      pin: Option[Long] = None): StructType = {
    // root only: the first data file's footer and the dir-encoded
    // partition columns need no blob
    val m = rootFor(root, pin).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed manifest"))
    require(m.partitions.nonEmpty, s"$root is empty — no partitions committed")
    val dir = new Path(s"$root/${m.allDirs.head}")
    val fs = dir.getFileSystem(conf)
    val first = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).head
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val msg = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    StructType(msg.getFields.asScala.toSeq.map(f =>
      StructField(f.getName, sparkType(f), nullable = true)) ++
      partitionColsOf(m).map(c =>
        StructField(c, StringType, nullable = false)))
  }
}

private[sources] class GraftTable(props: Map[String, String],
    schema0: StructType, validateWrites: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private val lower = props.map { case (k, v) => k.toLowerCase -> v }
  private val root = lower.getOrElse("path",
    throw new IllegalArgumentException("graft source needs a path"))
  // resolve the time-travel pin ONCE, here: a timestampAsOf landing
  // between planning calls must not resolve to two different versions
  private val pinned: Option[Long] =
    GraftSource.pinnedVersion(k => lower.get(k.toLowerCase), root)
  override def name(): String =
    s"graft:$root${pinned.map(v => s"@v$v").getOrElse("")}"
  override def schema(): StructType = schema0
  // surfacing the partitioning is what lets Spark accept a static
  // `PARTITION (p='x')` spec on INSERT OVERWRITE; bucket levels report
  // the honest bucket(N, col) transform (DESCRIBE shows it, and writes
  // resolve their clustered distribution against it)
  override def partitioning(): Array[Transform] =
    partitionColNow.toSeq.flatMap(AtomicTable.partCols)
      .map(GraftSource.levelTransformOf(schema0, _)).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    if (pinned.isDefined) java.util.EnumSet.of(TableCapability.BATCH_READ)
    // catalog tables have a DECLARED schema, so writes resolve against it
    // (INSERT by position/name both work); pathwise tables accept the
    // query's own schema (new tables have no shape to validate against)
    else if (validateWrites) java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val startingV = Option(options.get("startingVersion")).map(_.trim.toLong)
    require(pinned.isEmpty || startingV.isEmpty,
      "versionAsOf/timestampAsOf and startingVersion are mutually exclusive")
    val cdf = options.getBoolean("readChangeFeed", false)
    new GraftScanBuilder(root, schema0, pinned, startingV,
      Option(options.get("endingVersion")).map(_.trim.toLong), cdf)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(pinned.isEmpty,
      "cannot write through a time-travel read (versionAsOf/timestampAsOf)")
    // catalog-declared partition column and retention ride the props, so
    // INSERT INTO a catalog table needs no per-write options
    new GraftWriteBuilder(root, info, lower.get("partition"),
      lower.get("retain").map(_.toInt), declaredStatsCols,
      declaredSalt = lower.get("write_salt")
        .map(_.split(":", 2)).collect { case Array(c, n) => (c, n.toInt) },
      declaredOrder = lower.get("write_order")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil),
      declaredBloom = lower.get("bloom_columns")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil))
  }

  private def declaredStatsCols: Seq[String] =
    lower.get("stats_columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  private def retainN: Int = lower.get("retain").map(_.toInt).getOrElse(1)
  private def partitionColNow: Option[String] =
    lower.get("partition").orElse(
      AtomicTable.rootOpt(java.nio.file.Paths.get(root))
        .filter(_.partitions.nonEmpty).map(GraftSource.partitionColOf))

  /** Metadata-only SQL DELETE: when every predicate pins only the
    * partition column, `DELETE FROM t WHERE p = 'x'` (and TRUNCATE) is
    * ONE manifest commit that drops partitions — zero bytes scanned or
    * moved, the same class of operation as the Scala API's
    * dropPartitions. Anything finer falls through `canDeleteWhere =
    * false` to the row-level rewrite below. */
  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    pinned.isEmpty && {
      AtomicTable.rootOpt(java.nio.file.Paths.get(root)) match {
        case None => true // nothing committed: any delete is a no-op
        case Some(m) => partitionColNow.exists(pc =>
          GraftV2Predicates.partitionsFor(predicates, pc, m.partitions.keySet)
            .isDefined)
      }
    }

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    require(pinned.isEmpty, "cannot DELETE through a time-travel read")
    val rootPath = java.nio.file.Paths.get(root)
    AtomicTable.rootOpt(rootPath).foreach { m =>
      val pc = partitionColNow.getOrElse(return)
      val drop = GraftV2Predicates.partitionsFor(predicates, pc,
        m.partitions.keySet).getOrElse(throw new IllegalArgumentException(
        s"predicates [${predicates.mkString(", ")}] are not metadata-only " +
          s"on partition column '$pc'"))
      if (drop.nonEmpty) {
        AtomicTable.commitManifest(rootPath, Map.empty,
          dropPartitions = drop, retain = retainN,
          expectedVersion = Some(m.version), operation = "delete")
        ()
      }
    }
  }

  /** SQL DELETE/UPDATE/MERGE as partition-granular copy-on-write — see
    * [[GraftRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"cannot ${info.command} through a time-travel read")
    val pc = partitionColNow.getOrElse(throw new IllegalArgumentException(
      s"$root has no partition column on record — commit data or declare " +
        "the table through the catalog first"))
    () => new GraftRowLevelOperation(root, schema0, pc, retainN, info.command,
      declaredStatsCols.filter(schema0.fieldNames.contains),
      bloomCols = lower.get("bloom_columns")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil).filter(schema0.fieldNames.contains))
  }
}

private[sources] class GraftScanBuilder(root: String, full: StructType,
    pinned: Option[Long], startingVersion: Option[Long],
    endingVersion: Option[Long] = None, changeFeed: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var limitRows: Option[Int] = None
  private var topOrders: Seq[(String, Boolean)] = Nil // (col, descending)
  // the manifest version the consumption decision was made against —
  // the scan pins to it so a concurrent partition-spec evolution can't
  // turn a consumed (no longer re-checked) filter into a row leak
  private var consumedPin: Option[Long] = None
  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    // Partition-column predicates are CONSUMED (not returned as
    // residual): partition pruning decides them EXACTLY — a partition's
    // rows all carry the partition value, admission compares in the
    // declared type's order, and the reader restores the same value the
    // admission compared — so Spark re-evaluating them row-by-row is
    // pure waste, and leaving them residual blocks aggregate pushdown
    // under WHERE. Everything else (data columns, null literals,
    // compound shapes, timestamp partition values whose dir rendering
    // is session-zone-dependent) stays residual: pruning on those is
    // approximate, so Spark must re-check.
    val pcolTypes: Map[String, DataType] =
      if (changeFeed || startingVersion.isDefined) Map.empty
      else GraftSource.rootFor(root, pinned)
        .filter(_.partitions.nonEmpty).map { m =>
          consumedPin = Some(m.version)
          GraftSource.partitionColsOf(m).map(c =>
            c -> full.fields.find(_.name == c).map(_.dataType)
              .getOrElse(StringType)).toMap
        }.getOrElse(Map.empty)
    def exactType(c: String): Boolean = pcolTypes.get(c).exists {
      case TimestampType => false // dir rendering is session-zone-bound
      case _ => true
    }
    def consumed(f: Filter): Boolean = f match {
      case EqualTo(c, v) => exactType(c) && v != null
      case In(c, vs) => exactType(c) && vs != null && vs.forall(_ != null)
      case GreaterThan(c, v) => exactType(c) && v != null
      case GreaterThanOrEqual(c, v) => exactType(c) && v != null
      case LessThan(c, v) => exactType(c) && v != null
      case LessThanOrEqual(c, v) => exactType(c) && v != null
      // partition values restore as non-null dir strings by contract
      case IsNotNull(c) => pcolTypes.contains(c)
      case _ => false
    }
    residual = filters.filterNot(consumed)
    if (residual.length == filters.length) consumedPin = None
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  // ---- LIMIT / TopN pushdown: truncate the planned files -------------
  // PARTIAL pushdown (Spark keeps its own Limit / Sort on top): the scan
  // may stop planning files once the files it kept already GUARANTEE
  // `limit` qualifying rows — `SELECT * FROM t LIMIT 10` at 100 TB then
  // reads one file, not the table. Exact only when every kept row
  // survives to the operator, so accepted only when NO residual filter
  // remains (consumed partition filters are row-exact by construction);
  // the row counting itself (scan side) trusts only DV-free partitions
  // with per-file stats, and plans everything when counts run out.
  override def pushLimit(n: Int): Boolean = {
    val ok = !changeFeed && startingVersion.isEmpty && residual.isEmpty
    if (ok) limitRows = Some(n)
    ok
  }

  // ORDER BY partition columns + LIMIT: the sort key is CONSTANT within
  // a partition, so ordering whole partitions by their key segments is
  // exact — the scan keeps the first partitions (in sort order) whose
  // counted rows cover n, a superset of the true top-n for Spark's
  // re-sort. Also accepted: the SOURCE column of a MONOTONE transform
  // level (days/months/years/truncate) — `ORDER BY ts DESC LIMIT n`
  // keeps the newest days (segment-granular cuts; see truncate()).
  // Refused for any other sort key (row order inside a partition is
  // unknown; bucket hashing destroys order) and for identity timestamp
  // keys (dir rendering is session-zone-bound, same bar as filter
  // consumption).
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (changeFeed || startingVersion.isDefined || residual.nonEmpty)
      return false
    val pcols = GraftSource.rootFor(root, pinned.orElse(consumedPin))
      .filter(_.partitions.nonEmpty)
      .map(r => GraftSource.partitionColsOf(r))
      .getOrElse(return false)
    // each sort key resolves to the LEVEL that decides it
    val cols: Seq[(String, Boolean)] = orders.toSeq.map { o =>
      val nm = o.expression match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          nr.fieldNames.head
        case _ => return false
      }
      val desc = o.direction == SortDirection.DESCENDING
      if (pcols.contains(nm)) {
        if (full.fields.find(_.name == nm).exists(_.dataType == TimestampType))
          return false
        (nm, desc)
      } else pcols.find(c => GraftSource.syntheticLevel(full, c) &&
        GraftTransforms.level(c).exists(_.src == nm)) match {
        case Some(level) => (level, desc)
        case None => return false
      }
    }
    topOrders = cols
    limitRows = Some(n)
    true
  }

  // both pushdowns are PARTIAL: Spark keeps its own Limit (and Sort) on
  // top; the scan only guarantees it returns AT LEAST the limit's rows
  // (when the table has them) in a superset that contains the true top-n
  override def isPartiallyPushed(): Boolean = true

  // ---- aggregate pushdown: COUNT(*)/MIN/MAX answered from the manifest
  // At 100 TB, `SELECT count(*) FROM t` (or per-partition counts, or a
  // column's min/max) should read ZERO data bytes: the manifest already
  // carries exact per-partition row counts and per-column [min, max]
  // zone maps. When the whole aggregate is answerable from metadata the
  // scan serves the FINAL result rows driver-computed from the manifest
  // (complete pushdown), and Spark plans no file read at all. Refused —
  // falling back to the ordinary scan, never to a wrong answer — when
  // anything makes metadata inexact: pushed data filters (zone-map
  // pruning is approximate), outstanding delete vectors (stats count
  // physical rows), a changefeed/version-range scan, missing stats, a
  // bound absent where rows exist (append-merges DROP unknown bounds,
  // so absence may not mean all-null), or a null partition value.
  private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = computeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = computeAgg(agg)
    aggResult.isDefined
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    // RESIDUAL filters (ones Spark re-checks row-by-row) make metadata
    // inexact; fully-CONSUMED partition filters compose — the key set
    // below prunes by the same exact admission the scan would use
    if (changeFeed || startingVersion.isDefined || residual.nonEmpty)
      return None
    // metadata-only by construction: counts, bounds, keys, and the
    // delete-vector check are all root-level — an aggregate pushdown
    // at 100 TB parses one O(partitions) root and zero blobs
    val m = GraftSource.rootFor(root, pinned.orElse(consumedPin))
      .getOrElse(AtomicTable.ManifestRoot(0L, Map.empty))
    // delete vectors subtract rows at read — physical stats would lie
    if (m.deletes.values.exists(_.nonEmpty)) return None
    val pcols =
      if (m.partitions.isEmpty) Nil else GraftSource.partitionColsOf(m)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map { e =>
      colOf(e).filter(pcols.contains).getOrElse(return None)
    }
    sealed trait Fn
    case object Cnt extends Fn
    final case class Bound(c: String, isMin: Boolean) extends Fn
    val fns: Seq[Fn] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Cnt
      case mn: Min => Bound(colOf(mn.column).getOrElse(return None), true)
      case mx: Max => Bound(colOf(mx.column).getOrElse(return None), false)
      case _ => return None
    }
    // apply the consumed partition filters' exact admission; a pushed
    // filter that is NOT partition-exact here (possible only if the
    // manifest changed shape since pushFilters) aborts the pushdown
    val keys = m.partitions.keys.toSeq.sorted.filter(k =>
      pushed.forall(f => GraftSource.partitionExact(full, pcols, f, k)
        .getOrElse(return None)))
    // every partition needs a row count; bounds only for queried columns
    if (!keys.forall(m.stats.contains)) return None
    val values: Map[String, Seq[String]] =
      keys.map(k => k -> AtomicTable.partKeyValues(k, pcols.size)).toMap
    if (values.valuesIterator.exists(_.exists(_ ==
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME))) return None
    def typeOf(c: String): DataType = // unknown column → NonFatal → None
      full.fields.find(_.name == c).map(_.dataType)
        .getOrElse(throw new NoSuchElementException(c))
    def supportedType(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | ShortType | ByteType | DoubleType |
           FloatType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    // the raw bound string of column c in partition k, None = no rows
    // contribute; a REJECTION (bound absent where rows exist, or an
    // unsupported/unparseable rendering) aborts the whole pushdown
    val aliases = GraftSource.renameAliases(m.properties)
    def boundOf(k: String, c: String, isMin: Boolean): Option[String] =
      if (pcols.contains(c)) Some(values(k)(pcols.indexOf(c)))
      else {
        val st = m.stats(k)
        val side = if (isMin) st.mins else st.maxs
        // a partition written before a RENAME tracks the old name
        (c +: aliases.getOrElse(c, Nil)).iterator
          .flatMap(side.get).nextOption() match {
          case s @ Some(_) => s
          case None if st.rows == 0L => None
          // ambiguous — a dropped bound (append-merge over unknown) or
          // all-null: abort the pushdown (NonFatal → None), NEVER treat
          // as "contributes nothing"
          case None => throw new NoSuchElementException(s"$k.$c")
        }
      }
    // render a zone-map/partition string back to the EXTERNAL value the
    // reader's Catalyst converter accepts (exact inverse of the
    // cast-as-string encoding both writers emit)
    def external(dt: DataType, s: String): Any = dt match {
      case LongType => s.toLong
      case IntegerType => s.toInt
      case ShortType => s.toShort
      case ByteType => s.toByte
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case _: DecimalType => new java.math.BigDecimal(s)
      case StringType => s
      case BooleanType => s.toBoolean
      case DateType => java.time.LocalDate.parse(s)
      case TimestampType => java.time.LocalDateTime
        .parse(s.trim.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)
      case TimestampNTZType => java.time.LocalDateTime
        .parse(s.trim.replace(' ', 'T'))
      case _ => throw new IllegalArgumentException(dt.toString)
    }
    try {
      fns.foreach {
        case Bound(c, _) => require(supportedType(typeOf(c)))
        case _ => ()
      }
      val grouped: Seq[(Seq[String], Seq[String])] =
        keys.groupBy(k => groupCols.map(c => values(k)(pcols.indexOf(c))))
          .toSeq.sortBy(_._1.mkString("/"))
      val rows: Seq[Seq[Any]] =
        if (keys.isEmpty && groupCols.isEmpty)
          // global aggregate over an empty table: count 0, null bounds
          Seq(fns.map { case Cnt => 0L; case _: Bound => null })
        else grouped.map { case (gvals, ks) =>
          gvals.zip(groupCols).map { case (v, c) =>
            external(typeOf(c), v) } ++
            fns.map {
              case Cnt => ks.map(k => m.stats(k).rows).sum: Any
              case Bound(c, isMin) =>
                val dt = typeOf(c)
                val bs = ks.flatMap(k => boundOf(k, c, isMin))
                if (bs.isEmpty) null
                else external(dt, bs.reduce { (a, b) =>
                  val cmp = AtomicTable.statsOrder(dt, a, b)
                  if ((cmp <= 0) == isMin) a else b
                })
            }
        }
      // Spark's contract for a completely-pushed aggregate scan:
      // readSchema = group columns, then one field per aggregate
      val schema = StructType(
        groupCols.map(c => StructField(c, typeOf(c), nullable = true)) ++
          fns.zipWithIndex.map {
            case (Cnt, i) => StructField(s"count_$i", LongType, false)
            case (Bound(c, isMin), i) => StructField(
              s"${if (isMin) "min" else "max"}_$i", typeOf(c), true)
          })
      Some((schema, rows))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) => new GraftAggScan(root, schema, rows)
    case None =>
      // pin to the consumption manifest so a concurrent spec evolution
      // can't invalidate a consumed (no longer re-checked) filter
      new GraftScan(root, full, required, pushed,
        pinned.orElse(consumedPin), startingVersion, endingVersion,
        changeFeed,
        consumedCols = pushed.diff(residual).flatMap(_.references).distinct,
        limitRows = limitRows, topOrders = topOrders)
  }
}

/** A completely-pushed aggregate: the final result rows were computed
  * from the manifest at planning time; the "scan" just serves them.
  * One input partition — the result is one row per surviving group of
  * PARTITIONS, metadata-sized by construction. */
private[sources] class GraftAggScan(root: String, schema: StructType,
    rows: Seq[Seq[Any]]) extends Scan with Batch with Serializable {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft:$root agg-pushdown(metadata-only, ${rows.size} rows)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggRows(schema.json, rows.map(_.toArray).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val GraftAggRows(schemaJson, data) = p: @unchecked
        val st = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        val convs = st.fields.map(f => org.apache.spark.sql.catalyst
          .CatalystTypeConverters.createToCatalystConverter(f.dataType))
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < data.length }
          override def get(): InternalRow = new GenericInternalRow(
            data(i).zipWithIndex.map { case (v, j) =>
              if (v == null) null else convs(j)(v) })
          override def close(): Unit = ()
        }
      }
    }
}

private[sources] final case class GraftAggRows(schemaJson: String,
    rows: Array[Array[Any]]) extends InputPartition

private[sources] class GraftScan(root: String, full: StructType,
    required: StructType, filters: Array[Filter],
    pinned: Option[Long] = None, startingVersion: Option[Long] = None,
    endingVersion: Option[Long] = None, changeFeed: Boolean = false,
    consumedCols: Array[String] = Array.empty,
    limitRows: Option[Int] = None,
    topOrders: Seq[(String, Boolean)] = Nil)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required

  /** current column name -> historical aliases (ALTER ... RENAME
    * COLUMN chain): every metadata tier recorded under an old name —
    * partition/file zone maps, bloom sidecars, sort markers — keeps
    * pruning and ordering claims through the alias, so the rename is
    * metadata-only WITHOUT losing a single skipping granularity. */
  protected lazy val renames: Map[String, Seq[String]] =
    if (changeFeed) Map.empty
    else GraftSource.renameAliases(
      GraftSource.rootFor(root, pinned).map(_.properties).getOrElse(Map.empty))
  /** old name -> current name (for translating recorded metadata). */
  private lazy val nowNamed: Map[String, String] =
    GraftSource.currentNames(renames)

  /** Does the pushed-filter set admit partition `part`? Key-exact
    * admission (typed per level, bucket/transform aware) decides first;
    * zone maps refute last. Shared by the root-level pruning below and
    * [[planFromManifest]]'s own pruning so the two can never drift. */
  private def filtersAdmit(part: String, pcols: Seq[String],
      statsOf: String => Option[AtomicTable.PartStats]): Boolean =
    filters.forall { f =>
      GraftSource.partitionExact(full, pcols, f, part)
        .orElse(GraftSource.bucketAdmits(full, pcols, f, part))
        .orElse(GraftSource.transformAdmits(full, pcols, f, part))
        .getOrElse(statsAdmit(c => statsOf(part).flatMap(s => colBounds(s, c)), f))
    }

  /** The snapshot every batch planning step shares, pruned and
    * admitted-only: partition pruning runs on the O(partitions) ROOT
    * (keys, typed key admission, partition zone maps), and ONLY the
    * admitted partitions' file-granular blobs are hydrated — at 100 TB
    * a point query plans by reading one root and one blob, never the
    * table's metadata. One snapshot per scan: the pre-split code
    * re-read the manifest per planning call, which a concurrent commit
    * could skew mid-plan. */
  protected lazy val prunedManifest: Option[AtomicTable.Manifest] =
    if (changeFeed || startingVersion.isDefined) None
    else if (pinned.isDefined) // version-pinned: aging out IS an error
      GraftSource.rootFor(root, pinned).map(pruneAndHydrate)
    else // head read: tolerate a concurrent commit+gc deleting a blob
      // between the root read and hydration — re-prune the fresh root
      AtomicTable.withHeadRoot(java.nio.file.Paths.get(root))(
        Option.empty[AtomicTable.Manifest])(r => Some(pruneAndHydrate(r)))

  private def pruneAndHydrate(r: AtomicTable.ManifestRoot)
      : AtomicTable.Manifest =
    if (r.partitions.isEmpty)
      AtomicTable.hydrate(java.nio.file.Paths.get(root), r, Set.empty)
    else {
      val pcols = GraftSource.partitionColsOf(r)
      val kept = r.partitions.keySet
        .filter(filtersAdmit(_, pcols, r.stats.get))
      // pruning observability: what the root-level admission skipped,
      // counted WITHOUT hydrating the skipped partitions' blobs (file
      // counts ride the root exactly so this stays O(partitions))
      mPartsSkippedStatic.set(r.partitions.size - kept.size)
      mFilesSkippedPartition.set(
        r.partitions.keysIterator.filterNot(kept)
          .map(p => r.fileCounts.getOrElse(p, 0).toLong).sum)
      val m = AtomicTable.hydrate(java.nio.file.Paths.get(root), r, kept)
      m.copy(partitions = m.partitions.filter { case (p, _) => kept(p) })
    }

  // ---- scan pruning metrics (driver-side DSv2 CustomMetrics) --------
  // Static tiers record once (under the lazy manifest/plan inits; the
  // batch-CDF path accumulates per version); runtime tiers overwrite on
  // every planInputPartitions call, so the values Spark collects after
  // the FINAL planning pass describe the plan that actually ran.
  private val mPartsSkippedStatic = new java.util.concurrent.atomic.AtomicLong
  private val mFilesSkippedPartition = new java.util.concurrent.atomic.AtomicLong
  private val mFilesSkippedZoneMap = new java.util.concurrent.atomic.AtomicLong
  private val mFilesSkippedBloom = new java.util.concurrent.atomic.AtomicLong
  @volatile private var mPartsSkippedRuntime = 0L
  @volatile private var mFilesSkippedRuntime = 0L
  @volatile private var mFilesSkippedLimit = 0L
  @volatile private var mPartsPlanned = 0L
  @volatile private var mFilesPlanned = 0L
  @volatile private var mBytesPlanned = 0L

  /** V2 output ordering: every input split is ONE data file, and the
    * manifest records per dir which columns that dir's files are
    * internally sorted by (write_order INSERTs, clustered compaction) —
    * so the scan can claim the common marker prefix across ALL live
    * dirs, restricted to projected columns. Spark itself only honors
    * the claim while each key group holds at most one split
    * (DataSourceV2ScanExecBase), so multi-file partitions degrade to a
    * sort, never to wrong results. The payoff: a storage-partitioned
    * join over two write_order tables plans with NEITHER exchanges NOR
    * sorts — scan straight into the merge join. A dir with no marker
    * claims nothing (pre-sort commits, unordered writers): ordering is
    * an optimization, absence only costs the sort back. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (changeFeed || startingVersion.isDefined) return Array.empty
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    // the claim only needs to hold for the PLANNED splits, so the
    // pruned snapshot's dirs (and only their sort markers) decide it
    prunedManifest.filter(_.partitions.nonEmpty)
      .map { m =>
        val perDir = m.partitions.values.flatten.toSeq
          // sort markers written before a rename name the old column
          .map(d => m.sorted.get(d)
            .map(_.split(",").toSeq.map(n => nowNamed.getOrElse(n, n)))
            .getOrElse(Nil))
        val common =
          if (perDir.isEmpty) Nil
          else perDir.reduce { (a, b) =>
            a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
          }
        // identity partition columns are CONSTANT within a split (one
        // file of one partition), so they lead the claim for free —
        // what lets a join on (partition col, order col) skip its sorts
        val constant = GraftSource.partitionColsOf(m)
          .filterNot(GraftSource.syntheticLevel(full, _))
          .filter(required.fieldNames.contains)
        (constant ++
          common.takeWhile(required.fieldNames.contains)
            .filterNot(constant.contains))
          .map(c =>
            Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
          .toArray
      }.getOrElse(Array.empty)
  }

  // ---- dynamic partition pruning (runtime filtering) ----------------
  // Spark hands the scan the JOIN-side key values at execution time
  // (the DPP subquery result); any value set extractable on a partition
  // column narrows the planned partitions per LEVEL. The lazy `planned`
  // stays the unfiltered plan (statistics may force it early); the
  // keep-set applies at planInputPartitions, which BatchScanExec
  // re-invokes after filter() fires.
  @volatile private var runtimeKeep: Option[Map[Int, Set[String]]] = None

  /** Runtime ZONE-MAP skipping on non-partition columns: the join-side
    * key values (the same DPP subquery result) are tested against the
    * manifest's partition- and FILE-level [min, max] bounds, so a
    * broadcast of one day's keys prunes an unclustered fact down to the
    * files whose ranges could hold them — the second pruning
    * granularity DPP alone cannot reach. column -> admitted values,
    * rendered in the zone-map string encoding. */
  @volatile private var runtimeStatKeep: Option[Map[String, Set[String]]] = None

  /** Non-partition columns whose bounds SOME live partition tracks, in
    * types whose internal-literal rendering matches the zone-map string
    * encoding (timestamps don't: their internal form is epoch micros —
    * offering them would intersect empty and over-prune). Cached per
    * manifest identity: the computation walks every file-stats entry
    * (O(files), same order as planning itself), and Spark calls
    * filterAttributes/filter several times per scan. */
  private val statColumnsCache =
    new java.util.concurrent.atomic.AtomicReference[(Long, Seq[String])]()
  private def statColumns(m: AtomicTable.Manifest): Seq[String] = {
    val cached = statColumnsCache.get()
    if (cached != null && cached._1 == m.version) return cached._2
    val computed = computeStatColumns(m)
    statColumnsCache.set((m.version, computed))
    computed
  }
  private def computeStatColumns(m: AtomicTable.Manifest): Seq[String] = {
    val tracked = ((m.stats.valuesIterator.flatMap(_.mins.keysIterator) ++
      m.fileStats.valuesIterator.flatMap(
        _.valuesIterator.flatMap(_.mins.keysIterator))).toSet ++
      // bloom columns answer runtime point sets even with no zone maps
      m.properties.get(GraftSource.BloomColsProperty)
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil))
      // metadata recorded before a rename tracks the OLD name — offer
      // the current one (the probes walk back through the aliases)
      .map(n => nowNamed.getOrElse(n, n))
    val levelSources = GraftSource.partitionColsOf(m)
      .map(GraftSource.levelSource(full, _)).toSet
    required.fieldNames.toSeq
      .filter(tracked)
      .filterNot(levelSources)
      .filter(c => full.fields.find(_.name == c).map(_.dataType).exists {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => false
        case _ => true
      })
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (changeFeed || startingVersion.isDefined) Array.empty
    else prunedManifest
      .filter(_.partitions.nonEmpty).toSeq
      .flatMap { m =>
        GraftSource.partitionColsOf(m)
          // a bucket/transform level offers its SOURCE column: a DPP dim
          // filter on the key then prunes the fact to the matching segments
          .map(GraftSource.levelSource(full, _))
          // Spark resolves these against the scan OUTPUT — a partition
          // column pruned from the projection must not be offered
          .filter(required.fieldNames.contains) ++
          // zone-mapped data columns: runtime values skip by bounds
          statColumns(m)
      }.distinct
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val m = prunedManifest
      .filter(_.partitions.nonEmpty).getOrElse(return)
    val pcols = GraftSource.partitionColsOf(m)
    val acc = scala.collection.mutable.Map.empty[Int, Set[String]]
    for (p <- predicates; (c, i) <- pcols.zipWithIndex)
      GraftSource.runtimeKeepContribution(full, c, p).foreach(vs =>
        acc(i) = acc.get(i).fold(vs)(_ intersect vs))
    if (acc.nonEmpty) runtimeKeep = Some(acc.toMap)
    val statAcc = scala.collection.mutable.Map.empty[String, Set[String]]
    for (p <- predicates; c <- statColumns(m))
      GraftV2Predicates.valuesFor(p, c).foreach(vs =>
        statAcc(c) = statAcc.get(c).fold(vs)(_ intersect vs))
    if (statAcc.nonEmpty) runtimeStatKeep = Some(statAcc.toMap)
  }

  /** Post-pushdown statistics from metadata alone: bytes are the sum of
    * the PLANNED (pruned) partitions' committed file lengths, rows the
    * sum of their zone-map counts when every planned partition carries
    * one and no delete vector is outstanding (a vector would make the
    * count an overestimate — rows are then simply not reported). This
    * is what lets Catalyst STATICALLY pick a broadcast join when a
    * pruned graft side fits under the threshold — without it a DSv2
    * scan defaults to "unknown = huge" and every join on a small
    * dimension table shuffles until AQE rescues it at runtime. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // a STREAMING changefeed scan has no batch plan to measure (offsets
    // drive its planning) — report unknown rather than force one
    if (changeFeed && startingVersion.isEmpty)
      return new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    // per-file SPLITS share a partition key — merge them back per key
    // so the dir-level accounting below never double-counts a dir
    val parts = planned.collect { case p: GraftInputPartition => p }
      .groupBy(_.partValue).values.map(ps =>
        ps.head.copy(dataFiles = ps.flatMap(_.dataFiles).toSeq.distinct))
      .toSeq
    val conf = new Configuration()
    // planned files of `p` that live under table dir `d`, matched by
    // parent-path suffix: committedFiles may return scheme-qualified
    // (file:/...) paths from listStatus while root/d are plain, so a
    // "$root/$d/" prefix match would miss and zero the estimate
    def filesInDir(p: GraftInputPartition, d: String): Seq[String] =
      p.dataFiles.filter { f =>
        val cut = f.lastIndexOf('/')
        cut > 0 && f.substring(0, cut).endsWith("/" + d)
      }
    var bytes = 0L
    if (!changeFeed && startingVersion.isEmpty) {
      // sum the planned partitions' per-dir totals from the manifest —
      // zero filesystem calls on the planning path; dirs a pre-upgrade
      // manifest doesn't carry are stat'd once per process (data dirs
      // are immutable after commit, so the cache can never go stale)
      prunedManifest.foreach { m =>
        parts.foreach { p =>
          m.partitions.getOrElse(p.partValue, Nil).foreach { d =>
            val dirBytes = m.bytes.getOrElse(d,
              GraftSource.cachedDirBytes(conf, root, d))
            // FILE skipping may have pruned some of this dir's files
            // from the plan: scale the dir's bytes by the planned
            // fraction so a file-pruned side can go statically
            // broadcastable too (an estimate — per-file lengths aren't
            // in the manifest, and uniform is the right prior for the
            // writer's one-file-per-task layout)
            val kept = filesInDir(p, d).size
            val total = m.files.get(d).map(_.size)
              .orElse(m.fileStats.get(d).map(_.size)).getOrElse(-1)
            bytes +=
              (if (total > 0 && kept < total) dirBytes * kept / total
               else dirBytes)
          }
        }
      }
    } else {
      // CDF / startingVersion scans plan APPENDED dirs, not whole
      // partitions — measure exactly the planned files (bounded by the
      // range's change volume)
      parts.foreach(_.dataFiles.foreach { f =>
        val p = new Path(f)
        try bytes += p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case _: java.io.IOException => () }
      })
    }
    val rows: Option[Long] =
      // a CDF/startingVersion scan plans APPENDED dirs, not whole
      // partitions — the manifest's per-partition counts don't apply
      if (changeFeed || startingVersion.isDefined ||
        parts.exists(_.vectorFiles.nonEmpty)) None
      else prunedManifest.flatMap { m =>
        // when every planned file carries a file-level map, count
        // exactly the planned files (file skipping makes whole-partition
        // totals an overcount); else fall back to partition counts
        val perFile = parts.flatMap { p =>
          m.partitions.getOrElse(p.partValue, Nil).flatMap { d =>
            val fst = m.fileStats.getOrElse(
              d, Map.empty[String, AtomicTable.PartStats])
            filesInDir(p, d).map(f =>
              fst.get(f.substring(f.lastIndexOf('/') + 1)).map(_.rows))
          }
        }
        if (perFile.nonEmpty && perFile.forall(_.isDefined))
          Some(perFile.flatten.sum)
        else {
          val keys = parts.map(_.partValue)
          if (keys.forall(m.stats.contains))
            Some(keys.map(m.stats(_).rows).sum)
          else None
        }
      }
    // V2 COLUMN statistics — what Spark's CBO eats (transformV2Stats →
    // attributeStats): min/max folded from the PLANNED partitions' zone
    // maps (alias-resolved, so pre-rename bounds still count), NDV and
    // null counts from ANALYZE's table-level column properties. All are
    // estimates by contract; absent entries are always safe. With these,
    // a selective filter on an analyzed graft table shrinks the join
    // estimate below the broadcast threshold STATICALLY — no AQE needed.
    val colStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // only when CBO will actually consume them: with cbo off (the
      // default) attributeStats are dead weight, and folding bounds
      // over every planned partition x column is real planning work at
      // a 100k-partition root
      val cboOn = try org.apache.spark.sql.internal.SQLConf.get.cboEnabled
        catch { case _: Exception => false }
      if (cboOn && !changeFeed && startingVersion.isEmpty)
        prunedManifest.foreach { m =>
        val keys = parts.map(_.partValue)
        val analyzed = AtomicTable.colStats(m.properties)
        val aliases = GraftSource.renameAliases(m.properties)
        full.fields.foreach { f =>
          val cands = f.name +: aliases.getOrElse(f.name, Nil)
          def bound(of: AtomicTable.PartStats => Map[String, String])
              : Option[Seq[String]] = {
            val per = keys.map(k => m.stats.get(k)
              .flatMap(s => cands.iterator.map(of(s).get)
                .collectFirst { case Some(v) => v }))
            if (per.nonEmpty && per.forall(_.isDefined)) Some(per.flatten)
            else None
          }
          val mn = bound(_.mins)
            .map(_.reduce((a, x) =>
              if (AtomicTable.statsOrder(f.dataType, x, a) < 0) x else a))
            .flatMap(AtomicTable.statsValue(f.dataType, _))
          val mx = bound(_.maxs)
            .map(_.reduce((a, x) =>
              if (AtomicTable.statsOrder(f.dataType, x, a) > 0) x else a))
            .flatMap(AtomicTable.statsValue(f.dataType, _))
          val an = cands.iterator.flatMap(analyzed.get).nextOption()
          if (mn.isDefined || mx.isDefined || an.isDefined) {
            def optLong(v: Option[Long]): java.util.OptionalLong =
              v.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
            // NDV can never exceed the planned row estimate
            val ndv = an.flatMap(_.ndv)
              .map(n => rows.fold(n)(r => math.min(n, r)))
            val cs = new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong = optLong(ndv)
              override def nullCount(): java.util.OptionalLong =
                optLong(an.flatMap(_.nulls))
              override def avgLen(): java.util.OptionalLong =
                optLong(an.flatMap(_.avgLen))
              override def maxLen(): java.util.OptionalLong =
                optLong(an.flatMap(_.maxLen))
              override def min(): java.util.Optional[Object] =
                mn.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def max(): java.util.Optional[Object] =
                mx.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
            }
            out.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(f.name), cs)
            ()
          }
        }
      }
      out
    }
    val b = bytes
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft:$root${pinned.map(v => s"@v$v").getOrElse("")} " +
      s"pushed=[${filters.mkString(", ")}]"

  // the scan is key-grouped by the partition column BY CONSTRUCTION
  // (one input partition per table partition, each tagged with its
  // key): reporting it lets Spark elide the shuffle for aggregations
  // and joins already clustered on the column — the storage-partitioned
  // join path (spark.sql.sources.v2.bucketing.enabled). Planned ONCE
  // and cached so the reported numPartitions and the planned partitions
  // can never disagree.
  private lazy val planned: Array[InputPartition] =
    if (changeFeed) planChangeFeed()
    else startingVersion match {
      // batch change feed (Delta CDF's batch form): the manifest diff
      // between version startingVersion-1 and endingVersion (default
      // head) — exactly the partition dirs the commits in that range
      // (re)referenced, same contract as the streaming changefeed
      // (rewrites re-emit new contents, drops emit nothing, vectors do
      // not apply — a vector delete stages no data)
      case Some(from) =>
        val rootPath = java.nio.file.Paths.get(root)
        AtomicTable.currentVersion(rootPath) match {
          case None => Array.empty
          case Some(head) =>
            val to = endingVersion.getOrElse(head)
            require(to <= head, s"endingVersion=$to is beyond v$head of $root")
            require(from <= to + 1L,
              s"startingVersion=$from is after endingVersion=$to of $root")
            // the range diff is root-level; only CHANGED partitions'
            // blobs hydrate — cost ∝ the range's change volume
            val endR = AtomicTable.rootAt(rootPath, to)
            val startParts: Map[String, Seq[String]] =
              if (from <= 1L) Map.empty
              else try AtomicTable.rootAt(rootPath, from - 1L).partitions
              catch {
                case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
                  throw new IllegalArgumentException(
                    s"startingVersion=$from needs version ${from - 1} of $root, " +
                      "which is outside the retention window")
              }
            val changed = GraftSource.changedDirs(startParts, endR.partitions)
            planFromManifest(
              AtomicTable.hydrate(rootPath, endR, changed.keySet)
                .copy(partitions = changed, deletes = Map.empty))
        }
      case None =>
        // the pruned snapshot: admitted keys decided on the root, only
        // their blobs hydrated — planFromManifest's own pruning is then
        // a no-op re-check over the already-admitted set
        prunedManifest match {
          case None => Array.empty
          case Some(m) => planFromManifest(m)
        }
    }

  /** `readChangeFeed=true`: one input partition per (commit version,
    * partition) with the appended dirs only, each row surfacing as
    * `_change_type = 'insert'` / `_commit_version = v` — row-level CDF
    * for the append-only history shape (streaming-sink epochs, ingest
    * tags). A commit in the range that REWRITES a partition, changes
    * its delete vectors, or DROPS it has change rows a plain scan
    * cannot express (preimages need a join) — fail loudly and point at
    * the full-fidelity [[graft.etl.ChangeFeed.changes]] instead of
    * silently mislabeling a rewrite as inserts. */
  private def planChangeFeed(): Array[InputPartition] = {
    require(startingVersion.isDefined,
      "batch readChangeFeed needs a startingVersion")
    val rootPath = java.nio.file.Paths.get(root)
    val head = AtomicTable.currentVersion(rootPath).getOrElse(return Array.empty)
    val from = math.max(startingVersion.get, 1L)
    val to = endingVersion.getOrElse(head)
    require(to <= head, s"endingVersion=$to is beyond v$head of $root")
    require(from <= to + 1L,
      s"startingVersion=$from is after endingVersion=$to of $root")
    (from to to).flatMap { v =>
      planFromManifest(GraftSource.cdfAppendManifest(root, v))
        .map(_.asInstanceOf[GraftInputPartition]
          .copy(changeVersion = Some(v)): InputPartition)
    }.toArray
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    // CDF scans can plan several input partitions with the SAME key
    // (one per commit) — do not report key-grouping there
    if (changeFeed)
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    GraftSource.rootFor(root, pinned)
      .filter(_.partitions.nonEmpty)
      .map { m =>
        // the honest transforms: Spark resolves bucket/days/... through
        // the catalog's FunctionCatalog, making two same-partitioned
        // tables storage-partition-compatible (zero-exchange join).
        // numPartitions counts DISTINCT KEYS — a partition may plan as
        // several per-file splits that the key-grouped path regroups
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          GraftSource.partitionColsOf(m).toArray.map(c =>
            GraftSource.levelTransformOf(full, c)
              : org.apache.spark.sql.connector.expressions.Expression),
          planInputPartitions().collect {
            case p: GraftInputPartition => p.partValue
          }.distinct.length)
          : org.apache.spark.sql.connector.read.partitioning.Partitioning
      }.getOrElse(
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    def keysOf(ps: Array[InputPartition]) = ps.iterator
      .collect { case p: GraftInputPartition => p.partValue }.toSet
    def filesOf(ps: Array[InputPartition]) = ps.iterator
      .collect { case p: GraftInputPartition => p.dataFiles.size.toLong }.sum
    val base = planned
    val afterDpp = runtimeKeep match {
      case Some(byLevel) => base.filter {
        case p: GraftInputPartition =>
          val segs = p.partValues
          byLevel.forall { case (i, vs) => vs.contains(segs(i)) }
        case _ => true
      }
      case None => base
    }
    val dppDropped = keysOf(base).size - keysOf(afterDpp).size
    val afterRt = applyRuntimeStats(afterDpp) // sets the runtime file tier
    mPartsSkippedRuntime =
      dppDropped.toLong + (keysOf(afterDpp).size - keysOf(afterRt).size)
    val fin = truncate(afterRt)
    mFilesSkippedLimit = filesOf(afterRt) - filesOf(fin)
    mPartsPlanned = keysOf(fin).size.toLong
    mFilesPlanned = filesOf(fin)
    mBytesPlanned = plannedBytesOf(fin)
    fin
  }

  /** Manifest-only byte estimate of the final plan (the same per-dir
    * totals estimateStatistics uses, scaled by the planned fraction of
    * each dir's files; dirs a pre-upgrade manifest doesn't size
    * contribute 0 — a metric never pays a filesystem call). */
  private def plannedBytesOf(ps: Array[InputPartition]): Long = {
    val m = prunedManifest.getOrElse(return 0L)
    val keptPerDir = scala.collection.mutable.Map.empty[String, Int]
    ps.foreach {
      case p: GraftInputPartition => p.dataFiles.foreach { f =>
        val cut = f.lastIndexOf('/')
        val parent = f.substring(0, math.max(cut, 0))
        m.partitions.getOrElse(p.partValue, Nil)
          .find(d => parent.endsWith("/" + d))
          .foreach(d => keptPerDir(d) = keptPerDir.getOrElse(d, 0) + 1)
      }
      case _ => ()
    }
    keptPerDir.iterator.map { case (d, kept) =>
      val dirBytes = m.bytes.getOrElse(d, 0L)
      val total = m.files.get(d).map(_.size)
        .orElse(m.fileStats.get(d).map(_.size)).getOrElse(-1)
      if (total > 0 && kept < total) dirBytes * kept / total else dirBytes
    }.sum
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    GraftScanMetrics.all

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    import GraftScanMetrics._
    Array(
      Value(PartitionsPlanned, mPartsPlanned),
      Value(PartitionsSkippedStatic, mPartsSkippedStatic.get),
      Value(PartitionsSkippedRuntime, mPartsSkippedRuntime),
      Value(FilesPlanned, mFilesPlanned),
      Value(FilesSkippedPartition, mFilesSkippedPartition.get),
      Value(FilesSkippedZoneMap, mFilesSkippedZoneMap.get),
      Value(FilesSkippedBloom, mFilesSkippedBloom.get),
      Value(FilesSkippedRuntime, mFilesSkippedRuntime),
      Value(FilesSkippedLimit, mFilesSkippedLimit),
      Value(BytesPlanned, mBytesPlanned))
  }

  /** Runtime zone-map skipping: drop partitions whose bounds refute
    * every runtime value on every constrained column, and (plain reads
    * only — the group-replace contract forbids it) empty the splits of
    * refuted FILES, keeping their key visible to key-grouped planning.
    * Missing bounds, unknown types, and unparseable values all ADMIT —
    * pruning can only skip storage the values cannot touch. */
  private def applyRuntimeStats(parts: Array[InputPartition])
      : Array[InputPartition] = runtimeStatKeep match {
    case None => mFilesSkippedRuntime = 0L; parts
    case Some(byCol) =>
      val m = prunedManifest.getOrElse { mFilesSkippedRuntime = 0L; return parts }
      var rtFileSkips = 0L
      def admits(mins: Map[String, String], maxs: Map[String, String]): Boolean =
        byCol.forall { case (c, vs) =>
          // alias-aware, same-name bounds only (see colBounds)
          val bound = (c +: renames.getOrElse(c, Nil)).iterator
            .map(n => (mins.get(n), maxs.get(n)))
            .collectFirst { case (Some(lo), Some(hi)) => (lo, hi) }
          (bound, full.fields.find(_.name == c).map(_.dataType)) match {
            case (Some((lo, hi)), Some(dt)) =>
              vs.exists(v => scala.util.Try(
                AtomicTable.statsOrder(dt, lo, v) <= 0 &&
                  AtomicTable.statsOrder(dt, v, hi) <= 0).getOrElse(true))
            case _ => true
          }
        }
      val out = parts.flatMap {
        case p: GraftInputPartition =>
          val pAdmits = m.stats.get(p.partValue)
            .forall(st => admits(st.mins, st.maxs))
          if (!pAdmits) None
          else if (!skipFilesByStats || p.dataFiles.isEmpty) Some(p)
          else {
            val f = p.dataFiles.head
            val cut = f.lastIndexOf('/')
            val parent = f.substring(0, math.max(cut, 0))
            val zoneAdmits = m.partitions.getOrElse(p.partValue, Nil)
              .find(d => parent.endsWith("/" + d))
              .flatMap(d => m.fileStats
                .getOrElse(d, Map.empty[String, AtomicTable.PartStats])
                .get(f.substring(cut + 1)))
              .forall(st => admits(st.mins, st.maxs))
            // bloom sidecars also answer small runtime value sets on
            // declared bloom columns (point-lookup joins on unclustered
            // keys); large sets skip the probe — each value costs 5
            // bit tests, and wide sets admit almost everything anyway
            val bloomCols = m.properties
              .get(GraftSource.BloomColsProperty)
              .map(_.split(",").toSeq.map(_.trim)
                .map(n => nowNamed.getOrElse(n, n)).toSet)
              .getOrElse(Set.empty[String])
            val bloomAdmits = bloomCols.isEmpty || byCol.forall {
              case (c, vs) =>
                !bloomCols.contains(c) || vs.size > 128 ||
                  aliasSidecar(f, c).forall(b =>
                    vs.exists(GraftBloom.mightContain(b, _)))
            }
            if (zoneAdmits && bloomAdmits) Some(p)
            else {
              rtFileSkips += p.dataFiles.size
              Some(p.copy(dataFiles = Nil): InputPartition)
            }
          }
        case other => Some(other)
      }
      mFilesSkippedRuntime = rtFileSkips
      out
  }

  /** Exact row count of each PLANNED data file, recorded while planning
    * — only for files in DV-free partitions carrying file-level stats
    * (a vector subtracts rows at read; a file with no map is unknown).
    * The basis for LIMIT/TopN truncation: a file absent here counts 0
    * toward the limit, so truncation can only KEEP more than needed,
    * never under-deliver. */
  @volatile private var plannedFileRows: Map[String, Long] = Map.empty

  /** LIMIT/TopN truncation over the final (post-runtime-filter) plan:
    * stop planning files once the kept files' counted rows cover the
    * limit. For TopN, order whole partitions by their key segments
    * first — per level, typed: identity levels compare in the declared
    * type's order, monotone-transform levels in the transform's output
    * space. Identity-only orderings may cut at FILE granularity (every
    * row of a partition ties on the key, so kept rows are
    * interchangeable with dropped ones); orderings involving a
    * transform SOURCE cut at SEGMENT granularity only, keeping every
    * partition tied on the boundary tuple (rows inside one day are NOT
    * interchangeable — a finer cut could drop a true top-n row).
    * Refused outright when a null partition value appears in a sort key
    * or a segment fails to parse. Every refusal path returns the full
    * plan: truncation is an optimization, never a semantics change. */
  private def truncate(parts: Array[InputPartition]): Array[InputPartition] = {
    val n = limitRows.getOrElse(return parts)
    if (n <= 0) return Array.empty
    val gps: Array[GraftInputPartition] =
      parts.map { case g: GraftInputPartition => g; case _ => return parts }
    if (gps.isEmpty) return parts
    val pcols = gps.head.partitionCols
    // (level idx, descending, transform kind if monotone level, type)
    val keys: Seq[(Int, Boolean, Option[GraftTransforms.Kind], DataType)] =
      topOrders.map { case (c, desc) =>
        val i = pcols.indexOf(c)
        if (i < 0) return parts
        GraftTransforms.level(c)
          .filter(_ => GraftSource.syntheticLevel(full, c)) match {
          case Some(l) =>
            val dt = full.fields.find(_.name == l.src).map(_.dataType)
              .getOrElse(return parts)
            (i, desc, Some(l.kind), dt)
          case None =>
            (i, desc, None,
              full.fields.find(_.name == c).map(_.dataType)
                .getOrElse(StringType))
        }
      }
    def cmpSeg(k: (Int, Boolean, Option[GraftTransforms.Kind], DataType),
        a: String, b: String): Option[Int] = k._3 match {
      case Some(kind) => GraftTransforms.dirOrder(kind, k._4, a, b)
      case None => Some(AtomicTable.statsOrder(k._4, a, b))
    }
    val ordered: Array[GraftInputPartition] =
      if (topOrders.isEmpty) gps
      else {
        if (gps.exists(g => keys.exists { case (i, _, _, _) =>
          g.partValues(i) == org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.DEFAULT_PARTITION_NAME })) return parts
        // every segment must parse in its comparator before sorting
        if (gps.exists(g => keys.exists(k =>
          cmpSeg(k, g.partValues(k._1), g.partValues(k._1)).isEmpty)))
          return parts
        gps.sortWith { (a, b) =>
          var r = 0
          val it = keys.iterator
          while (r == 0 && it.hasNext) {
            val k = it.next()
            val c = cmpSeg(k, a.partValues(k._1), b.partValues(k._1))
              .getOrElse(0)
            r = if (k._2) -c else c
          }
          r < 0
        }
      }
    val out = Array.newBuilder[InputPartition]
    var known = 0L
    if (topOrders.isEmpty || keys.forall(_._3.isEmpty)) {
      // identity-only (or plain LIMIT): file-granular cut
      var done = false
      for (g <- ordered if !done) {
        val kept = Seq.newBuilder[String]
        var cut = false
        for (f <- g.dataFiles if !done) {
          kept += f
          known += plannedFileRows.getOrElse(f, 0L)
          if (known >= n) { done = true; cut = true }
        }
        out += (if (cut) g.copy(dataFiles = kept.result()) else g)
      }
    } else {
      // transform ordering: segment-granular cut, boundary ties kept
      def tupleOf(g: GraftInputPartition): Seq[String] =
        keys.map(k => g.partValues(k._1))
      var i = 0
      var done = false
      while (i < ordered.length && !done) {
        val g = ordered(i)
        out += g
        known += g.dataFiles.map(plannedFileRows.getOrElse(_, 0L)).sum
        if (known >= n) {
          var j = i + 1
          while (j < ordered.length && tupleOf(ordered(j)) == tupleOf(g)) {
            out += ordered(j)
            j += 1
          }
          done = true
        }
        i += 1
      }
    }
    out.result()
  }

  /** The scan plan for one specific manifest — split out so the
    * row-level scan can pin the manifest it planned against. A manifest
    * can be empty (every partition deleted) and still be a real table. */
  private[sources] def planFromManifest(m: AtomicTable.Manifest)
      : Array[InputPartition] = {
    if (m.partitions.isEmpty) return Array.empty
    val pcols = GraftSource.partitionColsOf(m)
    val keyCols: Seq[String] = m.properties.get(AtomicTable.DeleteKeysProperty)
      .map(_.split(",").toSeq).getOrElse(Nil)
    val ptypes = pcols.map(c =>
      if (full.fieldNames.contains(c)) full(c).dataType.typeName
      else if (GraftBuckets.level(c).isDefined) "integer" // bucket ids
      else "string") // transform levels stay string-typed (dir value)
    val kept = prunePartitions(m, pcols)
    val conf = new Configuration()
    val rowsAcc = Map.newBuilder[String, Long]
    val plan = kept.toSeq.sortBy(_._1).map { case (part, dirs) =>
      val dataFiles = dirs.flatMap { d =>
        val all = GraftSource.committedFiles(m, conf, root, d)
        // FILE-level data skipping: inside an admitted partition, drop
        // files whose recorded [min, max] refutes a pushed filter —
        // second-granularity pruning after the partition zone maps.
        // NEVER on the row-level group-replace scan (skipFilesByStats
        // false there): a scanned GROUP is rewritten from scan output,
        // so a skipped file's rows would be LOST by the rewrite;
        // skipping whole groups is safe (they stay untouched), skipping
        // files inside one is not. Files without stats always read.
        val fst =
          if (skipFilesByStats && filters.nonEmpty)
            m.fileStats.getOrElse(d, Map.empty)
          else Map.empty[String, AtomicTable.PartStats]
        val afterStats =
          if (fst.isEmpty) all
          else all.filter { path =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            fst.get(name).forall(st =>
              filters.forall(f => statsAdmit(fileBounds(st, _), f)))
          }
        // bloom sidecars refute POINT predicates file by file — the
        // skip zone maps cannot do on unclustered columns (same group
        // contract: never on the row-level group-replace scan)
        val afterBloom =
          if (!skipFilesByStats || bloomChecks(m).isEmpty) afterStats
          else afterStats.filter { path =>
            bloomChecks(m).forall { case (c, vs) =>
              aliasSidecar(path, c).forall(b =>
                vs.exists(GraftBloom.mightContain(b, _)))
            }
          }
        mFilesSkippedZoneMap.addAndGet((all.size - afterStats.size).toLong)
        mFilesSkippedBloom.addAndGet((afterStats.size - afterBloom.size).toLong)
        afterBloom
      }
      val vecFiles = m.deletes.getOrElse(part, Nil)
        .flatMap(d => listParquet(conf, s"$root/$d"))
      // exact per-file rows for LIMIT/TopN truncation — DV-free only
      // (a vector subtracts rows at read, so stats would overcount)
      if (vecFiles.isEmpty && m.deletes.getOrElse(part, Nil).isEmpty)
        dataFiles.foreach { path =>
          val cut = path.lastIndexOf('/')
          val parent = path.substring(0, math.max(cut, 0))
          dirs.find(d => parent.endsWith("/" + d)).foreach { d =>
            m.fileStats.getOrElse(d, Map.empty)
              .get(path.substring(cut + 1))
              .foreach(st => rowsAcc += path -> st.rows)
          }
        }
      // ONE SPLIT PER DATA FILE (the Iceberg/Delta convention): a big
      // partition reads with as many tasks as it has files instead of
      // one — without this, read parallelism is capped at the PARTITION
      // count (a 1 TB day = one task at 100 TB). Splits share the
      // partition's key (HasPartitionKey), so the storage-partitioned
      // join path regroups them per key; vectors ride every split
      // (small by the maintenance contract). A partition whose files
      // were all skipped still emits one empty split, keeping its key
      // visible to key-grouped planning.
      val splits: Seq[InputPartition] =
        if (dataFiles.isEmpty)
          Seq(GraftInputPartition(part, Nil, vecFiles, keyCols, pcols, ptypes))
        else dataFiles.map(f => GraftInputPartition(
          part, Seq(f), vecFiles, keyCols, pcols, ptypes): InputPartition)
      splits
    }.toArray.flatten
    plannedFileRows = rowsAcc.result()
    plan
  }

  /** Whether [[planFromManifest]] may prune FILES by their zone maps.
    * True for plain reads; the row-level group-replace scan overrides
    * to false (group contract: scanned partitions rewrite from scan
    * output, so every file of a scanned group must be read). */
  protected def skipFilesByStats: Boolean = true

  /** Pushed POINT predicates (=, IN) on the table's declared bloom
    * columns, values in the shared zone-map rendering — what the
    * per-file sidecar probes test. Conjunctive: every check must admit
    * a file for it to plan. */
  private def bloomChecks(m: AtomicTable.Manifest): Seq[(String, Set[String])] = {
    // declarations recorded before a rename name the old column —
    // translate to the current name; the sidecar probe walks back
    // through the aliases (aliasSidecar)
    val cols = m.properties.get(GraftSource.BloomColsProperty)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .map(n => nowNamed.getOrElse(n, n)).toSet)
      .getOrElse(Set.empty[String])
    if (cols.isEmpty) Nil
    else filters.toSeq.flatMap {
      case EqualTo(c, v) if cols.contains(c) && v != null =>
        Some(c -> Set(GraftSource.filterValueString(v)))
      case In(c, vs) if cols.contains(c) && vs != null &&
          vs.exists(_ != null) =>
        Some(c -> vs.filter(_ != null)
          .map(GraftSource.filterValueString).toSet)
      case _ => None
    }
  }

  /** The bloom sidecar for column `c` or its newest historical alias
    * that exists next to `path` — pre-rename files carry their
    * sidecars under the name the file was written with. */
  private def aliasSidecar(path: String, c: String): Option[Array[Byte]] =
    (c +: renames.getOrElse(c, Nil)).iterator
      .map(GraftBloom.sidecarOf(path, _))
      .collectFirst { case Some(b) => b }

  private def listParquet(conf: Configuration, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted.toSeq
  }

  /** Metadata pruning: partition-key predicates select by manifest key;
    * zone-mapped column predicates drop partitions whose [min, max]
    * cannot satisfy them. Conservative in every unknown case. */
  private def prunePartitions(m: AtomicTable.Manifest,
      pcols: Seq[String]): Map[String, Seq[String]] = {
    // partition-key predicates compare in the DECLARED type's order (a
    // catalog table can PARTITION BY a BIGINT, where the lexicographic
    // "10" < "9" would wrongly prune and LOSE rows) — the shared
    // partitionExact helper, same comparator as the zone maps; per
    // LEVEL on multi-level keys. Everything else falls to zone maps.
    // Same filtersAdmit as the root-level pruning that fed this plan.
    m.partitions.filter { case (p, _) =>
      filtersAdmit(p, pcols, m.stats.get) }
  }

  /** [min, max, type] of column `c` in a stats entry, None (never
    * prune) when untracked or the column is unknown to the schema.
    * Alias-aware: bounds recorded before a rename live under the old
    * name — both bounds must come from the SAME name (a mixed pair
    * could cross two generations of the column). */
  private def colBounds(s: AtomicTable.PartStats, c: String)
      : Option[(String, String, DataType)] =
    if (!full.fieldNames.contains(c)) None
    else (c +: renames.getOrElse(c, Nil)).iterator
      .map(n => (s.mins.get(n), s.maxs.get(n)))
      .collectFirst { case (Some(mn), Some(mx)) =>
        (mn, mx, full(c).dataType) }

  private def fileBounds(s: AtomicTable.PartStats, c: String)
      : Option[(String, String, DataType)] = colBounds(s, c)

  /** Can a stats range satisfy filter `f`? Shared by partition zone
    * maps and file-level skipping — conservative on every unknown. */
  private def statsAdmit(bounds: String => Option[(String, String, DataType)],
      f: Filter): Boolean = {
    def cmp(dt: DataType, a: String, b: Any): Int =
      AtomicTable.statsOrder(dt, a, GraftSource.filterValueString(b))
    f match {
      case EqualTo(c, v) => bounds(c).forall { case (mn, mx, dt) =>
        cmp(dt, mn, v) <= 0 && cmp(dt, mx, v) >= 0 }
      case GreaterThan(c, v) => bounds(c).forall { case (_, mx, dt) =>
        cmp(dt, mx, v) > 0 }
      case GreaterThanOrEqual(c, v) => bounds(c).forall { case (_, mx, dt) =>
        cmp(dt, mx, v) >= 0 }
      case LessThan(c, v) => bounds(c).forall { case (mn, _, dt) =>
        cmp(dt, mn, v) < 0 }
      case LessThanOrEqual(c, v) => bounds(c).forall { case (mn, _, dt) =>
        cmp(dt, mn, v) <= 0 }
      case In(c, vs) => bounds(c).forall { case (mn, mx, dt) =>
        vs.exists(v => cmp(dt, mn, v) <= 0 && cmp(dt, mx, v) >= 0) }
      case _ => true // unknown/compound filter: cannot prune on it
    }
  }

  /** Columnar leaf decode for this scan (see [[GraftReaderFactory]]):
    * all required types must vectorize, and no partition of the pruned
    * snapshot may carry outstanding delete vectors (the row reader
    * subtracts them per row; the columnar path never sees them). CDF
    * scans qualify — their per-commit append manifests never reference
    * vectors, and the change columns ride as constant vectors. */
  private lazy val columnarEligible: Boolean =
    required.fields.forall(f => GraftColumnar.vectorizable(f.dataType)) && {
      if (changeFeed || startingVersion.isDefined) true
      else prunedManifest.forall(_.deletes.forall(_._2.isEmpty))
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, GraftSource.renameAliases(
      GraftSource.rootFor(root, pinned).map(_.properties)
        .getOrElse(Map.empty)), columnar = columnarEligible,
      colTypes = full.fields.map(f => f.name -> f.dataType).toMap)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(root, full, required, filters,
      startingVersion, changeFeed, consumedCols)
}

/** `spark.readStream.format("graft")` — every AtomicTable is a
  * STREAMING SOURCE whose offsets are table VERSIONS: each micro-batch
  * is the manifest diff between two committed versions, i.e. exactly
  * the partition dirs the commits in that range (re)referenced. For
  * append-style tables — epoch-partitioned streaming sinks
  * ([[graft.streaming.Streams.exactlyOnceBatchCommit]]), ingest-tagged
  * corpora — that IS a row-level insert changefeed; a partition
  * REWRITE re-emits the partition's new full contents (upsert-style
  * changefeed, Delta-CDF without preimages), and a dropped partition
  * emits nothing (no tombstones). The version column `_commit_version`
  * is not added — consumers that need it should partition by epoch,
  * which the exactly-once sinks already do.
  *
  * Exactly-once composition: offsets are versions, the diff is of the
  * two ENDPOINT manifests only (intermediate versions may be GC'd),
  * and restart resumes from the checkpointed version — which must
  * still be inside the table's retention window (`retain` generously
  * on changefeed sources; a too-small window fails loudly here rather
  * than silently re-emitting the world). Pushed partition-key filters
  * still prune the diff; deletion vectors do NOT apply (the feed
  * carries what each commit staged — a vector delete stages no data). */
private[sources] class GraftMicroBatchStream(root: String,
    full: StructType, required: StructType, filters: Array[Filter],
    startingVersion: Option[Long] = None, changeFeed: Boolean = false,
    consumedCols: Array[String] = Array.empty)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class V(v: Long) extends Offset {
    override def json(): String = v.toString
  }

  private def currentV: Long =
    AtomicTable.currentVersion(java.nio.file.Paths.get(root)).getOrElse(0L)

  // Trigger.AvailableNow: pin the target version at trigger start so the
  // run drains exactly the commits that existed then and stops
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(currentV)
  }

  // `startingVersion` (Delta-CDF's knob): emit commits FROM that version
  // onward — the first micro-batch diffs against version N-1's manifest,
  // which must still be retained (same retention contract as resume);
  // the default V(0) replays the table from its first commit
  override def initialOffset(): Offset =
    V(startingVersion.map(v => math.max(v - 1L, 0L)).getOrElse(0L))
  override def deserializeOffset(json: String): Offset = V(json.trim.toLong)
  override def latestOffset(): Offset =
    V(availableNowCap.getOrElse(currentV))
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  override def reportLatestOffset(): Offset = V(currentV)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[V].v, end.asInstanceOf[V].v)
    if (e <= s) return Array.empty
    if (changeFeed) return planChangeFeedBatch(s, e)
    val rootPath = java.nio.file.Paths.get(root)
    // endpoint diff on the ROOTS; hydrate only the changed partitions'
    // blobs for their committed-file lists — per-micro-batch planning
    // cost ∝ the batch's change volume, never table size
    val endR = AtomicTable.rootAt(rootPath, e)
    val startParts: Map[String, Seq[String]] =
      if (s == 0L) Map.empty
      else try AtomicTable.rootAt(rootPath, s).partitions
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"changefeed resume version $s of $root is outside the " +
              "retention window — recreate the stream (and write the " +
              "source table with a larger `retain`)")
      }
    val pcols = GraftSource.partitionColsOf(endR)
    // a stream outlives planning: if a mid-stream spec evolution makes
    // a CONSUMED filter's column stop being a partition column, the
    // exact admission below would silently stop applying it — fail
    // loudly instead (batch scans pin their manifest; a stream can't)
    consumedCols.filterNot(pcols.contains).foreach { c =>
      throw new IllegalStateException(
        s"partition spec of $root evolved mid-stream: consumed filter " +
          s"column '$c' is no longer a partition column — restart the query")
    }
    val changed = GraftSource.changedDirs(startParts, endR.partitions)
      .filter { case (p, _) => partitionFilterAdmits(p, pcols) }
    val endM = AtomicTable.hydrate(rootPath, endR, changed.keySet)
    val conf = new Configuration()
    changed.toSeq.sortBy(_._1).map { case (part, dirs) =>
      val files = dirs.flatMap(d =>
        GraftSource.committedFiles(endM, conf, root, d))
      GraftInputPartition(part, files, Nil, Nil, pcols): InputPartition
    }.toArray
  }

  /** Streaming CDF (`readChangeFeed=true` on `readStream`): the commits
    * of `(s, e]` each plan their own per-version insert partitions,
    * rows tagged `_change_type='insert'` / `_commit_version=v` by the
    * reader — exactly the batch `readChangeFeed` shape, micro-batched.
    * Unlike the plain stream (which diffs only the ENDPOINT manifests
    * and tolerates GC'd intermediates), per-commit attribution needs
    * EVERY manifest of the range retained, and a rewrite/vector/drop
    * commit in the range fails loudly (cdfAppendManifest's contract)
    * instead of mislabeling rewritten rows as inserts. */
  private def planChangeFeedBatch(s: Long, e: Long): Array[InputPartition] = {
    val conf = new Configuration()
    (s + 1 to e).flatMap { v =>
      val m = GraftSource.cdfAppendManifest(root, v)
      if (m.partitions.isEmpty) Nil
      else {
        val pcols = GraftSource.partitionColsOf(m)
        m.partitions.toSeq.sortBy(_._1)
          .filter { case (p, _) => partitionFilterAdmits(p, pcols) }
          .map { case (part, dirs) =>
            val files = dirs.flatMap(d =>
              GraftSource.committedFiles(m, conf, root, d))
            GraftInputPartition(part, files, Nil, Nil, pcols,
              changeVersion = Some(v)): InputPartition
          }
      }
    }.toArray
  }

  private def partitionFilterAdmits(part: String, pcols: Seq[String]): Boolean =
    // the SHARED exact admission the batch scan uses — typed per-level
    // comparisons against the FULL schema (a consumed filter's column
    // may be pruned from `required`, so required's types are not
    // enough, and a consumed filter is never re-checked above the
    // stream: admission here must be row-accurate, not just
    // work-skipping). Non-partition-exact filters admit (skip-only).
    filters.forall { f =>
      GraftSource.partitionExact(full, pcols, f, part)
        .orElse(GraftSource.bucketAdmits(full, pcols, f, part))
        .orElse(GraftSource.transformAdmits(full, pcols, f, part))
        .getOrElse(true)
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, GraftSource.renameAliases(
      AtomicTable.rootOpt(java.nio.file.Paths.get(root))
        .map(_.properties).getOrElse(Map.empty)),
      colTypes = full.fields.map(f => f.name -> f.dataType).toMap)
}

private[sources] final case class GraftInputPartition(partValue: String,
    dataFiles: Seq[String], vectorFiles: Seq[String], keyCols: Seq[String],
    partitionCols: Seq[String], partitionColTypes: Seq[String] = Nil,
    changeVersion: Option[Long] = None)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Per-level value strings of the composite manifest key. */
  def partValues: Seq[String] =
    AtomicTable.partKeyValues(partValue, partitionCols.size)
  private def typeAt(i: Int): String =
    if (i < partitionColTypes.size) partitionColTypes(i) else "string"
  // the key row must carry the DECLARED key types: Spark sorts/groups
  // input partitions by it whenever the scan reports key-grouping
  override def partitionKey(): InternalRow =
    new GenericInternalRow(partValues.zipWithIndex.map { case (v, i) =>
      typeAt(i) match {
        case "long" => v.toLong: Any
        case "integer" => v.toInt: Any
        case "date" => java.time.LocalDate.parse(v).toEpochDay.toInt: Any
        case _ => UTF8String.fromString(v): Any
      }
    }.toArray)
}
