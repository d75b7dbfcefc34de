package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Row-level change-data capture over an [[AtomicTable]] history — the
  * Delta-CDF `table_changes` contract derived purely from the committed
  * manifests, with no change files written at commit time:
  *
  *  - every version in `[from, to]` is diffed against its predecessor at
  *    DIR and DELETE-VECTOR granularity, so the read cost is bounded by
  *    the commits' CHANGE volume (appended dirs, rewritten partitions,
  *    vector keys) — never the table size; untouched partitions are
  *    carried by manifest reference and contribute nothing;
  *  - appended dirs emit their rows as `insert` (zero joins — the dirs
  *    ARE the change);
  *  - a grown delete-vector list emits the deleted rows as `delete`,
  *    full preimages recovered with one broadcast semi-join of the (by
  *    maintenance contract, small) new vector keys against the
  *    partition's pre-commit contents;
  *  - a REWRITTEN partition (dir list replaced: MERGE, UPDATE, compact)
  *    is diffed old-vs-new: with `keyCols`, matched keys with changed
  *    payload emit `update_preimage`/`update_postimage`, unmatched emit
  *    `delete`/`insert`, identical rows emit nothing; without keys the
  *    diff degrades to set semantics (`exceptAll` both ways — deletes
  *    and inserts only);
  *  - a dropped partition emits its final contents as `delete`.
  *
  * Every manifest in the range must still be retained (write history
  * tables with `retain` sized to the feed's consumers — same contract
  * as the streaming changefeed). Output columns: the table schema plus
  * `_change_type` and `_commit_version`, the Delta-CDF column names. */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The change rows of versions `[from, to]`, unioned. `keyCols` (e.g.
    * the table's primary key) upgrades rewrite diffs from set semantics
    * to update classification. */
  def changes(spark: SparkSession, table: String, schema: StructType,
      from: Long, to: Long, keyCols: Seq[String] = Nil): DataFrame = {
    require(from >= 1L && to >= from,
      s"need 1 <= from <= to, got from=$from to=$to")
    val root = Paths.get(table)
    val head = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"$table has no commits"))
    require(to <= head, s"endingVersion=$to is beyond v$head of $table")
    (from to to).map(v => changesAt(spark, table, schema, v, keyCols))
      .reduce(_.unionByName(_))
  }

  /** The change rows of exactly version `v` (against `v - 1`).
    *
    * Shape note for scale: all of a commit's partitions are GROUPED by
    * change class — one scan + one tag for every appended dir, ONE
    * old-vs-new join for all rewritten partitions (partition column
    * joins alongside the keys), one semi-join for all new vector keys,
    * one scan for all drops — so a commit rewriting 10k partitions
    * plans 1 join, not 10k. */
  def changesAt(spark: SparkSession, table: String, schema: StructType,
      v: Long, keyCols: Seq[String] = Nil): DataFrame = {
    val root = Paths.get(table)
    // the version diff CLASSIFIES on the two roots alone (partitions,
    // dir lists, and delete vectors are all root-level); the blobs of
    // only the changed partitions hydrate below, right before their
    // rows are actually read — diff cost ∝ the commit's change volume
    val curR = AtomicTable.rootAt(root, v)
    val prevR =
      if (v == 1L) AtomicTable.ManifestRoot(0L, Map.empty)
      else try AtomicTable.rootAt(root, v - 1L)
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"version ${v - 1} of $table is outside the retention window — " +
              "the change feed needs every manifest in the diffed range")
      }
    def tag(df: DataFrame, tpe: String): DataFrame =
      df.select(schema.fieldNames.map(col): _*)
        .withColumn(ChangeTypeCol, lit(tpe))
        .withColumn(CommitVersionCol, lit(v))

    val empty = tag(AtomicTable.emptyFrame(spark, schema), "insert")
      .limit(0)

    // a properties-only commit on a still-empty table (both manifests
    // have no partitions) changes no rows — and has no dirs to derive
    // the partition columns from
    if (curR.partitions.isEmpty && prevR.partitions.isEmpty) return empty

    // SYNTHETIC levels (bucket/transform specs) are not data columns —
    // they cannot join or project. Dropping them from the diff keys is
    // lossless: a bucket/transform value is a FUNCTION of data columns,
    // so rows equal on the remaining keys share the segment anyway.
    val partitionCols = graft.sources.GraftSource.partitionColsOf(
      if (curR.partitions.nonEmpty) curR else prevR)
      .filter(schema.fieldNames.contains)

    // the feed spans GENERATIONS: a range crossing an ALTER ... RENAME
    // COLUMN reads pre-rename dirs under their old parquet names — the
    // evolved read resolves the declared schema through the alias chain
    // per txn (and fails loudly on a schema that predates the rename).
    // Aliases come from the HEAD root, not the diffed version's: rename
    // properties only accumulate, and a version committed BEFORE the
    // rename has no alias for the files the rename later re-labeled
    val renames = graft.sources.GraftSource.renameAliases(
      AtomicTable.rootOpt(root).map(_.properties).getOrElse(curR.properties))

    /** The listed partitions' rows at a manifest, vectors subtracted. */
    def merged(m: AtomicTable.Manifest, ps: Set[String]): DataFrame =
      AtomicTable.subtractDeletes(spark, table, schema,
        m, AtomicTable.readManifestEvolved(spark, table, schema,
          m.copy(partitions = m.partitions.view.filterKeys(ps).toMap),
          renames),
        Some(ps))

    val curParts = curR.partitions
    val prevParts = prevR.partitions
    val dropped = prevParts.keySet -- curParts.keySet

    // classify every current partition — roots only, no blob reads
    val appendedDirs = Map.newBuilder[String, Seq[String]] // incl. new parts
    val rewritten = Set.newBuilder[String]
    val dvGrownVecs = Seq.newBuilder[String]
    val dvGrownParts = Set.newBuilder[String]
    for ((p, ds) <- curParts) prevParts.get(p) match {
      case None => appendedDirs += p -> ds
      case Some(pds) if ds.startsWith(pds) =>
        if (ds.size > pds.size) appendedDirs += p -> ds.drop(pds.size)
        val prevVecs = prevR.deletes.getOrElse(p, Nil)
        val curVecs = curR.deletes.getOrElse(p, Nil)
        if (curVecs.size > prevVecs.size && curVecs.startsWith(prevVecs)) {
          dvGrownVecs ++= curVecs.drop(prevVecs.size)
          dvGrownParts += p
        } else if (curVecs != prevVecs) rewritten += p
      case Some(_) => rewritten += p
    }
    val app = appendedDirs.result()
    val dvParts = dvGrownParts.result()
    val rw = rewritten.result()
    // hydrate each side for exactly the partitions its rows are read
    // from (committed-file lists ride the blobs). These versions are
    // PINNED — if a concurrent commit's gc retires one mid-read, the
    // right response is a loud retention error, not a silent re-probe
    val (cur, prev) = try {
      (AtomicTable.hydrate(root, curR, app.keySet ++ rw),
        AtomicTable.hydrate(root, prevR, dropped ++ dvParts ++ rw))
    } catch {
      case e @ (_: java.nio.file.NoSuchFileException |
          _: java.io.FileNotFoundException) =>
        throw new IllegalStateException(
          s"change-feed versions [${prevR.version}, ${curR.version}] of " +
            s"$table aged out of retention mid-read (a concurrent " +
            "commit's gc deleted their metadata) — raise 'retain' or " +
            "restart the feed from a newer version", e)
    }

    val out = Seq.newBuilder[DataFrame]
    if (dropped.nonEmpty)
      out += tag(merged(prev, dropped), "delete")
    if (app.nonEmpty)
      out += tag(AtomicTable.readManifestEvolved(spark, table, schema,
        cur.copy(partitions = app), renames), "insert")
    if (dvParts.nonEmpty) {
      // new vector keys are small by the maintenance contract: recover
      // the full preimages with one broadcast semi-join against the
      // pre-commit contents of exactly the affected partitions
      val newKeys = vectorKeys(spark, table, dvGrownVecs.result(), schema)
      val dvKeyCols = (cur.properties(AtomicTable.DeleteKeysProperty)
        .split(",").toSeq ++ partitionCols).distinct
      out += tag(merged(prev, dvParts).join(broadcast(newKeys),
        dvKeyCols, "left_semi"), "delete")
    }
    if (rw.nonEmpty)
      out += rewriteDiff(merged(prev, rw), merged(cur, rw),
        keyCols, partitionCols, schema, v, tag)
    out.result().foldLeft(empty)(_.unionByName(_))
  }

  /** The key tuples of specific vector dirs, cast to the table's types.
    * The partition columns come back TYPE-INFERRED from the dir names
    * (a numeric-looking string partition reads as int), so every column
    * the table declares is cast to its declared type — otherwise the
    * preimage semi-join could coerce ("01" pairing with "1") or fail
    * under ANSI casts. Same guard as [[AtomicTable.subtractDeletes]]. */
  private def vectorKeys(spark: SparkSession, table: String,
      dirs: Seq[String], schema: StructType): DataFrame = {
    val byTxn = dirs.sorted.groupBy(AtomicTable.txnDirOf)
    val raw = byTxn.toSeq.sortBy(_._1).map { case (txnDir, ds) =>
      AtomicTable.txnScan(spark, table, txnDir, ds)
    }.reduce(_.unionByName(_))
    raw.select(raw.columns.map { c =>
      schema.fields.find(_.name == c) match {
        case Some(f)
            if raw.schema(c).dataType.catalogString != f.dataType.catalogString =>
          col(c).cast(f.dataType).as(c)
        case _ => col(c)
      }
    }: _*)
  }

  /** Diff the rewritten partitions' old and new contents. With keys: a
    * full outer join (keys + partition column, so the join cannot pair
    * rows across partitions) classifies delete / insert / update
    * pre+post; without: set semantics via exceptAll both ways. Both
    * shapes are bounded by the REWRITTEN partitions' rows — the change
    * volume — never the table.
    *
    * Shape note (r14): the keyed branch emits ALL FOUR change classes
    * from ONE pass over the join — each joined row classifies locally
    * into 0-2 change rows (`explode` of a per-row array). The previous
    * form filtered the same join once per class and unioned the four;
    * the optimizer pushed each class filter into its own join (LeftOuter
    * delete + RightOuter insert + Inner x2 updates), so the rewritten
    * partitions' old AND new contents were scanned and joined once PER
    * CLASS — 8 scans + 4 joins per version where one suffices (measured
    * final plans, plans/r14/graft_cdf_merge_before.txt). At 100 TB the
    * change volume of a big rewrite rides the cluster 4x over. */
  private def rewriteDiff(old: DataFrame, nw: DataFrame,
      keyCols0: Seq[String], partitionCols: Seq[String], schema: StructType,
      v: Long, tag: (DataFrame, String) => DataFrame): DataFrame = {
    if (keyCols0.isEmpty) {
      tag(old.exceptAll(nw), "delete")
        .unionByName(tag(nw.exceptAll(old), "insert"))
    } else {
      val keyCols = (keyCols0 ++ partitionCols).distinct
      val payload = schema.fieldNames.filterNot(keyCols.contains).toSeq
      val o = old.select(schema.fieldNames.map(c => col(c).as(s"_o_$c")): _*)
      val n = nw.select(schema.fieldNames.map(c => col(c).as(s"_n_$c")): _*)
      val on: Column = keyCols.map(k => col(s"_o_$k") <=> col(s"_n_$k"))
        .reduce(_ && _)
      val j = o.join(n, on, "full_outer")
      val hasOld = keyCols.map(k => col(s"_o_$k").isNotNull).reduce(_ || _)
      val hasNew = keyCols.map(k => col(s"_n_$k").isNotNull).reduce(_ || _)
      val changed =
        if (payload.isEmpty) lit(false)
        else payload.map(c => !(col(s"_o_$c") <=> col(s"_n_$c"))).reduce(_ || _)
      def changeRow(prefix: String, tpe: String): Column = struct(
        schema.fieldNames.map(c => col(s"_${prefix}_$c").as(c))
          :+ lit(tpe).as(ChangeTypeCol): _*)
      // hasOld && hasNew is NOT implied by falling through the first two
      // branches: an all-null-key row pairs via <=> with hasOld = hasNew
      // = false, and must emit nothing (the pre-r14 form's behavior)
      val rows = when(hasOld && !hasNew, array(changeRow("o", "delete")))
        .when(hasNew && !hasOld, array(changeRow("n", "insert")))
        .when(hasOld && hasNew && changed,
          array(changeRow("o", "update_preimage"),
            changeRow("n", "update_postimage")))
      // unchanged matches fall to the null ELSE: explode emits nothing
      j.select(explode(rows).as("_r"))
        .select(col("_r.*"))
        .withColumn(CommitVersionCol, lit(v))
    }
  }
}
