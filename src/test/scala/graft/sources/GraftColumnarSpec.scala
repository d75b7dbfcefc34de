package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSuite
import graft.etl.AtomicTable

/** The graft DSv2 COLUMNAR leaf (r13 verdict #1): SQL scans must decode
  * through Spark's vectorized parquet reader into [[ColumnarBatch]]es —
  * and the pin must be PLAN-LEVEL, because a silent fallback to the row
  * reader would keep every correctness test green while forfeiting the
  * whole columnar/codegen physical layer. The seams the rewrite
  * re-opens (the r13 delete-key bug lived at exactly this kind of
  * boundary) each get their own pin: mixed-generation renames, delete
  * vectors (row-based scan) of every key type, CDF constants, empty
  * projections. */
class GraftColumnarSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-columnar").toString
    spark.conf.set("spark.sql.catalog.gcol", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcol.root", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcol.db")
    w
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansOf(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scansOf(q.plan)
    case b: BatchScanExec => Seq(b)
    case o => o.children.flatMap(scansOf)
  }

  /** True iff every graft scan in the executed plan output columnar
    * batches. Forces execution first so AQE's final plan is inspected. */
  private def allColumnar(df: DataFrame): Boolean = {
    df.collect()
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.forall(_.supportsColumnar)
  }

  test("a plain graft SQL scan is COLUMNAR and the values are faithful") {
    warehouse
    spark.sql("CREATE TABLE gcol.db.t1 (k BIGINT, d DOUBLE, s STRING, " +
      "dec DECIMAL(12,3), ts TIMESTAMP, dt DATE, bin BINARY, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    (0L until 1000L).map(i => (i, i * 0.5, s"s$i",
      BigDecimal(i).setScale(3) / 7, new java.sql.Timestamp(1700000000000L + i),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + i % 50)),
      s"b$i".getBytes, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "d", "s", "dec", "ts", "dt", "bin", "p")
      .createOrReplaceTempView("col_src")
    spark.sql("INSERT INTO gcol.db.t1 SELECT * FROM col_src")

    val df = spark.sql(
      "SELECT k, d, s, dec, ts, dt, bin, p FROM gcol.db.t1 ORDER BY k")
    assert(allColumnar(df), "plain scans must decode columnar")
    val rows = df.collect()
    assert(rows.length === 1000)
    val r7 = rows(7)
    assert(r7.getLong(0) === 7L && r7.getDouble(1) === 3.5 &&
      r7.getString(2) === "s7" &&
      r7.getDecimal(3) === new java.math.BigDecimal("1.000") &&
      r7.getTimestamp(4).getTime === 1700000000007L &&
      r7.getDate(5).toLocalDate.toEpochDay === 19007L &&
      new String(r7.getAs[Array[Byte]](6)) === "b7" &&
      r7.getString(7) === "b", s"row mismatch: $r7")
    // the partition column rides as a constant vector, grouped exactly
    assert(spark.sql("SELECT p, count(*) c FROM gcol.db.t1 GROUP BY p " +
      "ORDER BY p").as[(String, Long)].collect().toSeq ===
      Seq(("a", 500L), ("b", 500L)))
    // empty projection (count(*)) decodes zero columns, counts rows
    val cnt = spark.sql("SELECT count(*) FROM gcol.db.t1")
    assert(cnt.as[Long].head() === 1000L)
  }

  test("outstanding delete vectors force the ROW reader for the whole scan, results exact") {
    warehouse
    spark.sql("CREATE TABLE gcol.db.t2 (k BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    (0L until 100L).map(i => (i, i * 1.0, "a"))
      .toDF("k", "v", "p").createOrReplaceTempView("col_dv")
    spark.sql("INSERT INTO gcol.db.t2 SELECT * FROM col_dv")
    val before = spark.sql("SELECT k FROM gcol.db.t2")
    assert(allColumnar(before), "vector-free scans stay columnar")
    // a merge-on-read keyed delete records vectors; until they fold,
    // the scan must plan ROW-BASED — columnar never subtracts keys
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    graft.etl.MergeInto.deleteKeysMor(spark,
      java.nio.file.Paths.get(warehouse, "db", "t2").toString, schema,
      Seq((7L, "a"), (13L, "a")).toDF("k", "p"), Seq("k"), "p", retain = 5)
    val opened0 = GraftVectorizedRowReader.opened.get()
    val after = spark.sql("SELECT k FROM gcol.db.t2")
    after.collect()
    val scan = scansOf(after.queryExecution.executedPlan).head
    assert(!scan.supportsColumnar,
      "outstanding vectors must force the row reader (per-row subtract)")
    assert(spark.sql("SELECT count(*) FROM gcol.db.t2").as[Long].head() === 98L)
    assert(spark.sql("SELECT k FROM gcol.db.t2 WHERE k IN (7, 13)")
      .collect().isEmpty, "vector-hidden keys must not resurface")
    // the ROW path still DECODES vectorized: the probe reads the
    // batch's key vectors per row
    assert(GraftVectorizedRowReader.opened.get() > opened0,
      "DV scans must take the vectorized row path")
  }

  test("delete keys of every type subtract exactly as readMerged does") {
    warehouse
    // (table suffix, declared key type, key of row `id`); row 40's key
    // is NULL. The ARRAY column rides every scan: the vectorized row
    // path must decode nested columns next to any key type.
    val cases = Seq(
      ("smallint", "SMALLINT", "CAST(id AS SMALLINT)"),
      ("tinyint", "TINYINT", "CAST(id AS TINYINT)"),
      ("decimal", "DECIMAL(12,3)", "CAST(id AS DECIMAL(12,3)) + 0.125"),
      ("string", "STRING", "CONCAT('s', id)"),
      ("date", "DATE", "DATE_ADD(DATE'2020-01-01', CAST(id AS INT))"),
      ("bigint", "BIGINT", "id"))
    cases.foreach { case (name, keyType, keyExpr) => withClue(s"$keyType: ") {
      val t = s"gcol.db.kt_$name"
      spark.sql(s"CREATE TABLE $t (k $keyType, arr ARRAY<INT>, v DOUBLE, " +
        "p STRING) PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
      spark.sql(s"INSERT INTO $t SELECT IF(id = 40, NULL, $keyExpr), " +
        "array(CAST(id AS INT), 1), id * 1.0, IF(id % 2 = 0, 'a', 'b') " +
        "FROM range(41)")
      val dir = java.nio.file.Paths.get(warehouse, "db", s"kt_$name").toString
      val schema = spark.table(t).schema
      // three keys plus the NULL key: an equi anti-join deletes no NULL
      graft.etl.MergeInto.deleteKeysMor(spark, dir, schema,
        spark.sql(s"SELECT k, p FROM $t WHERE v IN (3, 7, 18) OR k IS NULL"),
        Seq("k"), "p", retain = 5)
      val cols = Seq("k", "arr", "v", "p").map(org.apache.spark.sql.functions.col)
      def rows(df: DataFrame): Seq[String] =
        df.select(cols: _*).collect().map(_.toString).toSeq.sorted
      val opened0 = GraftVectorizedRowReader.opened.get()
      val got = rows(spark.sql(s"SELECT * FROM $t"))
      assert(GraftVectorizedRowReader.opened.get() > opened0,
        "a vector-carrying scan must open the vectorized row reader")
      assert(got === rows(graft.etl.MergeInto.readMerged(spark, dir, schema)))
      assert(got.length === 38, "three keyed rows subtract, the NULL row stays")
    }}
  }

  test("a delete key including the partition column subtracts") {
    warehouse
    spark.sql("CREATE TABLE gcol.db.kp (k BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    spark.sql("INSERT INTO gcol.db.kp SELECT id % 10, id * 1.0, " +
      "IF(id < 10, 'a', 'b') FROM range(20)")
    val dir = java.nio.file.Paths.get(warehouse, "db", "kp").toString
    // vector files hold only `k`: the partition value lives in the path,
    // so both the vector decode and the probe must read it as the
    // partition's constant
    val schema = spark.table("gcol.db.kp").schema
    graft.etl.MergeInto.deleteKeysMor(spark, dir, schema,
      Seq((3L, "a"), (7L, "b")).toDF("k", "p"), Seq("k", "p"), "p", retain = 5)
    assert(spark.sql("SELECT k, p FROM gcol.db.kp WHERE k IN (3, 7)")
      .as[(Long, String)].collect().sorted.toSeq === Seq((3L, "b"), (7L, "a")))
    assert(spark.sql("SELECT count(*) FROM gcol.db.kp").as[Long].head() === 18L)
    assert(graft.etl.MergeInto.readMerged(spark, dir, schema).count() === 18L)
  }

  test("a key frame typed wider than the key column still deletes") {
    warehouse
    spark.sql("CREATE TABLE gcol.db.kw (k INT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    spark.sql("INSERT INTO gcol.db.kw SELECT CAST(id AS INT), id * 1.0, 'a' " +
      "FROM range(10)")
    val dir = java.nio.file.Paths.get(warehouse, "db", "kw").toString
    val schema = spark.table("gcol.db.kw").schema
    graft.etl.MergeInto.deleteKeysMor(spark, dir, schema,
      Seq((3L, "a")).toDF("k", "p"), Seq("k"), "p", retain = 5)
    assert(spark.sql("SELECT count(*) FROM gcol.db.kw").as[Long].head() === 9L)
    assert(graft.etl.MergeInto.readMerged(spark, dir, schema).count() === 9L)
  }

  test("mixed-generation RENAME files decode columnar in ONE scan; added columns null-fill") {
    warehouse
    spark.sql("CREATE TABLE gcol.db.t3 (a BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    (0L until 50L).map(i => (i, i * 1.0, "x"))
      .toDF("a", "v", "p").createOrReplaceTempView("col_g1")
    spark.sql("INSERT INTO gcol.db.t3 SELECT * FROM col_g1")
    spark.sql("ALTER TABLE gcol.db.t3 RENAME COLUMN a TO b")
    spark.sql("ALTER TABLE gcol.db.t3 ADD COLUMN extra STRING")
    (100L until 150L).map(i => (i, i * 1.0, s"e$i", "x"))
      .toDF("b", "v", "extra", "p").createOrReplaceTempView("col_g2")
    spark.sql("INSERT INTO gcol.db.t3 SELECT b, v, p, extra FROM col_g2")

    val df = spark.sql("SELECT b, extra FROM gcol.db.t3 ORDER BY b")
    assert(allColumnar(df),
      "pre- and post-rename files must BOTH decode columnar in one scan")
    val rows = df.as[(Long, Option[String])].collect()
    assert(rows.length === 100)
    assert(rows.take(50).map(_._1).toSeq === (0L until 50L),
      "gen-1 values must resolve through the file-side alias")
    assert(rows.take(50).forall(_._2.isEmpty),
      "the added column must null-fill for files that predate it")
    assert(rows.drop(50).map(_._2) === (100L until 150L).map(i => Some(s"e$i")))
  }

  test("all three decimal storage widths decode columnar, through a rename, zone maps intact") {
    warehouse
    // precision 7 -> INT32, 15 -> INT64, 25 -> FIXED_LEN_BYTE_ARRAY:
    // three distinct physical decodes in the vectorized reader
    spark.sql("CREATE TABLE gcol.db.t5 (k BIGINT, d7 DECIMAL(7,2), " +
      "d15 DECIMAL(15,4), d25 DECIMAL(25,6), p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5', " +
      "'stats_columns'='d15')")
    def gen(r: Range, p: String) = r.map(i => (i.toLong,
      BigDecimal(i).setScale(2) + BigDecimal("0.25"),
      BigDecimal(i).setScale(4) * 1000,
      BigDecimal(i).setScale(6) * BigDecimal("1000000000000"),
      p)).toDF("k", "d7", "d15", "d25", "p")
    gen(0 until 50, "a").createOrReplaceTempView("dec_g1")
    spark.sql("INSERT INTO gcol.db.t5 SELECT * FROM dec_g1")
    // rename the INT64-width decimal, then append a second generation:
    // one scan must decode BOTH file generations columnar, resolving
    // the old footer name positionally
    spark.sql("ALTER TABLE gcol.db.t5 RENAME COLUMN d15 TO m15")
    gen(100 until 150, "a")
      .withColumnRenamed("d15", "m15").createOrReplaceTempView("dec_g2")
    spark.sql("INSERT INTO gcol.db.t5 SELECT k, d7, m15, d25, p FROM dec_g2")

    val df = spark.sql("SELECT k, d7, m15, d25 FROM gcol.db.t5 ORDER BY k")
    assert(allColumnar(df), "decimal widths must all vectorize")
    val rows = df.collect()
    assert(rows.length === 100)
    val r7 = rows(7)
    assert(r7.getDecimal(1) === new java.math.BigDecimal("7.25"))
    assert(r7.getDecimal(2) === new java.math.BigDecimal("7000.0000"))
    assert(r7.getDecimal(3) ===
      new java.math.BigDecimal("7000000000000.000000"))
    val r57 = rows(57) // gen 2, k=107
    assert(r57.getDecimal(2) === new java.math.BigDecimal("107000.0000"),
      "gen-2 renamed decimal must decode through the current name")
    // zone maps recorded under the OLD name still prune files through
    // the alias — and the pruned scan stays columnar
    val pruned = spark.sql(
      "SELECT k FROM gcol.db.t5 WHERE m15 = CAST(107000 AS DECIMAL(15,4))")
    assert(allColumnar(pruned))
    pruned.collect()
    val scan = scansOf(pruned.queryExecution.executedPlan)
      .head.scan.asInstanceOf[GraftScan]
    val files = scan.planInputPartitions()
      .flatMap(_.asInstanceOf[GraftInputPartition].dataFiles)
    assert(files.length === 1, s"alias zone map must prune to one file, got ${files.length}")

    // group-replace (UPDATE) over the columnar-eligible table: the
    // rewrite must be exact, and the table stays columnar after it
    spark.sql("UPDATE gcol.db.t5 SET d7 = d7 + 1 WHERE k = 7")
    val after = spark.sql("SELECT d7 FROM gcol.db.t5 WHERE k = 7")
    assert(allColumnar(after), "post-rewrite reads stay columnar")
    assert(after.collect().head.getDecimal(0) ===
      new java.math.BigDecimal("8.25"))
    assert(spark.sql("SELECT count(*) FROM gcol.db.t5").as[Long].head()
      === 100L, "group replace must not lose rows")
  }

  test("batch CDF scans decode columnar with per-commit constant vectors") {
    warehouse
    spark.sql("CREATE TABLE gcol.db.t4 (k BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='10')")
    (0L until 10L).map(i => (i, "a")).toDF("k", "p")
      .createOrReplaceTempView("col_c1")
    spark.sql("INSERT INTO gcol.db.t4 SELECT * FROM col_c1")
    (10L until 20L).map(i => (i, "a")).toDF("k", "p")
      .createOrReplaceTempView("col_c2")
    spark.sql("INSERT INTO gcol.db.t4 SELECT * FROM col_c2")
    val cdf = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(java.nio.file.Paths.get(warehouse, "db", "t4").toString)
      .select("k", "_change_type", "_commit_version")
    assert(allColumnar(cdf), "CDF scans must decode columnar")
    val byVersion = cdf.as[(Long, String, Long)].collect()
      .groupBy(_._3).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(byVersion.keySet === Set(1L, 2L))
    assert(byVersion(1L) === (0L until 10L))
    assert(byVersion(2L) === (10L until 20L))
    assert(cdf.select("_change_type").distinct().as[String].collect()
      .toSeq === Seq("insert"))
  }
}
