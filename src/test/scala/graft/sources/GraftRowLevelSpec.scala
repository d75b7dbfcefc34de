package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import graft.etl.AtomicTable

/** SQL row-level operations over graft tables: metadata-only DELETE,
  * group-based (partition copy-on-write) DELETE/UPDATE/MERGE, runtime
  * group filtering, and the cross-partition-move guard. */
class GraftRowLevelSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-rl").toString
    spark.conf.set("spark.sql.catalog.rl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rl.root", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rl.db")
    w
  }

  private def mk(name: String): String = {
    warehouse
    spark.sql(s"CREATE TABLE rl.db.$name (id BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO rl.db.$name VALUES " +
      "(1, 10, 'a'), (2, 20, 'a'), (3, 30, 'b'), (4, 40, 'b'), (5, 50, 'c')")
    Paths.get(warehouse, "db", name).toString
  }

  private def rows(name: String): Set[(Long, Long, String)] =
    spark.sql(s"SELECT id, v, p FROM rl.db.$name")
      .as[(Long, Long, String)].collect().toSet

  test("DELETE on the partition column alone is a metadata-only commit") {
    val dir = mk("d1")
    val before = AtomicTable.manifest(Paths.get(dir)).get
    spark.sql("DELETE FROM rl.db.d1 WHERE p = 'a'")
    assert(rows("d1") === Set((3L, 30L, "b"), (4L, 40L, "b"), (5L, 50L, "c")))
    val after = AtomicTable.manifest(Paths.get(dir)).get
    assert(after.version === before.version + 1)
    // metadata-only: surviving partitions still reference the SAME dirs
    assert(after.partitions === before.partitions - "a")
    assert(AtomicTable.history(Paths.get(dir)).head.operation === "delete")

    spark.sql("DELETE FROM rl.db.d1 WHERE p IN ('b', 'nope')")
    assert(rows("d1") === Set((5L, 50L, "c")))
  }

  test("row-level DELETE rewrites survivors and drops emptied partitions") {
    val dir = mk("d2")
    spark.sql("DELETE FROM rl.db.d2 WHERE v >= 30 AND v <= 40") // empties b
    assert(rows("d2") === Set((1L, 10L, "a"), (2L, 20L, "a"), (5L, 50L, "c")))
    val m = AtomicTable.manifest(Paths.get(dir)).get
    assert(!m.partitions.contains("b"), "fully-deleted partition dropped")
    assert(AtomicTable.history(Paths.get(dir)).head.operation === "delete")
  }

  test("runtime group filtering: a keyed DELETE rewrites only its partition") {
    val dir = mk("d3")
    val before = AtomicTable.manifest(Paths.get(dir)).get
    spark.sql("DELETE FROM rl.db.d3 WHERE p = 'a' AND id = 1")
    assert(rows("d3") === Set((2L, 20L, "a"), (3L, 30L, "b"),
      (4L, 40L, "b"), (5L, 50L, "c")))
    val after = AtomicTable.manifest(Paths.get(dir)).get
    assert(after.partitions("b") === before.partitions("b") &&
      after.partitions("c") === before.partitions("c"),
      "untouched partitions carried by reference, not rewritten")
    assert(after.partitions("a") !== before.partitions("a"))
  }

  test("UPDATE rewrites matching rows in place") {
    val dir = mk("u1")
    val before = AtomicTable.manifest(Paths.get(dir)).get
    spark.sql("UPDATE rl.db.u1 SET v = v + 1 WHERE p = 'b'")
    assert(rows("u1") === Set((1L, 10L, "a"), (2L, 20L, "a"),
      (3L, 31L, "b"), (4L, 41L, "b"), (5L, 50L, "c")))
    val after = AtomicTable.manifest(Paths.get(dir)).get
    assert(after.partitions("a") === before.partitions("a"),
      "group filter kept the rewrite to partition b")
    assert(AtomicTable.history(Paths.get(dir)).head.operation === "update")
  }

  test("UPDATE moving rows into an existing partition appends, never clobbers") {
    val dir = mk("u2")
    spark.sql("UPDATE rl.db.u2 SET p = 'c' WHERE id = 1")
    // the moved row landed in c AND c kept its pre-move rows: the move
    // target was not scanned, so the rewrite appended a dir to its list
    // in the same atomic commit that replaced the scanned partition a
    assert(rows("u2") === Set((1L, 10L, "c"), (2L, 20L, "a"),
      (3L, 30L, "b"), (4L, 40L, "b"), (5L, 50L, "c")))
    val m = AtomicTable.manifest(Paths.get(dir)).get
    assert(m.partitions("c").size === 2,
      "move target gained a dir; its original dir is untouched")
    assert(AtomicTable.history(Paths.get(dir)).head.operation === "update")
  }

  test("UPDATE may move rows into a brand-new partition value") {
    mk("u3")
    spark.sql("UPDATE rl.db.u3 SET p = 'z' WHERE id = 5") // c -> z, c had only id 5
    assert(rows("u3") === Set((1L, 10L, "a"), (2L, 20L, "a"),
      (3L, 30L, "b"), (4L, 40L, "b"), (5L, 50L, "z")))
  }

  test("MERGE INTO: matched update, not-matched insert, one atomic commit") {
    val dir = mk("m1")
    Seq((2L, 200L, "a"), (6L, 60L, "b"), (7L, 70L, "new"))
      .toDF("id", "v", "p").createOrReplaceTempView("m1_src")
    spark.sql("""MERGE INTO rl.db.m1 t USING m1_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)""")
    assert(rows("m1") === Set((1L, 10L, "a"), (2L, 200L, "a"),
      (3L, 30L, "b"), (4L, 40L, "b"), (5L, 50L, "c"),
      (6L, 60L, "b"), (7L, 70L, "new")))
    assert(AtomicTable.history(Paths.get(dir)).head.operation === "merge")
  }

  test("runtime group filtering: a keyed MERGE rewrites only its partition") {
    val dir = mk("m3")
    val before = AtomicTable.manifest(Paths.get(dir)).get
    Seq((1L, 100L, "a"), (2L, 200L, "a"))
      .toDF("id", "v", "p").createOrReplaceTempView("m3_src")
    spark.sql("""MERGE INTO rl.db.m3 t USING m3_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)""")
    assert(rows("m3") === Set((1L, 100L, "a"), (2L, 200L, "a"),
      (3L, 30L, "b"), (4L, 40L, "b"), (5L, 50L, "c")))
    val after = AtomicTable.manifest(Paths.get(dir)).get
    assert(after.partitions("b") === before.partitions("b") &&
      after.partitions("c") === before.partitions("c"),
      "group filter bounded the MERGE rewrite to partition a; " +
        "b and c carried by reference")
    assert(after.partitions("a") !== before.partitions("a"))
  }

  test("MERGE inserting into an unscanned partition appends, never clobbers") {
    val dir = mk("m4")
    val before = AtomicTable.manifest(Paths.get(dir)).get
    // source matches only ids in partition a; the insert row lands in the
    // EXISTING partition c, which the group-filtered scan never read
    Seq((1L, 111L, "a"), (9L, 90L, "c"))
      .toDF("id", "v", "p").createOrReplaceTempView("m4_src")
    spark.sql("""MERGE INTO rl.db.m4 t USING m4_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)""")
    assert(rows("m4") === Set((1L, 111L, "a"), (2L, 20L, "a"),
      (3L, 30L, "b"), (4L, 40L, "b"), (5L, 50L, "c"), (9L, 90L, "c")))
    val after = AtomicTable.manifest(Paths.get(dir)).get
    assert(after.partitions("b") === before.partitions("b"),
      "unmatched partition b untouched")
    assert(after.partitions("c").size === before.partitions("c").size + 1,
      "insert target c gained a dir; its original dir untouched")
    assert(before.partitions("c").forall(after.partitions("c").contains),
      "c's pre-merge dirs carried by reference")
  }

  test("MERGE with NOT MATCHED BY SOURCE sees every row (no group filter)") {
    mk("m5")
    Seq((1L, 100L, "a")).toDF("id", "v", "p").createOrReplaceTempView("m5_src")
    spark.sql("""MERGE INTO rl.db.m5 t USING m5_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED BY SOURCE AND t.v >= 40 THEN DELETE""")
    // every partition was in scope: id 1 updated, ids 4 and 5 deleted
    assert(rows("m5") === Set((1L, 100L, "a"), (2L, 20L, "a"), (3L, 30L, "b")))
  }

  test("MERGE INTO with WHEN MATCHED DELETE") {
    mk("m2")
    Seq(1L, 3L).toDF("id").createOrReplaceTempView("m2_src")
    spark.sql("""MERGE INTO rl.db.m2 t USING m2_src s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(rows("m2") === Set((2L, 20L, "a"), (4L, 40L, "b"), (5L, 50L, "c")))
  }

  test("a NULL-literal predicate never metadata-matches the text 'null'") {
    warehouse
    spark.sql("CREATE TABLE rl.db.nul (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO rl.db.nul VALUES (1, 'null'), (2, 'a')")
    spark.sql("DELETE FROM rl.db.nul WHERE p <=> NULL") // matches nothing
    assert(spark.sql("SELECT p FROM rl.db.nul ORDER BY p")
      .as[String].collect().toSeq === Seq("a", "null"),
      "the partition whose VALUE is the text 'null' must survive")
  }

  test("TRUNCATE TABLE drops every partition in one metadata commit") {
    val dir = mk("t1")
    spark.sql("TRUNCATE TABLE rl.db.t1")
    assert(spark.sql("SELECT count(*) FROM rl.db.t1").as[Long].head() === 0L)
    assert(AtomicTable.manifest(Paths.get(dir)).get.partitions.isEmpty)
    // still writable after truncate
    spark.sql("INSERT INTO rl.db.t1 VALUES (9, 90, 'x')")
    assert(rows("t1") === Set((9L, 90L, "x")))
  }

  test("a racing commit aborts the row-level rewrite instead of being clobbered") {
    val dir = mk("r1")
    // interleave: a Scala-API writer lands a new version between the SQL
    // delete's scan and its commit — simulate by committing right after
    // planning via a second DELETE built on a stale manifest. Direct
    // interleaving is hard to time from SQL, so drive the write half
    // directly: plan a rewrite at v1, land a racing commit, then commit.
    val state = new GraftGroupState
    state.readVersion = AtomicTable.manifest(Paths.get(dir)).get.version
    state.scanned = Set("a")
    AtomicTable.replacePartitions(spark, dir,
      Seq((99L, 990L, "a")).toDF("id", "v", "p"), "p", retain = 8)
    val w = new GraftGroupReplaceWrite(dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType))), "p", 8,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE,
      state)
    intercept[java.util.ConcurrentModificationException] {
      w.commit(Array.empty)
    }
    // the racing write survived
    assert(rows("r1").contains((99L, 990L, "a")))
  }

  test("delete vectors decode ONCE per scan, not once per file split") {
    warehouse
    // one partition, three data files (= three splits: one split per
    // file), one outstanding vector: without the process-wide key-set
    // cache every split re-reads the vector files — 3 loads here, 100
    // object-store GET rounds per 100-file partition at scale
    spark.sql("CREATE TABLE rl.db.dvc (id BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('retain'='5')")
    (1 to 3).foreach(i => spark.sql(
      s"INSERT INTO rl.db.dvc VALUES (${i * 10}, ${i * 100}, 'a')"))
    val dir = Paths.get(warehouse, "db", "dvc").toString
    val schema = spark.table("rl.db.dvc").schema
    graft.etl.MergeInto.deleteKeysMor(spark, dir, schema,
      Seq((20L, "a")).toDF("id", "p"), Seq("id"), "p", retain = 5)
    GraftVectorizedRowReader.clearDvCache()
    assert(spark.sql("SELECT id FROM rl.db.dvc ORDER BY id")
      .as[Long].collect().toSeq === Seq(10L, 30L))
    assert(GraftVectorizedRowReader.loads.get() === 1L,
      "three splits must share ONE vector decode")
    // a second scan hits the cache outright (vector dirs are immutable)
    assert(spark.sql("SELECT count(*) FROM rl.db.dvc")
      .as[Long].head() === 2L)
    assert(GraftVectorizedRowReader.loads.get() === 1L)
    // a NEW vector commit changes the file list = a new cache key
    graft.etl.MergeInto.deleteKeysMor(spark, dir, schema,
      Seq((30L, "a")).toDF("id", "p"), Seq("id"), "p", retain = 5)
    assert(spark.sql("SELECT id FROM rl.db.dvc").as[Long].collect().toSeq ===
      Seq(10L))
    assert(GraftVectorizedRowReader.loads.get() === 2L)
  }
}
