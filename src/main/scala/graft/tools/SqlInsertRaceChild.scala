package graft.tools

/** Forked-JVM writer for the cross-process SQL INSERT race
  * (sources/CrossProcessSqlSpec): its own SparkSession, its own graft
  * catalog registration over the SHARED warehouse dir, N INSERTs into
  * the shared table — every commit must land through the link(2)
  * version claim exactly as a second ingest driver's would. */
object SqlInsertRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, cat, tag, nStr) = args
    val spark = graft.Session.builder(2)
      .config(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      .config(s"spark.sql.catalog.$cat.root", warehouse)
      .getOrCreate()
    try {
      for (k <- 1 to nStr.toInt) {
        // two rows per statement: one in the writer's own partition and
        // one in the SHARED 'hot' partition — concurrent appends into
        // one partition must all survive (list-level manifest merge)
        spark.sql(s"INSERT INTO $cat.db.race VALUES ($k, '${tag}_$k'), " +
          s"(${1000 + k}, 'hot')")
        ()
      }
    } finally spark.stop()
  }
}
