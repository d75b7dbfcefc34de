package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The driver runs this under a wall budget and kills on overrun, so two
  * defenses keep a kill from zeroing the round (round-3 verdict #5: a
  * hash-map iteration order lost 13 arbitrary rows including §2 parity
  * operators):
  *  1. oracle_sql.json is written BEFORE any query executes;
  *  2. queries run in a deterministic cheapest-first order — §2
  *     reference-parity first, general batch next, known-expensive batch
  *     after, streaming (tens of seconds of fixed machinery each) last —
  *     so an overrun only ever sacrifices the most expensive extension
  *     queries. */
object Verify {

  /** Known-expensive batch queries, deferred until after everything cheap
    * (re-measured r6 after the TextSignals/IVF-broadcast work: the text
    * family fell off the list; dedup/sim/mm and the big sorts remain).
    * Keep in sync when adding hogs. */
  private val expensive = Set(
    "text_bpe_tokens", "text_chunks", "skewjoin_salted", "sql_lateral",
    "sim_neardup_cosine", "dedup_ngram_jaccard", "t9_union_sort",
    "w2_window_running", "zorder_value", "scd2_history",
    "dedup_cluster_planted", "dedup_minhash_pairs", "dedup_index_planted",
    "dedup_exact_hash", "dedup_minhash_planted", "bloom_prune_join",
    "sim_ivf_kmeans_recall", "sim_ivf_topk", "sim_index_recall",
    "mm_av_features", "text_lm_score",
    "sim_semdedup_planted", "text_bm25", "text_substring_dedup",
    "export_tokenbin_roundtrip")

  /** Deterministic execution order: registration order within each rank. */
  def orderedNames: Seq[String] = {
    val refNames = queries.RefQueries.defs.map(_._1).toSet
    def rank(n: String): Int =
      if (n.contains("_stream")) 3
      else if (expensive(n)) 2
      else if (refNames(n)) 0
      else 1
    Registry.all.map(_._1).sortBy(rank) // stable sort keeps registration order
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Untimed warmup (same rationale as Bench): JVM classloading +
    // first-codegen cost otherwise lands on whichever query runs first
    // and distorts the per-query log this file's budget decisions read.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs a subset.
    // The driver never sets it, so the contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val fns = SparkEntry.queries
    orderedNames.filter(n => only.forall(_.contains(n))).foreach { name =>
      val t0 = System.nanoTime()
      try fns(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // per-query caches must not accumulate
      System.err.println(
        f"[verify] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    }
    spark.stop()
  }
}
