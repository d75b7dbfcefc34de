package graft.tools

import org.apache.spark.sql.functions._

/** Scale-up generator for the 10× empirical-scaling spot check: writes
  * `documents` and `embeddings` at `factor`× the source scale by
  * concatenating `factor` deterministically PERTURBED copies of the
  * source tables (ids offset per copy; every third token of a document
  * rewritten from a hash; embeddings nudged per copy). Perturbation —
  * not plain replication — keeps the corpus representative: verbatim
  * copies would hand every document `factor-1` exact duplicates and
  * turn the dedup/LSH benchmarks into a pathological all-dup corpus.
  * Length, vocabulary, source, lang, and label distributions are
  * preserved exactly. Output is for BENCH SCALING ONLY (ratios of the
  * same query at two scales), not for the DuckDB oracle gate.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <outDir> [factor]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val nDocs = docs.count()
    val copies = spark.range(0, factor).select(col("id").as("copy"))
    // every 3rd token rewritten by a (copy, doc, position)-keyed hash:
    // cross-copy Jaccard collapses (nearly all 3-shingles broken), so the
    // scaled corpus has the same near-dup density as the source
    val toks = split(col("text"), " ")
    val mixed = array_join(zip_with(toks, sequence(lit(0), size(toks) - 1),
      (t, i) => when(i % 3 === 0 && col("copy") > 0,
          concat(lit("w"), pmod(xxhash64(col("copy"), col("doc_id"), i), lit(97))))
        .otherwise(t)), " ")
    docs.crossJoin(copies)
      .select((col("doc_id") + col("copy") * nDocs).as("doc_id"),
        mixed.as("text"), col("lang"), col("source"),
        length(mixed).as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nVecs = emb.count()
    // the sim_* planted-twin protocol writes twins at vec_id +
    // Planted.Offset (SimQueries.withPlantedNearDups); scaled ids must
    // stay below that offset or twins would collide with real vectors
    // and corrupt every recall measurement. The documents side has the
    // same bound (dedup_*_planted twins at doc_id + Planted.Offset) —
    // docs outnumber vectors 2.5:1 at sf0.1, so it binds first, at
    // 2,000× the sf0.1 corpus.
    require(nDocs * factor <= graft.queries.Planted.Offset,
      s"scaled doc_id space (${nDocs * factor}) would collide with the " +
        s"planted-near-dup offset (${graft.queries.Planted.Offset}) — " +
        "raise graft.queries.Planted.Offset before scaling this far")
    require(nVecs * factor <= graft.queries.Planted.Offset,
      s"scaled vec_id space (${nVecs * factor}) would collide with the " +
        s"planted-near-dup offset (${graft.queries.Planted.Offset}) — " +
        "raise graft.queries.Planted.Offset before scaling this far")
    // per-(copy, vec, dim) deterministic nudge of ~±5%: cluster structure
    // (label geometry) survives, verbatim duplicates do not. Copy 0 stays
    // byte-identical to the source (same guard as the documents path), so
    // the scaled corpus CONTAINS the original table verbatim.
    val nudged = transform(col("embedding"), (x, i) =>
      when(col("copy") === 0, x)
        .otherwise((x.cast("double") * (lit(1.0) +
          pmod(xxhash64(col("copy"), col("vec_id"), i), lit(100)).cast("double")
            / 1000.0 - 0.05)).cast("float")))
    emb.crossJoin(copies)
      .select((col("vec_id") + col("copy") * nVecs).as("vec_id"),
        nudged.as("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // orders / events: the warehouse-lifecycle family's fact tables.
    // Copies offset the KEYS (orderkey / user_id / event_id) but keep
    // every date column — so a month-partitioned table keeps its
    // partition COUNT and grows each partition's rows by `factor`,
    // which is exactly the shape a scaling check of partition-bounded
    // MERGE/DELETE/CDC must preserve (more partitions would instead
    // scale the metadata axis). Prices perturbed per copy so
    // threshold predicates (wh_update_where) keep their selectivity
    // without every copy crossing identically.
    val orders = spark.read.parquet(s"$srcDir/orders.parquet")
    val maxOk = orders.agg(max("o_orderkey")).head.getLong(0) + 1
    // the warehouse family's insert protocol offsets keys by
    // +100,000,000 (wh_merge_delete), which binds orders/events at
    // ~160× — far below the documents/embeddings ceiling. Past it,
    // write a DOCS-ONLY scale point (the heavy-family protocol) rather
    // than refusing the whole run.
    if (maxOk * factor >= 100000000L) {
      println(s"skipping orders/events at $factor×: scaled o_orderkey " +
        "space would collide with wh_merge_delete's +100,000,000 insert " +
        "offset (docs/embeddings written; warehouse decades stop at ~160×)")
      println(s"wrote $outDir: documents=${nDocs * factor} " +
        s"embeddings=${nVecs * factor} (docs-only scale point)")
      spark.stop()
      return
    }
    orders.crossJoin(copies)
      .select((col("o_orderkey") + col("copy") * maxOk).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * (lit(1.0) +
          pmod(xxhash64(col("copy"), col("o_orderkey")), lit(100)).cast("double")
            / 1000.0 - 0.05), 2).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    val events = spark.read.parquet(s"$srcDir/events.parquet")
    val maxUid = events.agg(max("user_id")).head.getLong(0) + 1
    val maxEid = events.agg(max("event_id")).head.getLong(0) + 1
    events.crossJoin(copies)
      .select((col("user_id") + col("copy") * maxUid).as("user_id"),
        (col("event_id") + col("copy") * maxEid).as("event_id"),
        col("event_type"), col("value"), col("ts"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // customer: the DIM side of the bucket-join family. Dims grow
    // slower than facts, and the scaled orders keep their o_custkey
    // space (copies offset only the order keys) — so the realistic
    // decade shape is fact x factor against the dim VERBATIM, and the
    // bucket join's per-key fan-in grows by `factor` exactly.
    spark.read.parquet(s"$srcDir/customer.parquet")
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    println(s"wrote $outDir: documents=${nDocs * factor} embeddings=${nVecs * factor} " +
      s"orders/events x$factor, customer verbatim")
    spark.stop()
  }
}
