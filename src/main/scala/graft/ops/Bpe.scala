package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE tokenizer training (Sennrich et al. 2016,
  * arXiv:1508.07909): learn the top-`merges` byte-pair merges from a
  * corpus. The classic formulation trains on the WORD-FREQUENCY table,
  * not the raw corpus — one corpus-sized shuffle builds (word, count),
  * and every Lloyd-style iteration after that runs on the vocabulary
  * (sketch-class relative to the corpus: a 100 TB crawl has a few
  * hundred million distinct words, each iteration is one small
  * partial-aggregated shuffle + one narrow re-merge pass).
  *
  * Per iteration: adjacent symbol pairs weighted by word count are
  * aggregated (map-side partials absorb the fan-in), the argmax pair —
  * one row — comes to the driver (the same legitimate O(1) collect as a
  * k-means centroid round), and every word's symbol array folds the
  * winning pair left-to-right (the greedy merge order the reference BPE
  * defines; `[a a a]` merging (a,a) gives `[aa a]`, not `[a aa]`). Each
  * round localCheckpoints the symbol table — the iterative-algorithm
  * lineage idiom of [[Similarity.kmeansCentroids]] and
  * [[Dedup.connectedComponents]].
  *
  * Ties break lexicographically on (lhs, rhs) so the learned table is
  * deterministic on any engine. */
object Bpe {

  /** Train `merges` merges; returns (merge_ix, lhs, rhs, pair_count)
    * in learning order. Stops early if no adjacent pair remains. */
  def train(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    val words = docs
      .select(explode(graft.functions.TextExprs.alphaTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var syms = words.select(col("cnt"),
      transform(sequence(lit(1), length(col("w"))), i =>
        substring(col("w"), i, lit(1))).as("syms"))
      .localCheckpoint(true)

    val learned = Seq.newBuilder[(Long, String, String, Long)]
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var ix = 0
    var exhausted = false
    while (ix < merges && !exhausted) {
      val pairs = syms.where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(
          transform(sequence(lit(0), size(col("syms")) - 2), i =>
            struct(element_at(col("syms"), i + 1).as("lhs"),
              element_at(col("syms"), i + 2).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("pair_count"))
      val top = pairs
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        val c = top(0).getLong(2)
        learned += ((ix + 1L, a, b, c))
        val next = syms.select(col("cnt"),
          mergePair(col("syms"), a, b).as("syms")).localCheckpoint(true)
        prevRdd.foreach(_.unpersist(false))
        prevRdd = org.apache.spark.sql.graftshim.Shims.checkpointedRdd(syms)
        syms = next
        ix += 1
      }
    }
    toMergeTable(spark, learned.result())
  }

  /** Greedy left-to-right merge of adjacent (a, b) in a symbol array —
    * the reference BPE merge step, shared by [[train]] and [[encode]]. */
  private[ops] def mergePair(syms: org.apache.spark.sql.Column, a: String,
      b: String): org.apache.spark.sql.Column =
    aggregate(syms,
      typedlit(Seq.empty[String]),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Apply a FROZEN merge list — the tokenizer-inference half of BPE: a
    * production pipeline learns merges once ([[train]]) and then encodes
    * every corpus with that fixed table, so the merges arrive here as
    * constants (tokenizer-as-config), which is also what makes the
    * operator exactly SQL-oracle-able. Merges apply in list (priority)
    * order per word, greedy left-to-right within each — the reference
    * semantics. Narrow per-row array math: no shuffle, linear scale.
    *
    * Emits per document: word count, subword count after merging, and a
    * sha-256 of the full subword stream in order (proving the encoding
    * byte-exact, the reassembly recipe of Curation). */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = graft.functions.TextExprs.alphaTokens(col("text"))
    // codegen'd one-pass encode (graft.functions.BpeExpr): the composed
    // form — transform(words, w => merges.foldLeft(chars(w))(mergePair)) —
    // measured 14.0 s at sf0.1 (interpreted HOF fold per merge per word);
    // the expression runs the same greedy loops JIT-compiled, 0.9 s.
    // BpeSpec proves the two forms emit identical subword streams.
    val flat = graft.functions.BpeExpr.subwords(words, merges)
    docs.select(
      col("doc_id"),
      size(words).cast("bigint").as("n_words"),
      size(flat).cast("bigint").as("n_subwords"),
      sha2(array_join(flat, " "), 256).as("subword_sha"))
  }

  /** The composed-built-ins encode (chars transform + one [[mergePair]]
    * fold per merge) — kept as the semantic reference the codegen'd
    * expression is tested against (BpeSpec side-by-side). */
  private[ops] def encodeViaFolds(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val words = graft.functions.TextExprs.alphaTokens(col("text"))
    val subwords = transform(words, { w =>
      val chars = transform(sequence(lit(1), length(w)), i =>
        substring(w, i, lit(1)))
      merges.foldLeft(chars) { case (s, (a, b)) => mergePair(s, a, b) }
    })
    docs.select(
      col("doc_id"),
      size(words).cast("bigint").as("n_words"),
      size(flatten(subwords)).cast("bigint").as("n_subwords"),
      sha2(array_join(flatten(subwords), " "), 256).as("subword_sha"))
  }

  private def toMergeTable(spark: SparkSession,
      rows: Seq[(Long, String, String, Long)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("merge_ix", LongType, nullable = false),
      StructField("lhs", StringType, nullable = false),
      StructField("rhs", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3, r._4)), 1), schema)
  }
}
