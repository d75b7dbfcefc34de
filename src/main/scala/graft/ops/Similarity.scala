package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * stream the corpus once, per-partition top-k via window rank. The corpus
  * side never shuffles its vectors; only (query, neighbor, score) tuples
  * move. Scale path: IVF-style bucketing — assign each vector to a
  * centroid, search only the probed buckets; the assignment is one narrow
  * map and the probe join is centroid-partitioned.
  *
  * Vector math runs through [[graft.functions.VectorExprs]] — a native
  * codegen'd sequential-fold dot product in double precision, bit-identical
  * to the `aggregate(zip_with(...))` HOF form it replaced (round-2 verdict:
  * the interpreted HOF chain cost ~300 µs/pair and dominated every ANN
  * query) — so results are deterministic, reproducible across
  * partitionings, and cross-engine comparable.
  *
  * Every pair-scoring path precomputes per-side norms ONCE per row (never
  * per pair): cosine(a, b) = dot(a, b) / (norm_a * norm_b), evaluating each
  * embedding exactly once per candidate pair. Computed (non-scan) corpus
  * columns are materialized with `localCheckpoint` before any pair join so
  * the computing projection cannot be duplicated into each pair evaluation
  * by `CollapseProject`.
  */
object Similarity {

  /** Sequential-fold dot product in double precision (native codegen). */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** cosine from a precomputed-norm pair — same double ops in the same
    * order as [[cosine]], each embedding referenced once. */
  private def cosinePre(a: Column, na: Column, b: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded), rank ties broken by neighbor id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_norm"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_emb"), col("q_norm"), col("c_emb"), col("c_norm")), 6)
          .as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
      .orderBy("query_id", "rank")
  }

  /** Embedding-space benchmark decontamination: flag every training
    * vector whose cosine similarity to ANY held-out eval vector reaches
    * `threshold` — the semantic sibling of the 8-gram text
    * decontamination (TextStats.contamination), catching paraphrased or
    * re-embedded benchmark leakage that exact n-grams miss.
    *
    * Scale shape mirrors [[bruteForceTopK]]: the eval set is
    * benchmark-sized (thousands of rows against a 100 TB train corpus),
    * so it BROADCASTS with precomputed norms; the train side streams once
    * — per-row max over the broadcast side with map-side partial
    * aggregation, so only (vec_id, max_sim) pairs ever shuffle, never an
    * embedding. A pair is excluded as SELF only when BOTH id and vector
    * match (the eval row literally present in train — the usual
    * train ⊇ eval layout): excluding by id alone would hide a real
    * contaminant that happens to share an id with an eval row while
    * carrying different content. The join is LEFT from train so every
    * train vector appears in the output even when eval is empty or its
    * only eval row is its self-pair — those rows report max_sim NULL /
    * contaminated=false rather than vanishing. */
  def semanticDecontam(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    val e = eval.select(col("vec_id").as("eval_id"),
      col("embedding").as("e_emb"), norm(col("embedding")).as("e_norm"))
    val c = train.select(col("vec_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
    c.join(broadcast(e),
        col("vec_id") =!= col("eval_id") || col("c_emb") =!= col("e_emb"),
        "left_outer")
      .select(col("vec_id"),
        round(cosinePre(col("c_emb"), col("c_norm"), col("e_emb"), col("e_norm")), 6)
          .as("s"))
      .groupBy("vec_id").agg(max(col("s")).as("max_sim"))
      .withColumn("contaminated",
        coalesce(col("max_sim") >= threshold, lit(false)))
  }

  /** Trainless IVF: centroids are the per-label mean vectors (deterministic
    * — no sampled k-means), each vector is assigned to its nearest
    * centroid, and a query searches only `nprobe` nearest buckets. */
  def centroids(corpus: DataFrame): DataFrame = {
    val dim = 64
    val summed = corpus
      .groupBy(col("label"))
      .agg(
        array((0 until dim).map(i =>
          sum(element_at(col("embedding"), i + 1).cast("double"))): _*).as("sums"),
        count(lit(1)).as("n"))
    summed.select(col("label").as("centroid_id"),
      transform(col("sums"), s => s / col("n")).as("centroid"))
  }

  /** Lloyd-refined centroids: start from the deterministic per-label
    * means and run `iters` k-means steps — assign every vector to its
    * nearest centroid (broadcast map, no shuffle of embeddings), then
    * recompute the element-wise means (one partial-aggregated shuffle of
    * 64 doubles per vector). No random init, so results are reproducible
    * across runs and cluster sizes; at scale each iteration is a single
    * map+reduce over the corpus, the canonical distributed Lloyd's.
    *
    * MEASURED, DO NOT RE-TRY (r15): replacing the crossJoin+Window argmax
    * here (and in ivfSearch/semDedup) with a map-side argmax over
    * driver-collected centroid literals (greatest over (score,-id,id)
    * structs — zero assignment exchange) was interleaved-A/B'd slower at
    * EVERY scale in the bench harness: sim_ivf_recall 0.87-0.94 ->
    * 2.13-2.35 s at sf0.1, 2.2-2.6 -> 3.4-4.0 at 10x, 2.5-3.0 -> 4.1-4.2
    * at 100x; sim_ivf_kmeans_recall slower at all three. The per-vector
    * window exchange is NARROW relative to the literal plan's fixed
    * per-execution cost even at 200k vectors, and max_by/min_by
    * alternatives plan as SortAggregate (struct-typed buffer — the same
    * trap the r14 rplsh fix removed). plans/r15/sim_*_rejected_r15.txt
    * hold the tried plans; OPTIMIZATION_r15.md has the full table. */
  def kmeansCentroids(corpus: DataFrame, iters: Int): DataFrame = {
    val dim = 64
    val corpusN = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("v_norm"))
    var cents = centroids(corpus)
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    for (_ <- 0 until iters) {
      // localCheckpoint each round (not a lazy persist): a persisted frame
      // still carries its logical plan, so iteration N would re-analyze
      // every previous round's plan — the same superlinear planning blowup
      // fixed in Dedup.connectedComponents. The checkpoint truncates the
      // round's input to a constant-size LogicalRDD; the previous round's
      // snapshot blocks are released explicitly (checkpointed datasets are
      // not in the CacheManager, so Dataset.unpersist would be a no-op —
      // the underlying RDD handle is the release point).
      val snap = cents.localCheckpoint(true)
      prevRdd.foreach(_.unpersist(false))
      prevRdd = org.apache.spark.sql.graftshim.Shims.checkpointedRdd(snap)
      cents = snap
      val centsN = cents.withColumn("cent_norm", norm(col("centroid")))
      val scored = corpusN.crossJoin(broadcast(centsN))
        .select(col("vec_id"), col("embedding"), col("centroid_id"),
          cosinePre(col("embedding"), col("v_norm"), col("centroid"), col("cent_norm"))
            .as("c_score"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("c_score").desc, col("centroid_id"))
      val best = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      cents = best.groupBy(col("centroid_id"))
        .agg(
          array((0 until dim).map(i =>
            sum(element_at(col("embedding"), i + 1).cast("double"))): _*).as("sums"),
          count(lit(1)).as("n"))
        .select(col("centroid_id"),
          transform(col("sums"), s => s / col("n")).as("centroid"))
    }
    cents
  }

  /** ANN search via IVF buckets: assign corpus vectors to nearest
    * centroid once, probe the query's `nprobe` closest centroids, then
    * exact cosine inside the probed buckets only. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
    ivfSearch(queries, corpus, centroids(corpus), k, nprobe)

  /** IVF over Lloyd-refined centroids — tighter buckets than the
    * trainless label-mean index, same search shape. */
  def ivfKMeansTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int = 2, iters: Int = 2): DataFrame =
    ivfSearch(queries, corpus, kmeansCentroids(corpus, iters), k, nprobe)

  private def ivfSearch(queries: DataFrame, corpus: DataFrame,
      rawCents: DataFrame, k: Int, nprobe: Int): DataFrame = {
    // centroids feed two broadcast cross-joins; localCheckpoint (eager) so
    // the 64-column aggregation runs once and the computed centroid arrays
    // are concrete rows — at scale this is the "trained index" you would
    // materialize anyway
    val cents = rawCents.localCheckpoint(true)
      .withColumn("cent_norm", norm(col("centroid")))
    val corpusN = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("v_norm"))
    val assign = corpusN.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("v_norm"), col("centroid_id"),
        cosinePre(col("embedding"), col("v_norm"), col("centroid"), col("cent_norm"))
          .as("c_score"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c_score").desc, col("centroid_id"))
    val assigned = assign.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("v_norm"), col("centroid_id"))

    val qprobe = queries.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("q_norm"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("q_norm"),
        col("centroid_id"),
        cosinePre(col("embedding"), col("q_norm"), col("centroid"), col("cent_norm"))
          .as("c_score"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("c_score").desc, col("centroid_id"))
    val probed = qprobe.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("centroid_id"))

    // BROADCAST the probe side: it is #queries × nprobe rows (a query
    // batch, not a corpus), while `assigned` is the full corpus — a
    // shuffle join here would re-shuffle every corpus embedding by
    // centroid_id for nothing. Same discipline as bruteForceTopK/rpLshTopK.
    val cands = assigned.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosinePre(col("q_emb"), col("q_norm"), col("embedding"), col("v_norm")), 6)
          .as("score"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(wr).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
      .orderBy("query_id", "rank")
  }

  /** Random-hyperplane LSH parameters: 16 fixed seeded hyperplanes over
    * the 64-dim embedding space, banded 2×8 bits. Deterministic across
    * runs and cluster sizes. */
  val RpDim = 64
  val RpPlanes: Array[Array[Double]] = {
    val rng = new scala.util.Random(7)
    Array.fill(16)(Array.fill(RpDim)(rng.nextGaussian()))
  }
  val RpBitsPerBand = 8

  /** ANN via random-hyperplane LSH: band-bucket join for candidates
    * (high-cosine pairs agree on sign bits, so they collide in ≥1 band
    * w.h.p.), exact cosine re-rank inside the candidate set only. The
    * pair space is bucket-local — the shape that scales to a corpus that
    * cannot be cross-joined. */
  def rpLshTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def banded(df: DataFrame, idAs: String, embAs: String, normAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
          norm(col("embedding")).as(normAs),
          posexplode(graft.functions.HashExprs.rpLshBuckets(
            col("embedding"), RpPlanes, RpBitsPerBand)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val c = banded(corpus, "neighbor_id", "c_emb", "c_norm")
    val q = banded(queries, "query_id", "q_emb", "q_norm")
    // Score BEFORE the cross-band pair dedup: every duplicate of a
    // (query, neighbor) pair carries the same embeddings, so the cosine is
    // identical whichever copy survives — so the cosine is computed
    // map-side and the dedup still keys on (query_id, neighbor_id) with
    // the scalar score merely riding along identically on every copy: the
    // dedup exchange carries three
    // scalars instead of two 64-dim arrays (+norms), and the aggregate is
    // a codegen'd HashAggregate instead of the SortAggregate that array
    // first()-buffers force. Cost: the cosine runs per band collision
    // (≤ nBands per pair) instead of per unique pair — cheap map-side
    // arithmetic traded for ~128x fewer shuffle bytes per candidate
    // (guide §2.3: shuffle keys and metadata, not payloads).
    val scored = c.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_emb"), col("q_norm"), col("c_emb"), col("c_norm")), 6)
          .as("score"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
      .orderBy("query_id", "rank")
  }

  /** Recall@k of an ANN result against the exact top-k: per query,
    * |ANN ∩ exact| / |exact|, emitted as a boolean against `minRecall`.
    * Used by the driver-facing recall queries so the oracle asserts
    * retrieval QUALITY (every query must clear the bar), not just row
    * counts. Both inputs are (query_id, neighbor_id, ...) top-k frames. */
  def recallAtK(ann: DataFrame, exact: DataFrame, minRecall: Double): DataFrame = {
    val hits = exact.select("query_id", "neighbor_id")
      .join(ann.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left_outer")
      .withColumn("recall",
        coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
      .select(col("query_id"), round(col("recall"), 6).as("recall"),
        (col("recall") >= minRecall).as("recall_ok"))
  }

  /** Embedding-cosine near-duplicate PAIR MINING at corpus scale: RP-LSH
    * band-bucket join for candidates, exact cosine verify at `threshold`.
    * Unlike [[cosineNearDupTop]] (sample-bound all-pairs, kept as the
    * oracle-checkable demo), this is the 100 TB shape: the pair space is
    * bucket-local, the band shuffle carries (band, bucket, id) only, and
    * embeddings are re-fetched by id for the surviving candidates — the
    * same candidate-table diet as Dedup.minhashPairs. */
  def cosineNearDupLsh(corpus: DataFrame, threshold: Double): DataFrame = {
    val banded = corpus.select(col("vec_id"),
        posexplode(graft.functions.HashExprs.rpLshBuckets(
          col("embedding"), RpPlanes, RpBitsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .persist() // candidate table: one materialization for both join sides
    val left = banded.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
    val right = banded.select(col("band"), col("bucket"), col("vec_id").as("id_b"))
    val cands = left.join(right, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val ea = corpus.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      norm(col("embedding")).as("norm_a"))
    val eb = corpus.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("norm_b"))
    cands.join(ea, "id_a").join(eb, "id_b")
      .withColumn("score",
        round(cosinePre(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b")), 6))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by embedding clusters — k-means partitions the corpus,
    * near-duplicate pairs are mined WITHIN clusters only, and each
    * duplicate group keeps its minimum id. The cluster step is what makes
    * this the 100 TB shape: the pair space is Σ|cluster|² instead of
    * |corpus|², and the per-cluster self-join shuffles (cluster, id, vec)
    * once on the cluster key. Each vector is assigned to its `nprobe`
    * nearest centroids (multi-probe, the [[ivfTopK]] recipe): a
    * boundary-straddling near-dup pair split by a single-assignment
    * argmax is still co-bucketed in some probed cluster, the same
    * robustness margin the planted-recall queries rely on. Duplicate
    * pairs close transitively through the same connected-components pass
    * the MinHash clusters use, so a chain of pairwise-similar vectors
    * collapses to one keeper.
    *
    * Returns every corpus row: (vec_id, keep_id, is_dup) — keep_id is the
    * component minimum, is_dup marks rows a dedup pass would drop. */
  def semDedup(corpus: DataFrame, threshold: Double, iters: Int = 1,
      nprobe: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, iters)
      .withColumn("cent_norm", norm(col("centroid")))
    val corpusN = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("v_norm"))
    val scored = corpusN.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("v_norm"), col("centroid_id"),
        cosinePre(col("embedding"), col("v_norm"), col("centroid"), col("cent_norm"))
          .as("c_score"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_score").desc, col("centroid_id"))
    // one materialization for both self-join sides (aliased projections
    // defeat exchange reuse, the cosineNearDupLsh lesson)
    val assigned = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("v_norm"))
      .localCheckpoint(true)
    val a = assigned.select(col("centroid_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("v_norm").as("norm_a"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("v_norm").as("norm_b"))
    val edges = a.join(b, "centroid_id")
      .filter(col("id_a") < col("id_b"))
      .filter(cosinePre(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b"))
        >= threshold)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // multi-probe co-buckets pairs twice
    val cc = Dedup.connectedComponents(edges)
    corpus.select(col("vec_id"))
      .join(cc.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("keep_id"),
        (coalesce(col("label"), col("vec_id")) =!= col("vec_id")).as("is_dup"))
  }

  /** Symmetric per-vector int8 quantization. A 64-dim float32 vector is
    * 256 bytes; int8 codes plus one double scale are 72 — the 3.5×
    * shrink that keeps an ANN candidate store in executor memory at
    * corpus scale. scale = max|x|/127, code = round(x/scale), so
    * |code| ≤ 127 by construction (no clamp branch). Narrow per-row
    * math, no shuffle; every step (float→double cast, division, round
    * half-away-from-zero) is IEEE-exact and engine-independent, so the
    * output has an exact oracle. The scale reduction is a native
    * codegen'd max-abs (VectorExprs) — cheap even where CollapseProject
    * substitutes it into each downstream reference. */
  def quantizeInt8(corpus: DataFrame): DataFrame =
    corpus
      .select(col("vec_id"), col("embedding"),
        (VectorExprs.maxAbs(col("embedding")) / 127.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0.0,
          transform(col("embedding"), _ => lit(0)))
        .otherwise(transform(col("embedding"),
          x => round(x.cast("double") / col("scale"), 0).cast("int")))
        .as("qvec"))

  /** Brute-force cosine top-k over the DEQUANTIZED int8 corpus — the
    * fidelity check for [[quantizeInt8]]: max relative error per
    * coordinate is 1/254, so a planted ~0.9999-cosine neighbor still
    * separates cleanly from noise neighbors (≈0) after quantization.
    * The dequantized corpus is MATERIALIZED (localCheckpoint) before the
    * pair join: without the barrier, CollapseProject merges the
    * quantize→dequantize HOF chain into every per-pair evaluation —
    * the measured 78 s blowup of round 2. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val deq = quantizeInt8(corpus).select(col("vec_id"),
      transform(col("qvec"), x => (x.cast("double") * col("scale")).cast("float"))
        .as("embedding"))
      .localCheckpoint(true)
    bruteForceTopK(queries, deq, k)
  }

  /** Johnson-Lindenstrauss random projection of the embedding table to
    * `outDim` dimensions ([[VectorExprs.JlProject]]: ±1 sign matrix
    * derived from integer arithmetic, sequential-fold contract) — the
    * dimensionality-reduction step an ANN pipeline runs before index
    * build when the native dimension is large (e.g. 1536 → 64): distances
    * are preserved within (1±ε) w.h.p., and the projected table is
    * outDim/d the size of the original. Narrow per-row codegen'd
    * arithmetic — no shuffle, linear scale, same engine-exact math class
    * as [[quantizeInt8]]. */
  def randomProjection(corpus: DataFrame, outDim: Int = 8): DataFrame =
    corpus.select(col("vec_id"),
      VectorExprs.jlProject(col("embedding"), outDim).as("proj"))

  /** L2-normalized unit vectors (cosine becomes a plain dot product
    * downstream — normalize once, score many). Zero vectors stay zero. */
  def l2Normalize(corpus: DataFrame): DataFrame =
    corpus
      // distinct name for the unrounded norm: an output alias `l2` in the
      // same select would capture the lambda's col("l2") reference (the
      // sibling-alias resolution gotcha) and divide by the ROUNDED norm
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("l2_raw"))
      .select(col("vec_id"), round(col("l2_raw"), 6).as("l2"),
        when(col("l2_raw") === 0.0, transform(col("embedding"), _ => lit(0.0)))
        .otherwise(transform(col("embedding"),
          x => round(x.cast("double") / col("l2_raw"), 9)))
        .as("unit"))

  // ---------------------------------------------------- product quantization

  /** PQ geometry: 64-dim embeddings split into `PqM` subspaces of
    * `PqSubDim` dims, `PqKs` codes per subspace — 8 bytes of codes per
    * vector instead of 256 bytes of float32, the compression that keeps a
    * 100 TB corpus's ANN index in executor memory. */
  val PqM = 8
  val PqSubDim = 8
  val PqKs = 32

  /** One row per (vector, subspace): unit-normalized double subvectors, so
    * dot products downstream ARE cosine contributions. */
  private def pqSubRows(df: DataFrame, idCol: String): DataFrame = {
    val unit = df.select(col(idCol), col("embedding"),
        greatest(norm(col("embedding")), lit(1e-12)).as("l2"))
      .select(col(idCol),
        transform(col("embedding"), x => x.cast("double") / col("l2")).as("u"))
    unit.select(col(idCol), posexplode(array((0 until PqM).map(j =>
      slice(col("u"), j * PqSubDim + 1, PqSubDim)): _*)).as(Seq("sub", "subvec")))
  }

  /** Per-subspace codebooks via Lloyd's on a deterministic training
    * stride (codebook training on a bounded sample is the standard PQ
    * practice — FAISS trains on ~100k vectors regardless of corpus size;
    * here the stride is arithmetic so results are reproducible). Seeds
    * are the first `PqKs` stride vectors' subvectors; every iteration is
    * ONE broadcast join + argmax + re-mean covering ALL subspaces at once
    * (subspace is just a key), so training cost does not scale with m.
    * Returns (sub, code, centroid, c_half = ||c||²/2). */
  def pqCodebooks(corpus: DataFrame, iters: Int = 2, trainMod: Int = 4): DataFrame = {
    val train = pqSubRows(corpus.filter(pmod(col("vec_id"), lit(trainMod)) === 0)
      .select(col("vec_id"), col("embedding")), "vec_id")
      .localCheckpoint(true) // reused every iteration: truncate lineage once
    val seedIds = train.select("vec_id").distinct()
      .orderBy("vec_id").limit(PqKs)
      .withColumn("code", row_number().over(Window.orderBy("vec_id")) - 1)
    var books = train.join(broadcast(seedIds), "vec_id")
      .select(col("sub"), col("code"), col("subvec").as("centroid"))
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    for (_ <- 0 until iters) {
      val snap = books.localCheckpoint(true)
      prevRdd.foreach(_.unpersist(false))
      prevRdd = org.apache.spark.sql.graftshim.Shims.checkpointedRdd(snap)
      val scored = train.join(broadcast(snap.withColumn("c_half",
          VectorExprs.dot(col("centroid"), col("centroid")) / 2)), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("subvec"), col("code"),
          (VectorExprs.dot(col("subvec"), col("centroid")) - col("c_half")).as("s"))
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("s").desc, col("code"))
      val best = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      // empty codes simply drop out (codebook shrinks — harmless for ANN)
      books = best.groupBy("sub", "code")
        .agg(
          array((0 until PqSubDim).map(i =>
            sum(element_at(col("subvec"), i + 1))): _*).as("sums"),
          count(lit(1)).as("n"))
        .select(col("sub"), col("code"),
          transform(col("sums"), s => s / col("n")).as("centroid"))
    }
    books.withColumn("c_half",
      VectorExprs.dot(col("centroid"), col("centroid")) / 2)
  }

  /** Encode: nearest codebook entry per (vector, subspace) — broadcast
    * codebooks, argmax of (v·c − ||c||²/2), never a corpus shuffle.
    * Returns (vec_id, sub, code): the 8-byte index representation. */
  def pqEncode(corpus: DataFrame, books: DataFrame): DataFrame = {
    val scored = pqSubRows(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(books), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        (VectorExprs.dot(col("subvec"), col("centroid")) - col("c_half")).as("s"))
    val w = Window.partitionBy("vec_id", "sub").orderBy(col("s").desc, col("code"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "sub", "code")
  }

  /** PQ ANN search, FAISS-shaped: ADC shortlist + exact re-rank.
    *
    *  1. LUT: per (query, sub, code), the query subvector · centroid dot,
    *     quantized to integer micro-units (order-independent sums — the
    *     cross-engine determinism rule) — #queries × m × ks rows,
    *     broadcast;
    *  2. ADC: corpus CODES join the LUT on (sub, code) — the corpus scan
    *     touches 8 bytes of codes per vector, never the embeddings — and
    *     the per-vector sum of m lookups approximates the cosine;
    *  3. shortlist top-`shortlist` per query by ADC score, then re-rank
    *     EXACTLY on the true embeddings fetched by id (the candidate
    *     diet: only shortlist×queries embeddings move).
    *
    * Same output contract as the other topK searches. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      iters: Int = 2, shortlist: Int = 64): DataFrame = {
    val books = pqCodebooks(corpus, iters).localCheckpoint(true)
    val codes = pqEncode(corpus, books)
    val lut = pqSubRows(queries.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(books), Seq("sub"))
      .select(col("vec_id").as("query_id"), col("sub"), col("code"),
        round(VectorExprs.dot(col("subvec"), col("centroid")) * 1000000).cast("long")
          .as("pdot_micro"))
    val adc = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pdot_micro").as("adc_micro"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val ws = Window.partitionBy("query_id")
      .orderBy(col("adc_micro").desc, col("neighbor_id"))
    val cand = adc.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= shortlist)
      .select("query_id", "neighbor_id")
    // exact re-rank over the shortlist only
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
    val exact = cand.join(broadcast(q), Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_emb"), col("q_norm"), col("c_emb"), col("c_norm")), 6)
          .as("score"))
    val wr = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(wr).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs over a deterministic sample:
    * top-k most similar pairs (id_a < id_b).
    *
    * Same two-stage sample bound as [[graft.ops.Dedup.ngramJaccardTop]]:
    * the modulus filter alone keeps a fixed FRACTION of the corpus, so
    * this all-pairs diagnostic would grow quadratically with scale; the
    * absolute `maxSample` cap (multiplicative-hash order — plain int64
    * arithmetic any engine replays) fixes it at maxSample²/2 pairs.
    * The LSH-bucketed [[cosineNearDupLsh]] is the full-corpus scale
    * path; this stays the oracle-checkable demo. */
  def cosineNearDupTop(corpus: DataFrame, sampleMod: Int, k: Int,
      maxSample: Int = 64): DataFrame = {
    val sample = corpus.filter(col("vec_id") % sampleMod === 0)
      .orderBy(pmod(col("vec_id") * lit(1000003L), lit(999999937L)), col("vec_id"))
      .limit(maxSample)
      .persist() // one materialization for both self-join sides
    val left = sample.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      norm(col("embedding")).as("norm_a"))
    val right = sample.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("norm_b"))
    left.join(broadcast(right), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosinePre(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(k)
  }
}
