package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashExprs

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash group-by), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale posture: exact dedup is one shuffle on the content hash; MinHash
  * LSH shuffles on (band, bucket) — candidate pairs only, never the O(n²)
  * cross join; SimHash pairs likewise join on 16-bit band keys. This is the
  * standard web-scale dedup shape (one wide scan + a few key-partitioned
  * shuffles), so it survives a 1000-executor / 100 TB scale-up.
  */
object Dedup {

  /** Canonical text normalization shared by exact dedup variants. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact duplicate groups by raw text equality: one representative
    * (min doc_id) per group plus the copy count. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Exact dedup on the sha-256 of normalized text — the form that scales
    * to 100 TB (hash is 32 bytes regardless of document size, so the
    * shuffle carries hashes, not documents). */
  def exactHashGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(normalize(col("text")), 256).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("content_hash", "keep_id", "n_copies")

  /** Attach each row's dup-group keeper (min of `idCol` within `keyCol`)
    * via partial-aggregated groupBy + join-back — deliberately NOT a
    * window: `min().over(Window.partitionBy(key))` ships EVERY member of
    * a group to one reducer, so a pathological dup group (an empty or
    * boilerplate document with millions of copies — routine in web-scale
    * corpora) serializes into a single task, and when the key space is
    * small (the perceptual fingerprints) the whole stage caps at
    * #distinct-keys tasks. The groupBy pre-aggregates to one row per map
    * partition before the shuffle, the keeper table is one row per
    * group, and AQE turns the join-back into a broadcast when that table
    * is small / splits skewed probe partitions when it is not.
    *
    * The input is materialized ONCE (eager localCheckpoint) because it
    * feeds both join sides — without the barrier the upstream (often an
    * expensive decode/hash projection) recomputes per side, which
    * measured 2× on the audio-dedup path. Callers should pass the
    * NARROW (key, id) projection, not the full corpus: at scale that is
    * ~40 bytes/row, the same data a window-min would have shuffled. */
  private[graft] def keeperJoin(df: DataFrame, keyCol: String,
      idCol: String): DataFrame = {
    val once = df.localCheckpoint(true)
    val keepers = once.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("canonical_id"))
    once.join(keepers, Seq(keyCol))
  }

  /** Per-document canonicalization: every document mapped to the keeper
    * of its exact-dup group (min doc_id over equal normalized content)
    * plus an `is_dup` drop flag — the projection a training pipeline
    * applies after dedup to filter the corpus in place. Skew-safe
    * [[keeperJoin]] on the 32-byte content hash. */
  def canonicalize(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      sha2(normalize(col("text")), 256).as("content_hash"))
    keeperJoin(hashed, "content_hash", "doc_id")
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** Connected components over a near-dup pair list by min-label
    * propagation: each node's label converges to the smallest doc_id
    * reachable from it, giving every near-dup CLUSTER one canonical
    * representative (pairs alone can chain: a~b, b~c without a~c).
    * Each iteration is one join + partial-aggregated groupBy on node id;
    * iterations needed = cluster diameter, which for near-dup graphs is
    * small. The standard big-graph CC loop (Hash-to-Min style); at 100 TB
    * the edge list is the (tiny) output of the LSH miner, not the corpus.
    *
    * Two paths behind one contract, dispatched on edge count: at or below
    * [[DriverCcMaxEdges]] a driver union-find computes the identical
    * min-label fixed point in one collect + one parallelize (the edge
    * list at that size is sketch-class, like a broadcast build side — and
    * the distributed loop's diameter-many rounds are pure fixed cost
    * there); above it, the distributed min-label loop. A spec proves the
    * two paths agree on the same graph. The earlier session-global
    * codegen toggle (a concurrency hazard flagged in review) is gone —
    * the driver path owns exactly the regime it served. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (eager), not persist: a persisted frame still CARRIES
    // its logical plan, so iteration N's plan embeds every previous
    // iteration plus the whole upstream (LSH) subtree — analysis, AQE
    // re-planning, and plan-description costs grow superlinearly and were
    // measured at ~190 s for a loop whose data fits in one partition. The
    // checkpoint truncates lineage to a LogicalRDD each round, making every
    // iteration's plan constant-size. (Same iterative-algorithm idiom as
    // GraphX/ALS; on a cluster localCheckpoint stays executor-local —
    // cheaper than a reliable checkpoint and exactly as effective for
    // lineage truncation.)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    val nEdges = edges.count()
    // SMALL-GRAPH FAST PATH: the near-dup edge list is the LSH miner's
    // output — sketch-class relative to the corpus (the same size class
    // as a broadcast build side or the bloom bitmap). Below the driver
    // threshold, an in-memory union-find computes the exact min-label
    // answer in one collect + one parallelize, replacing diameter-many
    // distributed join rounds (~0.4 s of fixed cost each); above it, the
    // distributed min-label loop below is the real big-graph path.
    if (nEdges <= DriverCcMaxEdges) driverCc(pairs.sparkSession, edges)
    else distributedCc(pairs.sparkSession, edges, maxIter, nEdges)
  }

  /** Driver union-find ceiling: 2M (src,dst) rows ≈ 32 MB of longs — the
    * broadcast-build-side size class. Above this the distributed loop is
    * the right tool. */
  val DriverCcMaxEdges = 2000000L

  /** In-memory min-label union-find (path compression + union-by-min):
    * the root of every merged set is always its smallest id, so the final
    * root per node IS the component minimum — the distributed loop's
    * fixed point, computed exactly. */
  private[ops] def driverCc(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "label")
  }

  private[ops] def distributedCc(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame, maxIter: Int, nEdges: Long): DataFrame = {
    val labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    connectedComponentsLoop(edges, labels, maxIter)
  }

  private def connectedComponentsLoop(
      edges: DataFrame, labels0: DataFrame, maxIter: Int): DataFrame = {
    var labels = labels0
    // checkpointed datasets are not in the CacheManager, so
    // Dataset.unpersist on them is a no-op — release each round's snapshot
    // blocks through the underlying RDD handle instead (Shims)
    import org.apache.spark.sql.graftshim.Shims.checkpointedRdd
    var prevRdd = checkpointedRdd(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("nid")).agg(min(col("label")).as("nlabel"))
      // carry the old label through the update so the convergence probe
      // is a filter over this same result — not a second join against
      // the previous labels (halves the per-iteration join count)
      val next = labels.alias("l")
        .join(neighborMin, col("l.id") === col("nid"), "left_outer")
        .select(col("l.id").as("id"), col("l.label").as("old_label"),
          least(col("l.label"), coalesce(col("nlabel"), col("l.label"))).as("label"))
        .localCheckpoint(true)
      // convergence probe: one count over the changed-label set — the
      // driver sees a single long per iteration, nothing is collected
      converged = next.filter(col("label") =!= col("old_label"))
        .limit(1).count() == 0L
      prevRdd.foreach(_.unpersist(false))
      prevRdd = checkpointedRdd(next)
      labels = next.select("id", "label")
      iter += 1
    }
    checkpointedRdd(edges).foreach(_.unpersist(false))
    labels
  }

  /** Word-level w-shingles (distinct), falling back to the whole text for
    * documents shorter than w tokens. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextStats.tokens(text)
    val grams = transform(sequence(lit(0), size(toks) - w),
      i => concat_ws(" ", (0 until w).map(j => element_at(toks, i + j + 1)): _*))
    array_distinct(when(size(toks) >= w, grams).otherwise(array(text)))
  }

  /** MinHash parameters: k affine permutations (a·h + b mod p) over a
    * base 64-bit hash folded into [0, p). Constants are fixed (seed 42)
    * so signatures are reproducible across runs and cluster sizes. */
  val MinhashP = 2147483647L // 2^31 - 1
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = NumHashes / Bands
  private val rng = new scala.util.Random(42)
  val hashA: IndexedSeq[Long] = IndexedSeq.fill(NumHashes)(1 + rng.nextInt(Int.MaxValue - 1).toLong)
  val hashB: IndexedSeq[Long] = IndexedSeq.fill(NumHashes)(rng.nextInt(Int.MaxValue).toLong)

  /** MinHash signature (array of k minima) of a shingle array — a custom
    * Catalyst expression (graft.functions.HashExprs.MinHashSig): the
    * composed-built-in form (k parallel transform/array_min trees) bloats
    * plan and codegen enough that compile time dominates, and evaluates
    * lambdas interpretively; the expression is one tight loop per row. */
  def withMinhashSignature(docsWithShingles: DataFrame): DataFrame = {
    docsWithShingles
      .withColumn("n_sh", size(col("shingles")))
      .withColumn("signature", HashExprs.minhashSig(col("shingles"), hashA, hashB, MinhashP))
  }

  /** LSH banding: (band index, bucket hash) rows per document. Documents
    * agreeing on any band land in the same bucket and become candidates.
    * Input carries the shingle COUNT (`n_sh`), not the array — the
    * 8×-exploded band shuffle moves four scalars per row regardless of
    * document size; the arrays are materialized by id for the (much
    * smaller) verify stage only. */
  def lshBuckets(docsWithSig: DataFrame): DataFrame = {
    val bands = array((0 until Bands).map { j =>
      struct(lit(j).as("band"),
        hash(slice(col("signature"), j * RowsPerBand + 1, RowsPerBand), lit(j)).as("bucket"))
    }: _*)
    docsWithSig.select(col("doc_id"), col("n_sh"), explode(bands).as("b"))
      .select(col("doc_id"), col("n_sh"), col("b.band"), col("b.bucket"))
  }

  /** Exact Jaccard over distinct shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }

  /** MinHash-LSH near-duplicate pairs: sign → band → bucket-join →
    * exact-Jaccard verification at `threshold`.
    *
    * The corpus pass computes signatures straight from the text (one
    * fused expression, HashExprs.MinHashDoc) — materializing the gram
    * ARRAY for every document ran through interpreted lambda evaluation
    * and was measured as ~10x the entire rest of the LSH path at sf0.1.
    * Gram arrays are only built for the candidate ids the verify stage
    * actually compares. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5, w: Int = 3): DataFrame = {
    val sigs = docs
      .select(col("doc_id"),
        HashExprs.minhashDoc(col("text"), w, hashA, hashB, MinhashP).as("ms"))
      .select(col("doc_id"), col("ms.n_sh").as("n_sh"), col("ms.sig").as("signature"))
    // Materialize the bucketed side once: the self-join would otherwise
    // recompute the whole sign→band subtree for each side (the aliased
    // projections defeat exchange reuse). At cluster scale this persist
    // is a write of (id, n_sh, band, bucket) — four scalars per row, tiny
    // next to the corpus — the standard LSH candidate-table pattern.
    val buckets = lshBuckets(sigs).persist()
    val left = buckets.select(col("band"), col("bucket"),
      col("doc_id").as("id_a"), col("n_sh").as("n_a"))
    val right = buckets.select(col("band"), col("bucket"),
      col("doc_id").as("id_b"), col("n_sh").as("n_b"))
    // size-ratio prefilter: jaccard(a,b) >= t forces |a|/|b| in [t, 1/t],
    // so the cheap count comparison prunes bucket collisions before they
    // enter the pair-dedup shuffle — and the pruned pairs never fetch
    // their shingle arrays at all
    val sizeOk = col("n_a") * threshold <= col("n_b") &&
      col("n_b") * threshold <= col("n_a")
    val candidates = left.join(right, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(sizeOk)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .persist() // reused: once for the id set, once for the verify join
    // verify stage: materialize gram arrays ONLY for documents that appear
    // in some candidate pair (candidate-id join first, gram projection
    // above it) — one extra filtered corpus scan instead of building every
    // document's gram array
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    // persist: shA and shB below would otherwise EACH rescan the corpus
    // and rebuild the (interpreted-lambda) gram arrays — measured as the
    // single largest slice of the pipeline at sf0.1
    val candSh = docs.join(candIds, "doc_id")
      .select(col("doc_id"), shingles(col("text"), w).as("shingles"))
      .persist()
    val shA = candSh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val shB = candSh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", round(inter / union, 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 32-bit SimHash per document (custom expression — see
    * withMinhashSignature for the rationale). */
  def simhashes(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), HashExprs.simhash32(col("toks")).as("simhash"))
  }

  /** Shared pigeonhole-banded Hamming pair miner: split an integer hash
    * into `nBands` bytes — any pair within Hamming distance `nBands − 1`
    * must agree on at least one byte — bucket-join on (band, byte), and
    * verify the true Hamming distance BEFORE the pair-dedup shuffle
    * (two longs of arithmetic, so only true near-dups enter the
    * exchange). A `maxHamming` ABOVE `nBands − 1` is allowed but
    * best-effort: such pairs are found only when their differing bits
    * happen to spare one byte (simhashPairs runs at 6 over 4 bands this
    * way, with its recall pinned by the planted oracle); callers that
    * need the hard guarantee enforce the bound themselves
    * ([[perceptualPairs]]). The one banded projection is persisted for
    * both self-join sides — released by the caller's clearCache, the
    * same lifecycle convention as [[minhashPairs]]' candidate tables. */
  private def bandedHammingPairs(hashes: DataFrame, idCol: String,
      hashCol: String, nBands: Int, maxHamming: Int): DataFrame = {
    val bands = array((0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col(hashCol), j * 8).bitwiseAND(0xFF).as("bucket"))
    }: _*)
    val banded = hashes
      .select(col(idCol), col(hashCol), explode(bands).as("b"))
      .select(col(idCol), col(hashCol), col("b.band"), col("b.bucket"))
      .persist() // one materialization for both self-join sides
    val left = banded.select(col("band"), col("bucket"),
      col(idCol).as("id_a"), col(hashCol).as("h_a"))
    val right = banded.select(col("band"), col("bucket"),
      col(idCol).as("id_b"), col(hashCol).as("h_b"))
    left.join(right, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-duplicate pairs: band the 32-bit hash into 4 bytes —
    * any pair within Hamming distance 3 must agree on at least one byte
    * (pigeonhole) — then verify the true Hamming distance. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(simhashes(docs), "doc_id", "simhash",
      nBands = 4, maxHamming = maxHamming)

  /** Perceptual IMAGE dedup, exact-hash form: every image mapped to the
    * keeper (min media_id) of its average-hash group — the image twin of
    * [[canonicalize]], one shuffle on the 8-byte hash. Input:
    * (media_id, ahash) from [[Multimodal.imageHashes]]. */
  def perceptualCanonicalize(hashes: DataFrame): DataFrame =
    keeperJoin(hashes.select(col("media_id"), col("ahash")), "ahash", "media_id")
      .select(col("media_id"), col("ahash"), col("canonical_id"),
        (col("media_id") =!= col("canonical_id")).as("is_dup"))

  /** Perceptual image NEAR-dup pairs: the [[bandedHammingPairs]] miner
    * over the 64-bit average hash (8 byte-bands, so `maxHamming` ≤ 7 for
    * the pigeonhole guarantee). */
  def perceptualPairs(hashes: DataFrame, maxHamming: Int = 7): DataFrame = {
    require(maxHamming <= 7,
      "8 bands of 8 bits only guarantee collisions up to Hamming 7")
    bandedHammingPairs(hashes, "media_id", "ahash",
      nBands = 8, maxHamming = maxHamming)
  }

  /** n-gram Jaccard similarity over a deterministic document sample:
    * top-k most similar same-language pairs. Pure set algebra (no
    * engine-specific hashing), so it is cross-engine oracle-checkable.
    *
    * The sample is bounded by ABSOLUTE COUNT, not only by modulus: a
    * `doc_id % sampleMod` filter alone keeps a fixed FRACTION of the
    * corpus, so the same-language self-join below would grow
    * quadratically with corpus size — at 100 TB the "diagnostic" would
    * dwarf the pipeline. Capping at `maxSample` docs, chosen in a
    * deterministic pseudo-random order (a multiplicative hash over
    * doc_id — plain int64 arithmetic, so any engine replays it exactly),
    * fixes the join at maxSample²/2 pairs regardless of scale; the
    * order-by-limit is a per-partition top-k + driver merge of
    * `maxSample` rows, never a global sort. */
  def ngramJaccardTop(docs: DataFrame, sampleMod: Int = 50, k: Int = 20,
      w: Int = 3, maxSample: Int = 64): DataFrame = {
    val sample = docs.filter(col("doc_id") % sampleMod === 0)
      .orderBy(pmod(col("doc_id") * lit(1000003L), lit(999999937L)), col("doc_id"))
      .limit(maxSample)
      .select(col("doc_id"), col("lang"), shingles(col("text"), w).as("sh"))
      .persist() // one materialization for both self-join sides
    val left = sample.select(col("lang"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val right = sample.select(col("lang"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    left.join(right, Seq("lang"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(k)
  }
}
