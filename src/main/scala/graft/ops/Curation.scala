package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a web-scale training-data pipeline runs
  * between quality filtering and export: per-domain document caps and
  * corpus-frequency boilerplate removal. Both are standard steps in
  * published web pipelines (per-domain caps appear in C4/RefinedWeb-style
  * curation to stop a handful of domains dominating the mix; line/segment
  * frequency dedup is CCNet's boilerplate pass). No reference analog —
  * the reference corpus is 14 economic series (`/root/reference/src/
  * config.py:28-52`); these extend the engine for the north-star corpus.
  */
object Curation {

  /** Per-domain document cap: keep at most `cap` documents per `source`,
    * ranked by token count (desc) then doc_id — an integer-only ranking,
    * so the keep set is identical on any engine.
    *
    * Scale shape, two layers:
    *  1. Domain popularity is Zipfian, so the long tail of domains is
    *     under the cap and needs NO ranking at all. One partial-agg count
    *     per source finds the few over-cap domains; that set is
    *     broadcast, the under-cap tail passes through map-only (anti
    *     join), and only the over-cap head pays ranking — on its own
    *     rows only.
    *  2. The head ranking itself is the TWO-PHASE SALTED top-N: a single
    *     `Window.partitionBy(source)` would sort each mega-domain on ONE
    *     reducer (the straggler SaltingSpec measures at 5.7× on a planted
    *     90%-hot key). Phase 1 ranks within (source, salt-of-doc_id) — a
    *     doc below `cap` inside its own salt bucket is below `cap`
    *     globally, since everything above it there is above it globally —
    *     so each bucket keeps `cap` survivors and the hot domain spreads
    *     over `salts` reducers. Phase 2 re-ranks the ≤ salts·cap
    *     survivors per source: a sketch-sized window. The kept set is
    *     provably identical to the single-window form (the oracle
    *     recomputes the naive single-window SQL at three scales). */
  def domainCap(docs: DataFrame, cap: Int, salts: Int = 16): DataFrame = {
    val nTok = size(split(trim(col("text")), "\\s+")).cast("bigint")
    val base = docs.select(col("doc_id"), col("source"), nTok.as("n_tokens"))
    val overCap = broadcast(
      base.groupBy("source").agg(count(lit(1)).as("n"))
        .where(col("n") > cap).select("source"))
    val tail = base.join(overCap, Seq("source"), "left_anti")
      .select(col("doc_id"), col("source"), lit(true).as("kept"))
    val head = base.join(overCap, "source")
    val order = Seq(col("n_tokens").desc, col("doc_id").asc)
    val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(salts)))
      .orderBy(order: _*)
    val survivors = head.withColumn("_rn1", row_number().over(w1))
      .where(col("_rn1") <= cap)
    val w2 = Window.partitionBy("source").orderBy(order: _*)
    val keptIds = survivors.withColumn("_rn2", row_number().over(w2))
      .where(col("_rn2") <= cap).select(col("doc_id").as("_kept_id"))
    // kept ids are cap × (number of heavy domains) — broadcast-class by
    // the same Zipf argument that made the overCap set broadcastable
    val flagged = head.join(broadcast(keptIds),
        col("doc_id") === col("_kept_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("_kept_id").isNotNull.as("kept"))
    tail.unionByName(flagged)
  }

  /** Stamped shared passage (15 whitespace tokens) for
    * [[substringDedup]] — long enough to generate several overlapping
    * shared 10-grams, so span MERGING is exercised, not just single-gram
    * removal. */
  val sharedPassage =
    " experts say the quick brown fox jumps over the lazy dog near the river bank"

  /** Cross-document repeated-substring removal — the exact-substring
    * dedup class of Lee et al. 2022 (arXiv:2107.06499, "Deduplicating
    * Training Data Makes Language Models Better"), approximated at the
    * token-w-gram granularity a distributed engine can shuffle: a token
    * span is removed iff it is covered by some `w`-token gram that occurs
    * in at least `minDocs` distinct documents. Overlapping shared grams
    * merge naturally (a token survives only if NO shared gram covers it),
    * so a long duplicated passage is excised as one span, like the
    * suffix-array method — without a suffix array.
    *
    * Scale shape: the gram stream shuffles once keyed on the gram string
    * with partial aggregation; the SHARED gram set is duplicate content
    * only (tiny vs the corpus — at 100 TB it is the broadcast side of the
    * verdict join); per-document span removal is narrow per-row array
    * math over the collected start positions. The synthetic corpus has no
    * natural cross-doc repeats, so docs with `doc_id % plantMod == 0` get
    * [[sharedPassage]] appended by both engines (the plant-then-detect
    * recipe of [[TextStats.contamination]]). */
  def substringDedup(docs: DataFrame, w: Int = 10, minDocs: Int = 2,
      plantMod: Int = 11): DataFrame = {
    val stamped = docs.select(col("doc_id"),
      when(col("doc_id") % plantMod === 0, concat(col("text"), lit(sharedPassage)))
        .otherwise(col("text")).as("text"))
    val toks = stamped.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    // positional grams through the codegen'd expression (one loop per
    // row): the composed form — transform(sequence)+slice+array_join —
    // ran three interpreted lambdas per gram, the cost class WordNgrams
    // was built to kill. Index i = gram starting at token i, empty under
    // w tokens, so posexplode emits exactly the old (pos, gram) rows.
    val grams = stamped
      .select(col("doc_id"),
        posexplode(graft.functions.HashExprs.wordNgramsAll(col("text"), w)))
      .toDF("doc_id", "pos", "gram")
      // one materialization for both consumers (the frequency aggregate
      // and the starts join) — without it each branch re-scans the corpus
      // and re-builds every gram string (the cosineNearDupLsh lesson)
      .persist()
    val shared = grams.groupBy("gram")
      .agg(countDistinct("doc_id").as("g_docs"))
      .where(col("g_docs") >= minDocs)
      .select("gram")
    // explicit broadcast, per the 100 TB argument above: the shared-gram
    // set is duplicate content only. Without the hint an unhinted planner
    // could pick a sort-merge join that shuffles the full gram stream a
    // SECOND time just to meet the (tiny) shared set (pinned in
    // PlanAuditSpec).
    val starts = grams.join(broadcast(shared), "gram")
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("starts"))
    val st = coalesce(col("starts"), typedlit(Seq.empty[Int]))
    val covered = (i: Column) => exists(st, s => s <= i && i < s + w)
    val clean = filter(
      transform(sequence(lit(0), size(col("toks")) - 1), i =>
        when(covered(i), lit(null)).otherwise(element_at(col("toks"), i + 1))),
      x => x.isNotNull)
    toks.join(starts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        (size(col("toks")) - size(clean)).cast("bigint").as("n_removed"),
        sha2(array_join(clean, " "), 256).as("clean_sha"))
  }

  /** Stamped boilerplate footer (10 whitespace tokens) — the same
    * deterministic plant-then-detect recipe as
    * [[TextStats.contamination]]: the synthetic corpus has no natural
    * boilerplate, so docs with `doc_id % plantMod == 0` get this footer
    * appended by BOTH engines, and the operator must then find and strip
    * exactly it (plus any natural repeats). */
  val boilerFooter =
    " this content is provided as is without any warranty whatsoever"

  /** Corpus-frequency boilerplate removal (the CCNet segment-dedup pass):
    * split each document into fixed `segLen`-token segments, count how
    * many DISTINCT documents each segment occurs in corpus-wide, and drop
    * segments present in at least `minDf` documents. Emits per document
    * the segment counts and a sha-256 of the retained text (segments
    * re-joined in position order), proving the reassembly byte-exact.
    *
    * Scale shape: one narrow pass builds (doc, position, segment); the
    * corpus-frequency count is a single shuffle keyed on the segment
    * string with partial aggregation (boilerplate segments are exactly the
    * high-fan-in keys partial agg absorbs); the verdict joins back on the
    * same segment key (exchange reuse) and the per-doc reassembly is one
    * shuffle on doc_id. At 100 TB the segment-frequency table would be
    * computed once and reused corpus-wide, exactly like the dedup index. */
  def boilerplate(docs: DataFrame, segLen: Int = 10, minDf: Int = 3,
      plantMod: Int = 7): DataFrame = {
    val stamped = docs.select(col("doc_id"),
      when(col("doc_id") % plantMod === 0, concat(col("text"), lit(boilerFooter)))
        .otherwise(col("text")).as("text"))
    val toks = stamped.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    val nSegs = ((size(col("toks")) + segLen - 1) / segLen).cast("int")
    // (doc, position, 'w1 w2 ... wN') — the final segment keeps the
    // remainder tokens (slice clamps), so no token is ever lost
    val segs = toks
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nSegs - 1), s =>
          array_join(slice(col("toks"), s * segLen + 1, lit(segLen)), " "))))
      .toDF("doc_id", "pos", "seg")
    val segDf = segs.groupBy("seg")
      .agg(countDistinct("doc_id").as("seg_docs"))
    // deliberately NOT broadcast (contrast with substringDedup's shared
    // set): segDf is the frequency of EVERY distinct segment — corpus-
    // sized, not duplicate-content-sized. The sort-merge join keys on the
    // same `seg` the aggregate just exchanged on, so the segs side reuses
    // that exchange and the verdict join costs one shuffle of the (small)
    // aggregate output only.
    segs.join(segDf, "seg")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("seg_docs") >= minDf, 1)).as("n_boiler"),
        sha2(array_join(transform(
          sort_array(collect_list(when(col("seg_docs") < minDf,
            struct(col("pos"), col("seg"))))),
          s => s.getField("seg")), " "), 256).as("clean_sha"))
  }

  /** Portable per-token feature bucket in [0, buckets): first-char code,
    * last-char code, and length folded with odd multipliers. Expressible
    * identically in any SQL engine (ascii / negative index / length),
    * unlike murmur — the same portability argument as
    * [[TextStats.fingerprint]]'s token code. */
  private[ops] def tokenBucket(t: Column, buckets: Int): Column =
    pmod(ascii(t).cast("bigint") * 961
      + ascii(substring(t, -1, 1)).cast("bigint") * 31
      + length(t), lit(buckets.toLong))

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169 "Data
    * Selection for Language Models via Importance Resampling"): estimate
    * bag-of-hashed-token distributions for a TARGET slice (the
    * high-quality corpus the run wants more of — here one `source`
    * domain) and the RAW corpus, score every document by its
    * log-importance weight Σ_tokens log(p_target/p_raw) (Laplace
    * smoothed), and keep the top `k`. The paper samples Gumbel-top-k;
    * this is the deterministic argmax-k variant, so the keep set is a
    * pure function of the data.
    *
    * Engine-exact arithmetic: the per-bucket log ratio is rounded ONCE
    * to integer micro-units (HALF_UP, matching SQL `round(x, 0)`), after
    * which every per-document operation is 64-bit integer — the
    * [[TextStats.bigramLmScore]] recipe. The transcendental risk surface
    * is `buckets` values, not N documents.
    *
    * Scale shape, three stages:
    *  1. Per-bucket counts: the token stream shuffles ONCE keyed on the
    *     hashed bucket with partial aggregation (at most `buckets`
    *     groups per map task, so the shuffle payload is bounded by
    *     tasks × buckets, not corpus size).
    *  2. The learned log-ratio table is ≤ `buckets` rows — sketch-class
    *     — collected and re-entering the plan as ONE dense
    *     `array<bigint>` literal indexed O(1) per token (a Catalyst MAP
    *     literal would be a linear scan per row — the
    *     [[BloomPrune]] lesson).
    *  3. Scoring is then MAP-ONLY: one narrow pass folds each document's
    *     tokens through the array — zero shuffle over the corpus, the
    *     same inference shape as [[TextStats.classifierScore]].
    * The top-k plans as TakeOrderedAndProject (per-partition top-k, k-row
    * driver merge) and the k ids broadcast back for the flag join. */
  def dsirSelect(docs: DataFrame, targetSource: String, buckets: Int = 1024,
      k: Int = 100): DataFrame = {
    val toksArr = TextStats.tokens(col("text"))
    val counts = docs
      .select(col("source"), explode(toksArr).as("tok"))
      .groupBy(tokenBucket(col("tok"), buckets).as("bucket"))
      .agg(count(lit(1)).as("r_cnt"),
        count(when(col("source") === targetSource, 1)).as("t_cnt"))
      .collect()
    val rTot = counts.map(_.getLong(1)).sum.toDouble
    val tTot = counts.map(_.getLong(2)).sum.toDouble
    val bD = buckets.toDouble
    // identical operation order to the oracle SQL, one rounding at the end
    val lr = new Array[Long](buckets)
    counts.foreach { r =>
      val v = math.log(((r.getLong(2) + 1.0) / (tTot + bD)) /
        ((r.getLong(1) + 1.0) / (rTot + bD))) * 1000000.0
      lr(r.getLong(0).toInt) =
        BigDecimal.valueOf(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue
    }
    // unseen buckets stay 0: a document can only index buckets its own
    // tokens hash to, and those are by construction in the corpus counts
    val lrLit = typedlit(lr.toSeq)
    // persisted: the top-k branch would otherwise re-scan the corpus and
    // re-run the whole scoring fold a second time (24 bytes/row kept vs
    // a second full text pass at 100 TB)
    val scored = docs.select(
      col("doc_id"),
      size(toksArr).cast("bigint").as("n_feats"),
      aggregate(toksArr, lit(0L),
        (acc, t) => acc + element_at(lrLit, tokenBucket(t, buckets).cast("int") + 1))
        .as("logw_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val topIds = scored
      .orderBy(col("logw_micro").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id").as("_sel_id"))
    scored.join(broadcast(topIds), col("doc_id") === col("_sel_id"), "left_outer")
      .select(col("doc_id"), col("n_feats"), col("logw_micro"),
        col("_sel_id").isNotNull.as("selected"))
  }
}
