package graft

/** Plan-regression guards: the physical-plan properties the engine's
  * scale story depends on, asserted so refactors can't silently lose
  * them. (The human-readable audit is `graft.tools.Probe plan`.) */
class PlanAuditSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.sparkPlan.toString

  test("q1_agg: aggregation is partial-then-final with a pruned scan") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "needs map-side partial agg")
    assert(p.contains("l_returnflag") && !p.contains("l_shipdate"),
      "scan must prune unused columns")
  }

  test("q5_region_revenue: every dimension joins via broadcast") {
    val p = plan("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 3)
    assert(!p.contains("SortMergeJoin"), "fact side must not shuffle for dims")
  }

  test("l4_anti_join: status predicate reaches the parquet scan") {
    val p = plan("l4_anti_join")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderstatus,F)"),
      s"expected pushed filter in:\n$p")
  }

  test("text_decontaminate: eval grams broadcast, corpus never shuffles by gram") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "gram match must be a broadcast join")
    assert(!p.contains("SortMergeJoin"),
      "the training-side gram stream must not shuffle-sort by gram")
  }

  test("t2_cast_json: events scan reads only referenced columns") {
    val p = plan("t2_cast_json")
    assert(!p.contains("user_id") && !p.contains("value"),
      "unreferenced events columns must be pruned")
  }

  test("topk_orders: global top-k uses TakeOrderedAndProject, not a full sort") {
    val p = plan("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("text_bm25/text_tfidf: corpus tokenized ONCE in the executed plan (AQE exchange reuse)") {
    // The r14 single-tokenize change holds only through canonical subtree
    // equality that AQE's runtime exchange reuse depends on — a no-op
    // filter keeps the df branch canonically equal to the tf exchange
    // (TextStats.scala), and a future Spark upgrade could optimize it
    // away WITHOUT any result changing. Pin the executed-plan shape at
    // the r14-landed counts (AQE plan text reprints subtrees per query
    // stage, so the textual Generate count is an upper-bound proxy: the
    // regression this guards — reuse lost — shows as the before-shape's
    // 7/5 Generates and ReusedExchange dropping out). Must read the
    // POST-EXECUTION adaptive plan — the initial plan hides reuse.
    // Pinned at sf0.01: at sf0.001 AQE's runtime broadcast conversions
    // legitimately break exchange-subtree equality.
    for ((q, maxGen, minReuse) <- Seq(("text_bm25", 5, 3), ("text_tfidf", 4, 2))) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.01")
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      // the tokenizer projects graft_alpha_tokens into `_toks`, then
      // explodes it — each `Generate explode(_toks` is one tokenize print
      val tokenizes = "Generate explode\\(_toks".r.findAllIn(s).length
      assert(tokenizes <= maxGen,
        s"$q tokenize count grew past the r14 single-tokenize shape " +
          s"($tokenizes > $maxGen) — exchange reuse lost?\n$s")
      val reuses = "ReusedExchange".r.findAllIn(s).length
      assert(reuses >= minReuse,
        s"$q must reuse the tf exchange across the stat branches " +
          s"(found $reuses ReusedExchange, need >= $minReuse):\n$s")
    }
  }

  test("hash expressions stay in whole-stage codegen (no CodegenFallback)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import graft.functions.HashExprs._
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[MinHashSig]),
      "MinHashSig must implement doGenCode, not fall back")
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[SimHash32]),
      "SimHash32 must implement doGenCode, not fall back")
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[RpLshBuckets]),
      "RpLshBuckets must implement doGenCode, not fall back")
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[MinHashDoc]),
      "MinHashDoc must implement doGenCode, not fall back")
    assert(!classOf[CodegenFallback].isAssignableFrom(
      classOf[graft.functions.TextExprs.TextSignals]),
      "TextSignals must implement doGenCode, not fall back")
  }

  test("minhash LSH: the band-bucket candidate table carries scalars only") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.ArrayType
    val docs = Tables.documents(spark, sf0001)
    val buckets = graft.ops.Dedup.lshBuckets(
      docs.select(col("doc_id"),
          graft.functions.HashExprs.minhashDoc(col("text"), 3, graft.ops.Dedup.hashA,
            graft.ops.Dedup.hashB, graft.ops.Dedup.MinhashP).as("ms"))
        .select(col("doc_id"), col("ms.n_sh").as("n_sh"), col("ms.sig").as("signature")))
    // the 8x-exploded exchange input must not contain any array column —
    // shingle arrays are re-fetched by id at the verify stage only
    assert(buckets.schema.fields.forall(!_.dataType.isInstanceOf[ArrayType]),
      s"bucket table must carry no arrays: ${buckets.schema.treeString}")
    assert(buckets.columns.toSet === Set("doc_id", "n_sh", "band", "bucket"))
    // the corpus pass must run the fused text→signature expression; gram
    // arrays (interpreted lambda transform) are for verify candidates only
    val p = buckets.queryExecution.sparkPlan.toString
    assert(p.contains("graft_minhash_doc"), s"expected fused signature expr in:\n$p")
    assert(!p.contains("transform("), s"no lambda gram materialization in the corpus pass:\n$p")
  }

  test("runtime bloom-filter join pruning engages on a selective dim join") {
    // At 100 TB the lever that keeps a selective dim join from scanning
    // the whole fact side is AQE's runtime row-level bloom filter: the
    // filtered dim's join keys are sketched and the sketch is pushed
    // into the fact scan. The size thresholds that gate it are tuned for
    // clusters, so drop them to zero here and assert the rewrite fires —
    // proving the engine's plans are shaped so Spark CAN inject it.
    // ... and since Spark declines to inject for broadcast joins (the
    // broadcast build already prunes), force the shuffle-join shape this
    // fact/dim pair would have at scale.
    val conf = spark.conf
    val en = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val th = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    val sc = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bc = "spark.sql.autoBroadcastJoinThreshold"
    val prevEn = conf.get(en)
    val prevTh = conf.get(th)
    val prevSc = conf.get(sc)
    val prevBc = conf.get(bc)
    conf.set(en, "true")
    conf.set(th, "1GB") // max size the sketched (dim) side may have
    conf.set(sc, "0")   // min size the pruned (fact) side must have
    conf.set(bc, "-1")
    try {
      import org.apache.spark.sql.functions._
      val orders = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, sf0001)
      val joined = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected a runtime bloom filter in the optimized plan:\n$p")
    } finally {
      conf.set(en, prevEn)
      conf.set(th, prevTh)
      conf.set(sc, prevSc)
      conf.set(bc, prevBc)
    }
  }

  test("bloom_prune_join: the bloom probe filters BELOW the semi join") {
    // the point of the operator: the xxhash64 probe must sit on the fact
    // side UNDER the exact semi join (rows are dropped map-side, before
    // any exchange moves them). A join-shaped probe gets reordered ABOVE
    // the semi join by Catalyst's semi-join pushdown — the literal-probe
    // form must not.
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = SparkEntry.queries("bloom_prune_join")(spark, sf0001)
      .queryExecution.sparkPlan
    val semis = plan.collect {
      case j: BaseJoinExec if j.joinType.toString == "LeftSemi" => j
    }
    assert(semis.nonEmpty, s"expected a semi join:\n$plan")
    assert(semis.exists(_.left.collect {
      case f: FilterExec if f.condition.toString.contains("xxhash64") => f
    }.nonEmpty), s"bloom probe must filter below the semi join:\n$plan")
  }

  test("text_funnel: stages 1-3 are one joinless narrow aggregate") {
    // the funnel's first aggregate must stay a single corpus scan with
    // conditional counts — a regression back to per-stage count-joins
    // would put 3 exchanges and repeated projections on the 100 TB path
    val p = plan("text_funnel")
    assert(!p.contains("SortMergeJoin"),
      "funnel stages must not join on doc_id")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 4, // dedup window hash + 2 single-row aggs + bcast
      s"funnel should shuffle only for the dedup window, got $exchanges:\n$p")
  }

  test("text_lm_score: model/prefix/probe reuse one tokenization pass") {
    // without the docBg persist, the model, prefix, and probe legs each
    // rebuild tokenize+explode from the parquet scan — 4 corpus scans.
    // (InMemoryRelation's toString echoes its cached plan's inner scan,
    // so count the cache hits, not the 'Scan parquet' strings.)
    val p = plan("text_lm_score")
    val cacheHits = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheHits >= 3,
      s"model, prefix AND probe must read the persisted docBg, got $cacheHits:\n$p")
  }

  test("text_lm_score: the corpus-sized docBg table joins exactly once, on gram") {
    // the per-gram probability must be composed model-side (distinct-gram-
    // sized) BEFORE the probe join — a regression back to
    // docBg JOIN model JOIN prefix re-shuffles the full corpus-sized
    // doc-gram table a second time on the derived w1 key (the r11 1000x
    // residual: 3.9x for 2x data). Structurally: the docBg cache read with
    // NO intervening aggregate is the corpus-sized probe leg; exactly one
    // join may touch it, and that join's key must be the raw gram column,
    // not a substring_index derivation.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val physical = SparkEntry.queries("text_lm_score")(spark, sf0001)
      .queryExecution.sparkPlan
    def rawProbe(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case _: InMemoryTableScanExec => true
      case other => other.children.exists(rawProbe)
    }
    val probeJoins = physical.collect {
      case j: BaseJoinExec if rawProbe(j.left) || rawProbe(j.right) => j
    }
    assert(probeJoins.size === 1,
      s"docBg must cross exactly one join, found ${probeJoins.size}:\n$physical")
    val keys = (probeJoins.head.leftKeys ++ probeJoins.head.rightKeys).map(_.toString)
    assert(keys.forall(k => !k.contains("substring_index")),
      s"probe join must key on gram, not a derived w1: $keys")
  }

  test("sample_weighted: weighted top-k plans TakeOrderedAndProject") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k, not a global sort:\n$p")
  }

  test("text_chunks: chunk generation is map-only (no exchange)") {
    import org.apache.spark.sql.functions.col
    val p = graft.ops.Chunking
      .charChunks(Tables.documents(spark, sf0001), 200, 150)
      .queryExecution.sparkPlan.toString
    assert(p.contains("Generate"), s"expected a generator:\n$p")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("clusterByZ: layout is a single range exchange on the z value") {
    val grid = spark.range(0, 4096).selectExpr("id % 64 AS x", "id div 64 AS y")
    val p = graft.ops.Layout.clusterByZ(grid, "x", "y", 8, bits = 6)
      .queryExecution.sparkPlan.toString
    assert(p.contains("rangepartitioning(_z"), s"expected range exchange:\n$p")
    assert("Exchange".r.findAllIn(p).length === 1,
      s"exactly one exchange for the layout pass:\n$p")
  }

  test("text_decontam_bloom: bloom probe is a pushed literal predicate") {
    val p = plan("text_decontam_bloom")
    assert(p.contains("shiftrightunsigned"),
      s"bloom probe arithmetic must appear as a scalar filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the exact verify join must still broadcast the eval grams")
    assert(!p.contains("SortMergeJoin [gram"),
      "the training gram stream must never shuffle-sort by gram")
  }

  test("sim_ivf_topk: the probe join broadcasts the query side") {
    // the corpus must never re-shuffle by centroid_id to meet a probe
    // batch: probes are #queries x nprobe rows, always the broadcast side
    val p = plan("sim_ivf_topk")
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "IVF search must not shuffle-sort the corpus against the probe batch")
  }

  test("mm_resize / mm_frames: metadata-only queries never render payloads") {
    // the media payload is a codec-rendering UDF column: the metadata-only
    // queries must let Catalyst PRUNE it, or every resize plan pays for
    // PNG/WAV/MP4 encoding it never reads
    for (q <- Seq("mm_resize", "mm_frames")) {
      val p = plan(q)
      assert(!p.contains("payload"), s"$q must prune the payload column:\n$p")
    }
  }

  test("mm_video_keyframes: one kind-exchange, then a narrow parse") {
    val p = plan("mm_video_keyframes")
    assert("Exchange".r.findAllIn(p).length <= 2, // kind repartition + sort
      s"keyframe parse must stay narrow after the kind repartition:\n$p")
    assert(p.contains("MapPartitions"), "parse stage must be mapPartitions")
  }

  test("text_domain_cap: the Zipf tail routes map-only via broadcast") {
    val p = plan("text_domain_cap")
    // over-cap membership checks (anti for the tail, inner for the head)
    // are broadcasts of the tiny over-cap source set — the corpus itself
    // must never shuffle for the membership decision
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"tail anti + head inner + kept-flag join must all broadcast:\n$p")
    assert("Window \\[".r.findAllIn(p).length === 2,
      "two-phase salted top-N: salt-bucket window + survivor re-rank")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle for membership:\n$p")
  }

  test("emb_random_projection / text_classifier_score: map-only compute") {
    // both are narrow per-row scoring passes: the only exchange allowed
    // is the output ORDER BY's range repartition
    for (q <- Seq("emb_random_projection", "text_classifier_score")) {
      val p = plan(q)
      // sparkPlan is pre-EnsureRequirements: any Exchange HERE would be an
      // explicit repartition the operator has no business doing (the output
      // ORDER BY's range exchange is inserted later and is fine)
      assert(!p.contains("Exchange"), s"$q must not repartition:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(!p.contains("Aggregate"), s"$q must stay per-row narrow:\n$p")
    }
  }

  test("text_boilerplate: segment frequency is partial-aggregated") {
    val p = plan("text_boilerplate")
    // corpus-frequency count over (seg) and the per-doc reassembly are
    // both agg-shaped; boilerplate segments are exactly the high-fan-in
    // keys map-side partial aggregation must absorb before the exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"segment count needs map-side partials:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"verdict join must be key-based:\n$p")
  }

  test("text_substring_dedup: the shared-gram verdict join broadcasts") {
    val p = plan("text_substring_dedup")
    // the shared-gram set is duplicate content only (broadcast-class at
    // any scale); the full gram stream must meet it via broadcast, never
    // by shuffling itself a second time on the gram key
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("gram")),
      s"shared-gram join must broadcast:\n$p")
  }

  test("sample_mixture_epochs: the remainder prefix sum is bucket-" +
      "partitioned per source") {
    val p = plan("sample_mixture_epochs")
    // the per-document running sum must carry a partition spec with the
    // hash bucket — an unpartitioned (or source-only) window would pull
    // a mega-source through one task
    val docWindow = p.linesIterator
      .find(l => l.contains("Window [") && l.contains("doc_id"))
      .getOrElse(fail(s"no per-document window in:\n$p"))
    assert(docWindow.contains("_b#"),
      s"remainder prefix sum must partition by (source, hash bucket):\n$docWindow")
  }

  test("mm dedup family: canonicalization is a partial-aggregated keeper " +
      "join, never a window (a window-min ships every group member to one " +
      "reducer — single-task skew on huge dup groups, and a stage capped " +
      "at #distinct-fingerprints tasks)") {
    for (q <- Seq("mm_image_dedup", "mm_audio_dedup", "mm_video_dedup",
        "dedup_canonical")) {
      val p = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.sparkPlan.toString
      assert(!p.contains("windowspecdefinition("),
        s"$q must not canonicalize through a window:\n$p")
      assert(p.contains("partial_min"),
        s"$q keeper agg must map-side combine:\n$p")
      assert(p.contains("Join") && (p.contains("ahash") ||
          p.contains("fingerprint") || p.contains("content_hash")),
        s"$q must join keepers back on the hash key:\n$p")
    }
  }

  test("text_train_grad0: both gradient shuffles are partial-aggregated") {
    val p = plan("text_train_grad0")
    // per-doc activation agg and per-bucket gradient agg must both
    // map-side combine — the bucket key is bounded (<= 1024 groups per
    // task), so the gradient exchange payload is tasks x buckets, never
    // corpus-sized
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"gradient needs partial aggs on both shuffles:\n$p")
    assert(!p.contains("CartesianProduct"), s"residual join must be keyed:\n$p")
  }

  test("wh_zonemap_prune: scan touches only zone-map-surviving partitions") {
    val df = SparkEntry.queries("wh_zonemap_prune")(spark, sf0001)
    // keys 1000..5000 live in okey_range 0 and 1 (div 4096): every other
    // partition must be pruned from the MANIFEST, before file listing
    val files = df.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f =>
      f.contains("okey_range=0") || f.contains("okey_range=1")),
      s"zone maps failed to prune: ${files.toSeq}")
  }

  test("sample_token_budget: the full-data window is bucket-partitioned") {
    val p = plan("sample_token_budget")
    // the per-document running sum (orders by act_milli, doc_id) must
    // carry a partition spec — an unpartitioned window here would move
    // the whole corpus through one task
    val docWindow = p.linesIterator
      .find(l => l.contains("Window [") && l.contains("doc_id"))
      .getOrElse(fail(s"no per-document window in:\n$p"))
    assert(docWindow.contains("], [_b#"),
      s"per-document window must partition by the score bucket:\n$docWindow")
    // the only unpartitioned window runs over the bucket-totals
    // aggregate (a ≤ few-hundred-row frame), which is partial-aggregated
    assert(p.contains("partial_sum"), "bucket totals need map-side combine")
  }

  test("text_dsir_select: scoring is map-only against a dense array literal") {
    val p = plan("text_dsir_select")
    // the learned log-ratio table must enter as a literal (no join on
    // the bucket key), leaving ONE broadcast join: the top-k flag
    assert(!p.contains("SortMergeJoin"),
      "DSIR scoring must not shuffle the corpus against the model")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 1,
      s"expected exactly the top-k flag join in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "selection must plan as per-partition top-k, not a global sort")
    assert(p.contains("element_at"), "scoring must index the literal array")
  }

  test("dedup_exact_hash: shuffle carries hashes, not documents") {
    // formatted mode lists nodes bottom-up: the sha2 projection and the
    // partial aggregate must precede the exchange
    val p = SparkEntry.queries("dedup_exact_hash")(spark, sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sha2Idx = p.indexOf("sha2")
    val partialIdx = p.indexOf("partial_min")
    val exchangeIdx = p.indexOf("hashpartitioning(content_hash")
    assert(sha2Idx >= 0 && partialIdx >= 0 && exchangeIdx >= 0, s"plan:\n$p")
    assert(sha2Idx < exchangeIdx && partialIdx < exchangeIdx,
      "content hash and partial agg must be computed pre-shuffle")
  }

  test("readMerged: the delete-vector subtract is a broadcast anti-join") {
    import org.apache.spark.sql.functions._
    import graft.etl.{AtomicTable, MergeInto}
    val dir = java.nio.file.Files.createTempDirectory("graft-dvplan").toString
    import spark.implicits._
    AtomicTable.replacePartitions(spark,
      dir, Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "p"), "p")
    MergeInto.deleteKeysMor(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType))),
      Seq((1L, "a")).toDF("id", "p"), Seq("id"), "p")
    val p = MergeInto.readMerged(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType))))
      .queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the vector side must broadcast — the data side never moves:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "a 100 TB data side must not shuffle to subtract a small vector")
  }
}
