package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * tokenization, quality scoring, language-ID heuristic, and document
  * fingerprinting. All are per-row narrow transformations (no shuffle), so
  * they scale linearly and stay inside whole-stage codegen; helpers are
  * built from `org.apache.spark.sql.functions` plus the codegen'd
  * expressions in `graft.functions.TextExprs` (which replaced the
  * interpreted higher-order-function forms) — never UDFs.
  */
object TextStats {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Deterministic per-language stopword sets for the lang-ID heuristic.
    * Order matters: ties resolve to the first language in this list. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "las", "y", "un", "una"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** The one-pass signals array (graft.functions.TextExprs.TextSignals)
    * over the `text` column — the codegen'd substrate for quality/langid/
    * gopher/funnel (their composed-built-in forms pay an interpreted
    * higher-order-function step per token). */
  private def signals: Column =
    graft.functions.TextExprs.textSignals(col("text"), langStopwords.map(_._2))

  /** Rows passing the shared Gopher keep-gate — the composable filter
    * form of [[gopherQuality]] for pipelines (e.g. the streaming curated
    * ingest) that need the gate itself rather than the signal report.
    * Same single source of thresholds, so it cannot drift. */
  def qualityKeep(docs: DataFrame): DataFrame =
    docs.filter(gopherSignalsFrom(signals).keep)

  /** BPE-style pre-tokenization pattern (GPT-2-shaped, simplified to the
    * character classes present in the corpus): contractions, space-glued
    * word pieces, number runs, punctuation runs. Subword merges happen
    * downstream in a real BPE; this is the deterministic pre-tokenizer
    * whose match count approximates token counts for budgeting. */
  val bpeIshPattern = "'[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Token counting both ways: whitespace tokens and BPE-ish regex
    * pieces. */
  def bpeTokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("bigint").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0)))
        .cast("bigint").as("bpe_tokens"))

  /** doc_id + token/char counts. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("n_chars"),
      length(col("text")).as("len_chars"),
      size(tokens(col("text"))).cast("bigint").as("n_tokens"))

  /** Quality scoring: ratios a filtering pipeline would threshold on.
    * Everything is per-row double math — deterministic and identical in
    * any engine evaluating the same IEEE expressions. */
  def quality(docs: DataFrame): DataFrame = {
    import graft.functions.TextExprs._
    val sig = signals
    val nTokens = element_at(sig, NTokens).cast("double")
    val nChars = length(col("text")).cast("double")
    docs.select(
      col("doc_id"),
      element_at(sig, NTokens).as("n_tokens"),
      round(element_at(sig, NonSpaceChars).cast("double") / nTokens, 6)
        .as("avg_token_len"),
      round(element_at(sig, PunctChars).cast("double") / nChars, 6)
        .as("punct_ratio"),
      round(element_at(sig, AnyStopTokens).cast("double") / nTokens, 6)
        .as("stopword_ratio"))
  }

  /** Language-ID heuristic: per-language stopword hit counts, argmax with
    * ties resolved by registry order, no hits at all → "und". */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.withColumn("_sig", signals)
    def hitCol(i: Int): Column =
      element_at(col("_sig"), graft.functions.TextExprs.LangBase + i)
    val best = greatest(langStopwords.indices.map(hitCol): _*)
    // foldRight keeps registry priority: when(en)...otherwise(when(de)...)
    val pred = langStopwords.zipWithIndex.foldRight(lit("und")) {
      case (((lang, _), i), elseExpr) =>
        when(hitCol(i) === best && best > 0, lit(lang)).otherwise(elseExpr)
    }
    scored.select(
      col("doc_id"), col("lang").as("declared_lang"),
      pred.as("predicted_lang"))
  }

  /** Gopher-style quality filter bundle (Rae et al. 2021, §A1.1 adapted to
    * this corpus: no newlines, latin+zh tokens): per-document boolean
    * signals a filtering pipeline thresholds on, plus the combined `keep`.
    * All signals are narrow per-row array math — no shuffle, linear scale.
    */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val sig = gopherSignalsFrom(signals)
    docs.select(
      col("doc_id"),
      sig.nTokens.as("n_tokens"),
      round(sig.meanLen, 6).as("mean_token_len"),
      round(sig.alphaFrac, 6).as("alpha_frac"),
      sig.distinctStops.as("distinct_stopwords"),
      sig.keep.as("keep"))
  }

  /** Gopher keep-gate signals over a [[signals]] array — the SINGLE
    * source of the thresholds, shared by [[gopherQuality]] and
    * [[curationFunnel]] so the funnel's stage counts cannot drift from
    * the standalone filter when thresholds change. */
  private[ops] final case class GopherSignals(
      nTokens: Column, meanLen: Column, alphaFrac: Column, distinctStops: Column) {
    def keep: Column =
      nTokens.between(10, 100000) && meanLen.between(2.0, 12.0) &&
        alphaFrac >= 0.8 && distinctStops >= 2
  }

  private[ops] def gopherSignalsFrom(sig: Column): GopherSignals = {
    import graft.functions.TextExprs._
    val nTokens = element_at(sig, NTokens)
    GopherSignals(
      nTokens,
      // mean characters per token (non-space chars / tokens)
      element_at(sig, NonSpaceChars).cast("double") / nTokens.cast("double"),
      // fraction of tokens containing at least one alphabetic character
      element_at(sig, AlphaTokCount).cast("double") / nTokens.cast("double"),
      // registry entries present in the token set (duplicates across
      // language lists counted per entry) — Gopher requires >= 2
      element_at(sig, RegistryStops))
  }

  /** True when any language's stopword list hits — [[langId]]'s
    * "predicted != und" condition, shared with [[curationFunnel]]. */
  private[ops] def langIdentifiedFrom(sig: Column): Column =
    greatest(langStopwords.indices.map(i =>
      element_at(sig, graft.functions.TextExprs.LangBase + i)): _*) > 0

  /** Per-source dataset report card — the statistics table a
    * training-data team publishes with a corpus release: document and
    * token counts, quality-gate pass counts, language-identification
    * coverage. One narrow pass over the shared [[signals]] array + one
    * small aggregate keyed on source; all-integer output (hash-stable on
    * any engine). The quality gate is the SAME gopher keep used by
    * [[gopherQuality]]/[[curationFunnel]], so the card cannot drift from
    * the filters it reports on. */
  def reportCard(docs: DataFrame): DataFrame = {
    import graft.functions.TextExprs._
    val sigged = docs.select(col("source"), signals.as("_sig"))
    sigged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(element_at(col("_sig"), NTokens)).as("total_tokens"),
        count(when(gopherSignalsFrom(col("_sig")).keep, 1)).as("quality_keep"),
        count(when(element_at(col("_sig"), AnyStopTokens) > 0, 1))
          .as("lang_identified"))
      .orderBy("source")
  }

  /** Repetition signals (the Gopher duplicate-content family): duplicate
    * token fraction and duplicate 2-gram fraction from per-row array
    * distinct counts (narrow, codegen), plus the most-frequent-token share
    * (one shuffle on doc_id over exploded tokens — at corpus scale the
    * partial count aggregate absorbs the fan-in before the exchange). */
  def repetition(docs: DataFrame): DataFrame = {
    val toksed = docs.select(col("doc_id"), tokens(col("text")).as("_toks"))
    val n = size(col("_toks"))
    val grams = graft.functions.TextExprs.wordBigrams(col("_toks"))
    val narrow = toksed.select(
      col("doc_id"),
      n.cast("bigint").as("n_tokens"),
      size(array_distinct(col("_toks"))).cast("bigint").as("n_distinct"),
      (n - 1).cast("bigint").as("n_2grams"),
      size(array_distinct(grams)).cast("bigint").as("n_distinct_2grams"))
    val topTok = toksed
      .select(col("doc_id"), explode(col("_toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max(col("cnt")).as("top_tok_cnt"))
    narrow.join(topTok, "doc_id").select(
      col("doc_id"),
      round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
        .as("dup_token_ratio"),
      round(col("top_tok_cnt").cast("double") / col("n_tokens"), 6)
        .as("top_token_ratio"),
      when(col("n_2grams") > 0,
        round(lit(1.0) - col("n_distinct_2grams").cast("double") / col("n_2grams"), 6))
        .otherwise(lit(0.0)).as("dup_2gram_ratio"))
  }

  /** PII patterns shared by the scrubber and its oracle — kept inside the
    * RE2/Java-regex common subset (no lookaround, no backreferences) so
    * the identical pattern strings run in both engines. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrub: replace emails and IPv4 addresses with typed redaction
    * tokens and count the hits. The corpus is synthetic and PII-free, so
    * the pipeline first stamps deterministic PII derived from doc_id into
    * the text (both engines build the same string), then proves the
    * scrubber removes everything it stamped. Narrow per-row regex —
    * no shuffle. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val stamped = concat(
      col("text"), lit(" contact user"), id, lit("@example.com"),
      lit(" or admin"), id, lit("@mail.test.org"),
      lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".17"))
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(stamped, lit(emailPattern), lit(0)))
        .cast("bigint").as("n_emails"),
      size(regexp_extract_all(stamped, lit(ipv4Pattern), lit(0)))
        .cast("bigint").as("n_ips"),
      sha2(regexp_replace(regexp_replace(stamped, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"), 256).as("scrubbed_sha"))
  }

  /** TF-IDF top terms: the corpus-statistics aggregate a curation pipeline
    * uses for topic/keyword profiling. Two shuffles — term counts by
    * (doc, term), document frequency by term — then a per-doc top-3 by
    * (tf desc, rarer-first, term) via row_number. The rank key is
    * integer-only (counts, not the float score) so ordering is identical
    * across engines; the float tfidf rides along rounded. */
  def tfidfTop(docs: DataFrame, k: Int = 3): DataFrame = {
    val (tf, docTokens, df, nDocs) = termStats(docs)
    val scored = tf.join(df, "term").join(docTokens, "doc_id").crossJoin(nDocs)
      .withColumn("tfidf",
        round((col("cnt").cast("double") / col("doc_tokens")) *
          log((col("n_docs") + 1.0) / (col("df").cast("double") + 1.0)), 6))
    topTerms(scored, "tfidf", k)
  }

  /** The term-statistics substrate shared by [[tfidfTop]] and [[bm25Top]]:
    * per-(doc, term) counts, per-doc token totals, document frequency, and
    * the broadcast document count — two shuffles total (by (doc, term) and
    * by term), both partial-aggregated. One source so the two rankers
    * cannot drift in tokenization or counting. */
  private def termStats(docs: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // The explicit isNotNull below never drops a row (doc_id is a key) but
    // makes every consumer's tokenize subtree canonically IDENTICAL: the
    // downstream joins push isnotnull(doc_id) into only SOME branches, and
    // that one-filter difference defeated AQE exchange reuse — the corpus
    // was tokenized 3x per query (measured in the final plan; see
    // OPTIMIZATION_r14.md). With the filter stated once at the source, the
    // (doc_id, term) exchange plans once and df/docTokens/avgdl all read
    // the ReusedExchange.
    val words = docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExprs.alphaTokens(col("text")).as("_toks"))
      .select(col("doc_id"), explode(col("_toks")).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val docTokens = tf.groupBy("doc_id").agg(sum("cnt").as("doc_tokens"))
    // The cnt >= 1 filter is a no-op (cnt is count(1), always ≥ 1) but it
    // REFERENCES cnt, so the optimizer cannot prune tf's count out of this
    // branch's copy of the subtree — pruning it turned the branch into a
    // distinct-(doc_id,term) aggregate that no longer canonically matched
    // tf's exchange, forcing a second corpus tokenize. (count(col("cnt"))
    // does not work: non-nullable count normalizes back to count(1) and
    // prunes again.) With the reference in place the (doc_id, term)
    // exchange plans once and df reads the ReusedExchange.
    val df = tf.filter(col("cnt") >= 1L)
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = broadcast(docs.select(
      countDistinct("doc_id").cast("double").as("n_docs")))
    (tf, docTokens, df, nDocs)
  }

  /** Per-doc top-k terms by the integer-only rank key (tf desc,
    * rarer-first, term) — the float score rides along for display but
    * never orders, so ranking is identical across engines. */
  private def topTerms(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("df").asc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("bigint").as("rank"),
        col("term"), col(scoreCol))
  }

  /** BM25 (Robertson/Sparck Jones, the Okapi formulation with the
    * +1-inside-the-log idf so scores stay positive) top terms per
    * document — the retrieval-grade relevance score a curation pipeline
    * uses for query-based corpus filtering. Same two-shuffle plan as
    * [[tfidfTop]] over the shared [[termStats]], plus one broadcast
    * scalar (average document length). Ranking is the same integer-only
    * key; the float bm25 value rides along rounded. */
  def bm25Top(docs: DataFrame, k: Int = 3, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (tf, docTokens, df, nDocs) = termStats(docs)
    val avgdl = broadcast(docTokens.agg(
      (sum("doc_tokens").cast("double") / count(lit(1))).as("avgdl")))
    val scored = tf.join(df, "term").join(docTokens, "doc_id")
      .crossJoin(nDocs).crossJoin(avgdl)
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("bm25",
        round(col("idf") * (col("cnt") * lit(k1 + 1.0)) /
          (col("cnt") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("doc_tokens").cast("double") / col("avgdl"))), 6))
    topTerms(scored, "bm25", k)
  }

  /** Benchmark decontamination — flag training documents that share any
    * word `w`-gram with the held-out evaluation set (the standard
    * n-gram-overlap contamination check run before training). The eval
    * set here is the deterministic `doc_id % evalMod == 0` slice; a fixed
    * marker phrase is stamped into every eval doc AND into training docs
    * with `doc_id % plantMod == 0`, so the check provably fires (the
    * corpus is synthetic — natural overlap may be empty) while still
    * counting any natural n-gram collisions.
    *
    * Scale shape: the eval-side gram set is tiny relative to the corpus
    * (benchmarks are megabytes against terabytes) and is BROADCAST, so
    * the training corpus is never shuffled by gram — one narrow pass
    * builds grams (custom expression, see HashExprs.WordNgrams), the
    * broadcast hash join filters them, and the per-doc hit count is a
    * partial-aggregated groupBy on doc_id. At extreme eval sizes the
    * broadcast becomes a bloom-filter prefilter + shuffle join on the
    * survivors; the operator shape is otherwise identical. */
  def contamination(docs: DataFrame, evalMod: Int = 97, plantMod: Int = 31,
      w: Int = 8): DataFrame =
    contaminationImpl(docs, evalMod, plantMod, w, bloomPrefilter = false)

  /** The extreme-eval-size variant the [[contamination]] scaladoc
    * promises: a bloom bitmap of the eval grams pre-filters the training
    * gram stream MAP-SIDE (pure column arithmetic, before any
    * shuffle/join work), and the exact gram join then runs over the few
    * survivors only — false positives die there, so the result is
    * bit-identical to [[contamination]] and shares its oracle. At 100 TB
    * this changes the dominant term from |corpus grams| join-probe work
    * to |corpus grams| hash-and-mask work plus |survivors| join work. */
  def contaminationBloom(docs: DataFrame, evalMod: Int = 97, plantMod: Int = 31,
      w: Int = 8): DataFrame =
    contaminationImpl(docs, evalMod, plantMod, w, bloomPrefilter = true)

  private def contaminationImpl(docs: DataFrame, evalMod: Int, plantMod: Int,
      w: Int, bloomPrefilter: Boolean): DataFrame = {
    val marker = " alpha bravo charlie delta echo foxtrot golf hotel"
    val stamped = docs.select(col("doc_id"),
      when(col("doc_id") % evalMod === 0 || col("doc_id") % plantMod === 0,
        concat(col("text"), lit(marker))).otherwise(col("text")).as("text"))
    def gramsOf(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(graft.functions.HashExprs.wordNgrams(col("text"), w)).as("gram"))
    val evalGramsBase = gramsOf(stamped.where(col("doc_id") % evalMod === 0))
      .select("gram").distinct()
    // bloom mode materializes the eval grams once: the bloom build and the
    // exact verify join otherwise each recompute the explode
    val evalGrams =
      if (bloomPrefilter) evalGramsBase.localCheckpoint(true) else evalGramsBase
    val trainGramsAll = gramsOf(stamped.where(col("doc_id") % evalMod =!= 0))
    val trainGrams =
      if (!bloomPrefilter) trainGramsAll
      else {
        val words = BloomPrune.collectBloom(evalGrams, "gram", 1 << 20, 5)
        trainGramsAll.where(BloomPrune.mightContain(
          typedlit(words.toSeq), col("gram"), 1 << 20, 5))
      }
    val hits = trainGrams.join(broadcast(evalGrams), "gram")
      .groupBy("doc_id").agg(countDistinct("gram").as("n_hits"))
    docs.where(col("doc_id") % evalMod =!= 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** End-to-end curation funnel — the composition a training-data pipeline
    * actually runs, with the per-stage survivor counts an operator report
    * shows: total → Gopher quality keep → language identified → exact
    * dedup canonical-only → deterministic 10% sample. Each stage filters
    * the previous stage's survivors, so the counts are a true funnel.
    *
    * Scale notes: the quality and lang-ID stages are narrow per-row math
    * joined back on doc_id (co-partitioned, no extra exchange after the
    * first); the dedup stage is one shuffle on the 32-byte content hash;
    * the counts are partial-aggregated scalars. A production run would
    * materialize each stage's survivors instead of counting — the plan
    * shape is identical. */
  def curationFunnel(docs: DataFrame): DataFrame = {
    // All per-row signals from ONE TextSignals array per document: the
    // original form computed each stage as a separate count over chained
    // doc_id joins (re-running the projections up to 4x, 3 exchanges);
    // stages 1-3 are conditional counts in a single narrow aggregate
    // (one corpus scan, zero joins) over the shared codegen'd signals,
    // and stages 4-5 are a second aggregate over the dedup window (the
    // one unavoidable shuffle — on the survivors only).
    val sigged = docs.select(col("doc_id"), col("text"),
      signals.as("_sig"))
    val keep = gopherSignalsFrom(col("_sig")).keep
    val flagged = sigged.select(col("doc_id"), col("text"),
      keep.as("_keep"), (keep && langIdentifiedFrom(col("_sig"))).as("_lang"))

    val firstCounts = flagged.agg(
      count(lit(1)).as("total"),
      count(when(col("_keep"), 1)).as("quality_keep"),
      count(when(col("_lang"), 1)).as("lang_identified"))
    val survivors = Dedup.canonicalize(
      flagged.where(col("_lang")).select("doc_id", "text"))
      .where(!col("is_dup"))
    val lastCounts = survivors.agg(
      count(lit(1)).as("exact_dedup"),
      count(when(pmod(col("doc_id"), lit(10)) === 0, 1)).as("sample_10pct"))

    firstCounts.crossJoin(lastCounts).select(explode(array(
      struct(lit(1L).as("stage_id"), lit("total").as("stage"),
        col("total").as("n_docs")),
      struct(lit(2L).as("stage_id"), lit("quality_keep").as("stage"),
        col("quality_keep").as("n_docs")),
      struct(lit(3L).as("stage_id"), lit("lang_identified").as("stage"),
        col("lang_identified").as("n_docs")),
      struct(lit(4L).as("stage_id"), lit("exact_dedup").as("stage"),
        col("exact_dedup").as("n_docs")),
      struct(lit(5L).as("stage_id"), lit("sample_10pct").as("stage"),
        col("sample_10pct").as("n_docs")))).as("s"))
      .select(col("s.stage_id"), col("s.stage"), col("s.n_docs"))
  }

  /** Corpus bigram language-model scoring — the perplexity-style quality
    * signal a training-data pipeline uses to rank documents (fluent text
    * scores low, gibberish high). Two passes over the corpus:
    *
    *  1. Model: bigram counts c12 aggregated corpus-wide (shuffle keyed on
    *     the gram string; partial aggregation absorbs the per-doc fan-in
    *     before the exchange), prefix counts c1 derived from the model,
    *     vocabulary size V as a broadcast scalar.
    *  2. Score: the Laplace-smoothed probability p = (c12+1)/(c1+V) is
    *     composed model-side first into a distinct-gram-sized
    *     (gram, p) table, then the per-doc bigram counts join it ONCE on
    *     the gram key (the same key their own build aggregate shuffled
    *     on), and the per-doc average probability lands in integer
    *     micro-units. The corpus-sized table crosses exactly one
    *     exchange end-to-end.
    *
    * Cross-engine determinism: each bigram is scored on the smoothed
    * PROBABILITY itself, quantized to integer micro-units
    * (round(p*1e6)) and summed as a BIGINT — integer summation is
    * order-independent, and p = (c12+1)/(c1+V) is a single IEEE division
    * of exact integer-valued operands, bit-identical in any engine. (A
    * previous -ln(p) variant hash-failed the DuckDB oracle: ln differs by
    * an ulp between engines, which flips the micro-unit rounding when
    * -ln(p)*1e6 straddles a boundary — near-certain over 1e5 bigram
    * evaluations. Probability space has no transcendental call, so no
    * straddle. Fluent/formulaic text now scores HIGH, gibberish LOW.)
    * Docs with fewer than two alphabetic tokens are excluded (they have
    * no bigrams). */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      graft.functions.TextExprs.alphaTokens(col("text")).as("toks"))
    val n = size(col("toks"))
    val grams = base.where(n >= 2).select(col("doc_id"),
      explode(graft.functions.TextExprs.wordBigrams(col("toks"))).as("gram"))
    // persist the per-doc bigram counts: model, prefix AND the probe side
    // all derive from this one table — without the persist each rebuilds
    // the tokenize+explode from the parquet scan (4 corpus scans; measured
    // ~2x the query). MEMORY_AND_DISK so a 100 TB run spills rather than
    // recomputes; the harness releases it via clearCache after the query.
    val docBg = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = docBg.groupBy("gram").agg(sum("cnt").as("c12"))
    val prefix = model
      .groupBy(substring_index(col("gram"), " ", 1).as("w1"))
      .agg(sum("c12").as("c1"))
    val vocab = broadcast(base.select(explode(col("toks")).as("tok"))
      .agg(countDistinct("tok").cast("double").as("v")))
    val pMicro = round((col("c12") + lit(1.0)) / (col("c1") + col("v"))
      * lit(1000000.0), 0).cast("long")
    // Compose the per-gram probability FIRST, entirely on the model side:
    // model JOIN prefix JOIN vocab is distinct-gram-sized (the n-gram
    // vocabulary saturates sublinearly in corpus size), so those shuffles
    // are cheap. The corpus-sized docBg table then joins ONCE, on `gram` —
    // the same key its own build aggregate shuffled on. The previous shape
    // joined docBg to the model on `gram` and then re-shuffled the
    // already-joined doc-level rows AGAIN on the derived `w1` key: two
    // full-corpus exchanges instead of one (measured 3.9x for 2x data at
    // the 1000x scale point; see BASELINE.md). The computed-column select
    // below also blocks Catalyst's inner-join flattening from re-deriving
    // the old left-deep order. Zipf-skewed head grams (" the "-class keys)
    // concentrate one shuffle partition; AQE's skew-join split (enabled in
    // Bench/Verify sessions) re-balances that at runtime without inflating
    // the model side the way a static salt would.
    val gramP = model
      .join(prefix, substring_index(col("gram"), " ", 1) === col("w1"))
      .crossJoin(vocab)
      .select(col("gram"), pMicro.as("p_gram_micro"))
    docBg.join(gramP, "gram")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        sum(col("cnt") * col("p_gram_micro")).as("p_micro"))
      // integer micro-units end to end: a trailing float division would
      // reintroduce engine-specific double rounding at the output edge
      .select(col("doc_id"), col("n_bigrams"),
        expr("p_micro div n_bigrams").as("avg_p_micro"))
  }

  /** Hashed linear quality-classifier INFERENCE — the fastText-shaped
    * scoring pass a curation pipeline runs with a trained
    * quality/toxicity model (score every document, threshold downstream).
    * The model here is a deterministic stand-in (the multimodal-stub
    * policy: weights derive from an integer LCG on the feature bucket,
    * not from training — no training corpus ships in this environment),
    * but the inference shape is real and the one that matters at 100 TB:
    * token → hash bucket → weight lookup → per-document accumulate, all
    * narrow per-row arithmetic with NO weight-table join or shuffle (the
    * weight "table" is a pure function; a real model would broadcast its
    * weight array and index it the same way).
    *
    * Engine-exact by construction: the token code is [[fingerprint]]'s
    * proven cross-engine primitive, weights are integer milli-units in
    * [-1000, 1000], and the per-doc activation is a BIGINT sum —
    * order-independent, no float anywhere. */
  def classifierScore(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val toks = tokens(col("text"))
    // token code -> bucket -> integer milli-weight in [-1000, 1000]
    val acts = transform(toks, { t =>
      val bucket = pmod(ascii(t).cast("bigint") * 31 + length(t), lit(buckets))
      pmod(shiftright(lit(1103515245L) * bucket + 12345L, 16), lit(2001)) - 1000
    })
    docs.select(
      col("doc_id"),
      size(toks).cast("bigint").as("n_tokens"),
      aggregate(acts, lit(0L), (acc, x) => acc + x).as("act_milli"))
      .withColumn("predicted_keep", col("act_milli") > 0)
  }

  /** Document fingerprint: polynomial rolling hash over per-token codes,
    * mod 2^31-1. Token code and fold are expressible identically in any
    * SQL engine with list folds (cross-engine verifiable, unlike
    * murmur/xxhash which are engine-specific). */
  def fingerprint(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val codes = transform(toks, t =>
      (ascii(t).cast("bigint") * 31 + length(t).cast("bigint")))
    val fp = aggregate(codes, lit(0L),
      (acc, c) => pmod(acc * 1000003L + c, lit(2147483647L)))
    docs.select(col("doc_id"), fp.as("fingerprint"))
  }
}
