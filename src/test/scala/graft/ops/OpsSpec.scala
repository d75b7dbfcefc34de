package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class OpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "en"), // near dup of 1
    (4L, "der schnelle braune fuchs und der faule hund ist da", "de"),
    (5L, "completely different words entirely unrelated content here now", "en"))
    .toDF("doc_id", "text", "lang")
    .withColumn("n_chars", length($"text").cast("long"))

  test("exact dedup groups identical texts") {
    val groups = Dedup.exactGroups(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) === 2L) // docs 1+2 collapse, representative is min id
    assert(groups(3L) === 1L)
  }

  test("exact hash dedup normalizes whitespace/case") {
    val messy = Seq((10L, "Hello  World"), (11L, "hello world "))
      .toDF("doc_id", "text")
    val groups = Dedup.exactHashGroups(messy).collect()
    assert(groups.length === 1 && groups.head.getLong(2) === 2L)
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup always found
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L }) // unrelated never
  }

  test("simhash of identical docs is identical; hamming pairs found") {
    val sims = Dedup.simhashes(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) === sims(2L))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("jaccard is 1 for identical shingle sets, 0 for disjoint") {
    val df = Seq((Seq("a b c"), Seq("a b c"), Seq("x y z")))
      .toDF("s1", "s2", "s3")
    val r = df.select(
      Dedup.jaccard($"s1", $"s2").as("same"),
      Dedup.jaccard($"s1", $"s3").as("diff")).collect().head
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 0.0)
  }

  test("cosine similarity: identical vectors score 1, orthogonal 0") {
    val df = Seq((Seq(1f, 0f), Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine($"a", $"b").as("same"),
      Similarity.cosine($"a", $"c").as("ortho")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute-force top-k ranks the nearest vector first") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f), 0),
      (2L, Seq(0f, 1f, 0f), 1),
      (3L, Seq(0f, 0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb.filter($"vec_id" === 0), emb, k = 2)
      .collect()
    assert(top.head.getLong(2) === 1L) // rank 1 = the nearest neighbor
    assert(top.length === 2)
  }

  test("semanticDecontam flags near-eval vectors, spares unrelated ones") {
    val eval = Seq(
      (100L, Seq(1f, 0f, 0f), 0),
      (101L, Seq(0f, 0f, 1f), 1)).toDF("vec_id", "embedding", "label")
    val train = Seq(
      (1L, Seq(0.99f, 0.05f, 0f), 0), // paraphrase-close to eval 100
      (2L, Seq(0f, 1f, 0f), 1),       // orthogonal to both eval vectors
      (100L, Seq(1f, 0f, 0f), 0))     // eval 100 itself (self-pair)
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDecontam(train, eval, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && !out(2L))
    // the self-pair is excluded by id, and eval 100 is orthogonal to the
    // OTHER eval vector — an eval member in the corpus must not flag
    // itself through its own twin row
    assert(!out(100L))
  }

  test("rp-lsh ANN retrieves a planted duplicate at rank 1") {
    val rng = new scala.util.Random(11)
    val base = (0 until 20).map { i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat), 0)
    }
    // plant exact duplicates of vectors 0 and 1 at ids 100, 101
    val corpus = (base ++ Seq(
      (100L, base(0)._2, 0), (101L, base(1)._2, 0)))
      .toDF("vec_id", "embedding", "label")
    val queries = corpus.filter($"vec_id" < 2)
    val top = Similarity.rpLshTopK(queries, corpus, k = 3).collect()
    val rank1 = top.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rank1(0L) === 100L) // identical vector collides in every band
    assert(rank1(1L) === 101L)
  }

  test("pq: codes are one-per-subspace, ADC shortlist + re-rank finds a planted dup") {
    val rng = new scala.util.Random(13)
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat), i % 4)
    }
    val corpus = (base ++ Seq((100L, base(0)._2, 0), (101L, base(1)._2, 1)))
      .toDF("vec_id", "embedding", "label")

    val books = Similarity.pqCodebooks(corpus, iters = 2)
    val bk = books.collect()
    assert(bk.nonEmpty)
    assert(bk.forall(_.getSeq[Double](2).length === Similarity.PqSubDim))
    // encode: exactly PqM codes per vector, codes within the codebook
    val codes = Similarity.pqEncode(corpus, books)
    val perVec = codes.groupBy("vec_id").count().collect()
    assert(perVec.forall(_.getLong(1) === Similarity.PqM.toLong))
    // search: the exact duplicate survives quantization and re-ranks to #1
    val queries = corpus.filter($"vec_id" < 2)
    val top = Similarity.pqTopK(queries, corpus, k = 3).collect()
    val rank1 = top.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rank1(0L) === 100L)
    assert(rank1(1L) === 101L)
  }

  test("int8 quantization: codes bounded, roundtrip error within one step") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = Similarity.quantizeInt8(emb)
    val joined = q.join(emb, "vec_id").select(
      expr("aggregate(qvec, 0, (m, c) -> greatest(m, abs(c)))").as("max_code"),
      expr("""aggregate(zip_with(qvec, embedding,
        (c, x) -> abs(c * scale - cast(x as double))), cast(0.0 as double),
        (m, e) -> greatest(m, e))""").as("max_err"),
      col("scale"))
    val rows = joined.collect()
    assert(rows.forall(_.getInt(0) <= 127))
    assert(rows.exists(_.getInt(0) === 127)) // scale anchored to max|x|
    // dequantization error is at most half a quantization step
    assert(rows.forall(r => r.getDouble(1) <= r.getDouble(2) * 0.5 + 1e-12))
  }

  test("l2 normalize produces unit vectors") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val norms = Similarity.l2Normalize(emb)
      .select(expr(
        "aggregate(unit, cast(0.0 as double), (a, x) -> a + x * x)").as("ss"))
      .collect()
    assert(norms.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-6))
  }

  test("recallAtK: exact-vs-exact is 1.0; disjoint ANN is 0.0") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val bf = Similarity.bruteForceTopK(queries, emb, k = 5)
    val self = Similarity.recallAtK(bf, bf, minRecall = 0.99).collect()
    assert(self.nonEmpty && self.forall(r => r.getDouble(1) === 1.0 && r.getBoolean(2)))
    val shifted = bf.withColumn("neighbor_id", $"neighbor_id" + 7777777L)
    val none = Similarity.recallAtK(shifted, bf, minRecall = 0.1).collect()
    assert(none.forall(r => r.getDouble(1) === 0.0 && !r.getBoolean(2)))
  }

  test("driver recall queries find every planted near-dup (oracle is constant-true)") {
    for (name <- Seq("sim_ivf_recall", "sim_rplsh_recall", "sim_neardup_lsh",
        "dedup_minhash_planted", "dedup_simhash_planted")) {
      val rows = graft.SparkEntry.queries(name)(spark, sf0001).collect()
      assert(rows.nonEmpty, name)
      assert(rows.forall(_.getBoolean(1)), s"$name missed a planted near-dup")
    }
  }

  test("langId predicts the language whose stopwords dominate") {
    val out = TextStats.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) === "en")
    assert(out(4L) === "de")
  }

  test("fingerprint is deterministic and order-sensitive") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("doc_id", "text")
    val fps = TextStats.fingerprint(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("gopher quality keeps normal prose, drops short and non-alpha docs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then the fox sleeps"),
      (2L, "too short"),
      (3L, "the 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 and more of it"))
      .toDF("doc_id", "text")
    val out = TextStats.gopherQuality(df).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out(1L))     // prose: enough tokens, alpha, stopwords
    assert(!out(2L))    // < 10 tokens
    assert(!out(3L))    // alpha fraction below 0.8
  }

  test("repetition signals separate repetitive from diverse text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam ham"),
      (2L, "each word here appears exactly once overall"))
      .toDF("doc_id", "text")
    val out = TextStats.repetition(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val (dupTok1, topTok1, dup2g1) = out(1L)
    assert(dupTok1 > 0.5 && topTok1 > 0.8 && dup2g1 > 0.5)
    val (dupTok2, topTok2, _) = out(2L)
    assert(dupTok2 === 0.0 && topTok2 < 0.2)
  }

  test("pii scrub counts and removes every stamped email and ip") {
    val out = TextStats.piiScrub(docs).collect()
    assert(out.forall(_.getLong(1) === 2L)) // two stamped emails per doc
    assert(out.forall(_.getLong(2) === 1L)) // one stamped ip per doc
  }

  test("word ngrams expression: distinct grams, short-doc fallback") {
    val df = Seq(
      (1L, "a b c d a b c d"), // grams: "a b c","b c d","c d a","d a b" (distinct)
      (2L, "x y"))             // shorter than w -> whole text
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.functions.HashExprs.wordNgrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) === Seq("a b c", "b c d", "c d a", "d a b"))
    assert(out(2L) === Seq("x y"))
  }

  test("contamination flags planted eval-overlap docs and only those") {
    val docs = (1L to 200L).map(i =>
      (i, s"unique$i words for document number $i with enough tokens here"))
      .toDF("doc_id", "text")
    val out = TextStats.contamination(docs, evalMod = 97, plantMod = 31, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.forall { case (id, _, c) => c === (id % 31 == 0) })
    assert(out.count(_._3) === 6) // 31, 62, ..., 186
    assert(!out.exists(_._1 % 97 == 0)) // eval docs excluded from output
  }

  test("bigram LM scores formulaic text as more likely than rare text") {
    val df = Seq(
      (1L, "the cat sat on the mat and the cat sat on the mat again"),
      (2L, "qzv blorp xku wem fandle grith sopl")) // all-unique bigrams
      .toDF("doc_id", "text")
    val out = TextStats.bigramLmScore(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) > out(2L)) // repeated bigrams -> higher avg probability
    assert(out.values.forall(_ > 0L))
  }

  test("tfidf ranks a doc-specific rare term above common terms") {
    val df = Seq(
      (1L, "common common common zebra"),
      (2L, "common common words here"),
      (3L, "common more words there"))
      .toDF("doc_id", "text")
    val top = TextStats.tfidfTop(df, k = 2).collect()
      .filter(_.getLong(0) == 1L).map(_.getString(2)).toSeq
    // rank 1 is "common" by raw tf, but the rare "zebra" must appear in
    // the top-2 with a strictly higher tfidf score than "common"
    val scores = TextStats.tfidfTop(df, k = 2).collect()
      .filter(_.getLong(0) == 1L).map(r => r.getString(2) -> r.getDouble(3)).toMap
    assert(top.contains("zebra"))
    assert(scores("zebra") > scores("common"))
  }

  test("semDedup flags the near-dup with min-id keeper, spares the rest") {
    // 64-dim corpus, two label-init clusters: v1/v2 near-dups (cosine
    // ~0.99995), v3 orthogonal, v4 in the other cluster
    def vec(hot: Int, scale: Double): Array[Float] = {
      val a = Array.fill(64)(0.01f)
      a(hot) = scale.toFloat; a
    }
    val emb = Seq(
      (1L, vec(0, 1.0), 0),
      (2L, vec(0, 1.01), 0),  // near-dup of 1
      (3L, vec(20, 1.0), 0),  // same init label, far vector
      (4L, vec(40, 1.0), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedup(emb, threshold = 0.99, iters = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1L, false))) // keeper
    assert(out(2L) === ((1L, true)))  // dropped, keeper is min id
    assert(out(3L) === ((3L, false)))
    assert(out(4L) === ((4L, false)))
  }

  test("classifier score matches the LCG weight formula by hand") {
    val df = Seq((1L, "aa bbb")).toDF("doc_id", "text")
    val r = TextStats.classifierScore(df).collect().head
    def w(tok: String): Long = {
      val bucket = (tok.head.toLong * 31 + tok.length) % 1024
      ((1103515245L * bucket + 12345L) >> 16) % 2001 - 1000
    }
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === w("aa") + w("bbb"))
    assert(r.getBoolean(3) === (w("aa") + w("bbb") > 0))
  }

  test("bm25 matches the Okapi formula computed by hand") {
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextStats.bm25Top(df, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getDouble(3)).toMap
    // N=2, df(a)=2, df(b)=1, dl1=3, dl2=2, avgdl=2.5, k1=1.2, b=0.75
    def bm25(tf: Int, dfT: Int, dl: Int): Double = {
      val idf = math.log(1.0 + (2.0 - dfT + 0.5) / (dfT + 0.5))
      val s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5))
      math.rint(s * 1e6) / 1e6
    }
    assert(out((1L, "a")) === bm25(2, 2, 3))
    assert(out((1L, "b")) === bm25(1, 1, 3))
    assert(out((2L, "c")) === bm25(1, 1, 2))
    // rarer term with the same tf outranks the common one on the score
    assert(out((2L, "c")) > out((2L, "a")))
  }

  test("session windows split on gap and merge within gap") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 100L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 100L, "click", 1.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 100L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sess = EventWindows.sessions(ev).collect()
    assert(sess.length === 2)
    assert(sess.head.getLong(3) === 2L) // first session has 2 events
  }
}
