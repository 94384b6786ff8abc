package graft.llm

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class VocabularySpec extends SparkSpec {
  import spark.implicits._

  // hand-checkable corpus: "apple" in all 3 docs, "banana" in 2, the
  // rest in 1 each
  private def docs = Seq(
    (1L, "apple banana apple"),
    (2L, "apple banana cherry"),
    (3L, "apple date date date")
  ).toDF("doc_id", "text")

  test("vocabulary: df and tf_total match hand counts") {
    val v = Vocabulary.vocabulary(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v == Map(
      "apple" -> ((3L, 4L)),
      "banana" -> ((2L, 2L)),
      "cherry" -> ((1L, 1L)),
      "date" -> ((1L, 3L))))
  }

  test("tfIdf: weight equals tf * ln((N+1)/(df+1)) by hand") {
    val rows = Vocabulary.tfIdf(docs, "doc_id", "text", nDocs = 3L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def w(tf: Long, df: Long): Double = tf * math.log(4.0 / (df + 1.0))
    assert(rows((1L, "apple")) == ((2L, 3L, w(2, 3))))
    assert(rows((3L, "date")) == ((3L, 1L, w(3, 1))))
    // "apple" appears in every doc: ln(4/4) = 0 — no distinctiveness
    assert(rows((2L, "apple"))._3 == 0.0)
  }

  test("topTermsPerDoc ranks by tf desc, then rarity, then term") {
    val top = Vocabulary.topTermsPerDoc(docs, "doc_id", "text", k = 2)
      .orderBy(col("id"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // doc 1: apple tf=2 first, banana (df=2) over nothing else
    // doc 2: tf all 1 → rarest first: cherry (df=1), banana (df=2)
    // doc 3: date tf=3 first, then apple
    assert(top.toSeq == Seq(
      (1L, 1, "apple"), (1L, 2, "banana"),
      (2L, 1, "cherry"), (2L, 2, "banana"),
      (3L, 1, "date"), (3L, 2, "apple")))
  }

  test("bm25 matches the hand formula and ranks the rare term up") {
    val corpus = Seq(
      (1L, "apple banana apple"), // dl=3, tf(apple)=2
      (2L, "apple cherry"),       // dl=2, tf(apple)=1
      (3L, "date date")           // dl=2, tf(date)=2
    ).toDF("doc_id", "text")
    val out = Vocabulary.bm25(corpus, "doc_id", "text",
        queryTerms = Seq("apple", "date"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val avgdl = 7.0 / 3.0
    def idf(df: Long): Double = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def w(tf: Long, df: Long, dl: Long): Double =
      idf(df) * (tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == r4(w(2, 2, 3)))
    assert(out(2L) == r4(w(1, 2, 2)))
    assert(out(3L) == r4(w(2, 1, 2)))
    // the rare term (df=1) outscores the common one at equal tf
    assert(out(3L) > out(1L))
  }

  test("disk inverted index serves bm25 identically with bucket pruning") {
    import org.apache.spark.sql.functions._
    val corpus = (0 until 90).map { i =>
      (i.toLong, s"w$i apple shared${i % 5} " +
        (if (i % 3 == 0) "banana" else "cherry"))
    }.toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bm25")
      .toString + "/idx"
    val buckets = 8
    Vocabulary.writeBm25Index(corpus, "doc_id", "text", path,
      buckets = buckets)
    val terms = Seq("apple", "banana")
    val mem = Vocabulary.bm25(corpus, "doc_id", "text", terms, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val disk = Vocabulary.bm25Disk(spark, path, terms, topK = 10,
      buckets = buckets)
    val got = disk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == mem, s"disk=$got mem=$mem")
    // bucket routing prunes partitions: only the query terms' buckets
    // are listed by the Spark plan (the path of versions over the
    // driver-side buffer's budget)
    val plan = Vocabulary.bm25DiskPlan(spark, path,
      IndexManifest.resolve(path), terms, topK = 10, buckets = buckets)
    assert(plan.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      mem)
    val scans = walkExecutedPlan(plan.queryExecution.executedPlan)
      .collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
      "bucket filter did not reach partition pruning")
    val allowed = terms.map(Vocabulary.termBucket(_, buckets)).toSet
    // partition values infer as the narrowest integral type (int)
    val listed = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, Nil)
      .map(_.values.getInt(0).toLong).toSet
    assert(listed.nonEmpty && listed.subsetOf(allowed),
      s"listed buckets $listed outside query-term set $allowed")
  }

  test("vocabCoverage matches hand-computed cumulative fractions") {
    import org.apache.spark.sql.functions.col
    // counts: a=4, b=3, c=2, d=1 → total 10
    val docs = Seq((1L, "a a b c"), (2L, "a b d"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val got = Vocabulary.vocabCoverage(docs, "doc_id", "text",
        ks = Seq(1, 2, 10))
      .orderBy(col("k")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // top-1 = a (4/10); top-2 = a,b (7/10); k=10 > vocab ⇒ all 10/10
    assert(got == Seq((1, 4L, 0.4), (2, 7L, 0.7), (10, 10L, 1.0)),
      s"got $got")
  }

  test("bm25 index append serves identically to a full rebuild") {
    import org.apache.spark.sql.functions._
    val corpus = (0 until 90).map { i =>
      (i.toLong, s"w$i apple shared${i % 5} " +
        (if (i % 3 == 0) "banana" else "cherry"))
    }.toDF("doc_id", "text")
    val buckets = 8
    val full = java.nio.file.Files.createTempDirectory("bm25")
      .toString + "/idx"
    Vocabulary.writeBm25Index(corpus, "doc_id", "text", full,
      buckets = buckets)
    val inc = java.nio.file.Files.createTempDirectory("bm25")
      .toString + "/idx"
    Vocabulary.writeBm25Index(corpus.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", inc, buckets = buckets)
    Vocabulary.appendBm25Index(corpus.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", inc, buckets = buckets)
    // merged stats sidecar is bit-identical to the full build's
    // (exact integer length sums, not a float avg recombination)
    def stats(p: String) =
      spark.read.parquet(s"${IndexManifest.currentDir(p)}/stats")
      .select(col("n_docs").cast("long"), col("avgdl").cast("double"),
        col("sum_dl").cast("long"))
      .collect().head
    assert(stats(inc) == stats(full),
      s"stats ${stats(inc)} != ${stats(full)}")
    // idf depends on base+delta df per term, so score equality checks
    // the posting merge corpus-wide, not just the appended rows
    val terms = Seq("apple", "banana")
    def serve(p: String) = Vocabulary.bm25Disk(spark, p, terms,
        topK = 10, buckets = buckets)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(serve(inc) == serve(full),
      s"appended=${serve(inc)} full=${serve(full)}")
  }

  test("bigram perplexity matches the hand-computed add-one LM") {
    // corpus: "a b a b" + "a b". V = 2. bigrams: (a,b)x3, (b,a)x1.
    // c(a,b)=3, c(b,a)=1; c(a)=3, c(b)=1.
    // p(b|a) = (3+1)/(3+2) = 0.8; p(a|b) = (1+1)/(1+2) = 2/3.
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = Vocabulary.bigramPerplexity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: ln p = 2 ln 0.8 + ln(2/3); ppl = exp(-(...)/3)
    val ppl1 = math.exp(-(2 * math.log(0.8) + math.log(2.0 / 3.0)) / 3.0)
    val ppl2 = math.exp(-math.log(0.8))
    assert(out(1L)._1 == 3L && out(1L)._2 == r6(ppl1))
    assert(out(2L)._1 == 1L && out(2L)._2 == r6(ppl2))
    // the doc with only high-probability transitions scores lower ppl
    assert(out(2L)._2 < out(1L)._2)
  }

  test("redactEmails scrubs planted emails and emailCount finds them") {
    val out = Seq((1L, "write to alice.smith@example.com or bob@test.org now"))
      .toDF("id", "t")
      .select(TextAnalysis.emailCount(col("t")),
        TextAnalysis.redactEmails(col("t")))
      .collect().head
    assert(out.getInt(0) == 2)
    assert(out.getString(1) == "write to [EMAIL] or [EMAIL] now")
  }

  test("bm25 delete: tombstoned serve equals a rebuild over survivors") {
    val corpus = Seq(
      (1L, "spark join shuffle"),
      (2L, "spark spark filter"),
      (3L, "join broadcast join"),
      (4L, "spark join exchange"),
      (5L, "window aggregate sort")
    ).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("bm25del")
      .toString
    val full = s"$base/full"
    Vocabulary.writeBm25Index(corpus, "doc_id", "text", full, buckets = 4)
    val before = Vocabulary.bm25Disk(spark, full, Seq("spark", "join"),
        topK = 10, buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Vocabulary.deleteBm25Index(spark, full, Seq(2L, 3L))
    val served = Vocabulary.bm25Disk(spark, full, Seq("spark", "join"),
        topK = 10, buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // deleted ids are gone
    assert(!served.contains(2L) && !served.contains(3L), served.toString)
    // bit-identical to rebuilding the index over the survivors: df,
    // n_docs, and avgdl all shifted, not just the rows hidden
    val rebuilt = s"$base/rebuilt"
    Vocabulary.writeBm25Index(
      corpus.filter(!col("doc_id").isin(2L, 3L)), "doc_id", "text",
      rebuilt, buckets = 4)
    val expect = Vocabulary.bm25Disk(spark, rebuilt, Seq("spark", "join"),
        topK = 10, buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == expect, s"served=$served rebuilt=$expect")
    // and the deletion visibly moved a survivor's score (idf shift)
    assert(served(1L) != before(1L),
      s"doc 1 score unchanged (${before(1L)}) — idf did not fold")
    // compaction physically folds the tombstones: same serve results,
    // sidecar gone, and a second compact is a no-op rewrite
    Vocabulary.compactBm25Index(spark, full, buckets = 4)
    assert(!new java.io.File(
      s"${IndexManifest.currentDir(full)}/tombstones").exists())
    val compacted = Vocabulary.bm25Disk(spark, full, Seq("spark", "join"),
        topK = 10, buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(compacted == expect, s"compacted=$compacted rebuilt=$expect")
  }

  test("bm25 serve over a fully-tombstoned index is empty, not NULL") {
    val corpus = Seq((1L, "spark join shuffle"), (2L, "spark filter"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bm25allgone")
      .toString + "/idx"
    Vocabulary.writeBm25Index(corpus, "doc_id", "text", path, buckets = 4)
    Vocabulary.deleteBm25Index(spark, path, Seq(1L, 2L))
    // every doc tombstoned: avgdl adjustment is 0/0 territory — the
    // guard must yield an empty result, not NULL-scored rows
    val served = Vocabulary.bm25Disk(spark, path, Seq("spark"),
      topK = 10, buckets = 4).collect()
    assert(served.isEmpty, served.mkString(","))
  }

  test("misra-gries: deterministic bounds hold under heavy eviction") {
    // 41 distinct keys, one carrying 60% of a 10k stream; capacity 8
    // forces constant eviction. Guarantees checked: (a) every key
    // with true > n/k is present, (b) est <= true always,
    // (c) true - est <= n/k for every reported key
    val rows = (0 until 10000).map { i =>
      val k = if (i % 5 < 3) "hot" else s"cold${i % 40}"
      (i.toLong, k)
    }.toDF("id", "k")
    val (summary, n) = Vocabulary.heavyHittersKeys(rows, "k", capacity = 8)
    assert(n == 10000L)
    val bound = n / 8
    val exact = rows.groupBy(col("k")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, cnt) =>
      if (cnt > bound)
        assert(summary.contains(k), s"heavy key $k (true=$cnt) missing")
    }
    summary.foreach { case (k, est) =>
      val cnt = exact(k)
      assert(est <= cnt, s"$k overestimated: est=$est true=$cnt")
      assert(cnt - est <= bound, s"$k bound broken: est=$est true=$cnt")
    }
    assert(summary.size <= 8)
  }

  test("misra-gries degenerates to exact when capacity >= cardinality") {
    val rows = (0 until 600).map(i => (i.toLong, s"k${i % 5}"))
      .toDF("id", "k")
    val (summary, n) = Vocabulary.heavyHittersKeys(rows, "k", capacity = 16)
    assert(n == 600L)
    assert(summary == (0 until 5).map(i => s"k$i" -> 120L).toMap)
  }
}
