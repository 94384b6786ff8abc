package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus vocabulary / TF-IDF operators for a training-data pipeline
  * (north-star surface; no reference counterpart).
  *
  * Scale shape: tokenization stays codegen'd upstream of one explode of
  * slim (id, term) rows — the document payload is never carried through
  * the shuffle. Both aggregations are plain hash aggregates with
  * map-side partial combine; the per-doc ranking shuffles once on the
  * doc id. Nothing here is quadratic and no driver collect exists on
  * any path.
  */
object Vocabulary {

  /** One slim (id, term) row per token occurrence. */
  def explodedTerms(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)

  /** Corpus vocabulary: (term, df = documents containing it, tf_total =
    * occurrences). The building block of frequency-filtered vocab files.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    explodedTerms(df, idCol, textCol)
      .groupBy(col("term"))
      .agg(countDistinct(col("id")).as("df"),
        count(lit(1)).as("tf_total"))

  /** MISRA-GRIES heavy hitters over the token stream: a bounded
    * summary of at most `capacity` counters built in ONE scan with
    * map-side partial summaries merged associatively (the mergeable-
    * summaries result of Agarwal et al., PODS'12) — the sketch a
    * 100 TB vocabulary pass runs when the exact `vocabulary()`
    * aggregate's term cardinality won't fit a shuffle. Guarantees
    * (for n total tokens, k = capacity): every term with true count
    * > n/k IS in the summary, and each reported estimate is within
    * [true − n/k, true]. Counts are NOT deterministic across
    * partitionings — only the bounds are, which is what consumers
    * (and the oracle) should check. Returns (summary, n).
    */
  def heavyHitters(df: DataFrame, idCol: String, textCol: String,
      capacity: Int = 64): (Map[String, Long], Long) =
    heavyHittersKeys(explodedTerms(df, idCol, textCol), "term", capacity)

  /** [[heavyHitters]] over an arbitrary string key column — the form
    * a skewed-key diagnostic uses (which join keys carry >1/k of the
    * rows?) without paying an exact full-cardinality aggregate.
    */
  def heavyHittersKeys(df: DataFrame, keyCol: String,
      capacity: Int): (Map[String, Long], Long) = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val terms = df
      .select(col(keyCol).cast("string")).as[String](
        org.apache.spark.sql.Encoders.STRING)
    type S = (scala.collection.mutable.HashMap[String, Long], Long)
    def zero: S = (scala.collection.mutable.HashMap.empty, 0L)
    // classic MG update: hit increments; a miss with a full table
    // decrements every counter (evicting zeros) instead of inserting
    def update(s: S, t: String): S = {
      val (m, n) = s
      if (m.contains(t)) m(t) += 1L
      else if (m.size < capacity) m(t) = 1L
      else {
        val dead = m.iterator.collect { case (k, 1L) => k }.toList
        m.mapValuesInPlace((_, v) => v - 1L)
        dead.foreach(m.remove)
      }
      (m, n + 1L)
    }
    // merge: add counts, then trim back to capacity by subtracting
    // the (capacity+1)-th largest count from everything (equivalent
    // to repeated decrement; preserves the n/k bound after merge)
    def merge(a: S, b: S): S = {
      val (m, n) = a
      b._1.foreach { case (k, v) => m(k) = m.getOrElse(k, 0L) + v }
      if (m.size > capacity) {
        val cut = m.values.toSeq.sorted(Ordering[Long].reverse)
          .apply(capacity)
        val trimmed = m.collect {
          case (k, v) if v > cut => k -> (v - cut)
        }
        m.clear()
        m ++= trimmed
      }
      (m, n + b._2)
    }
    val (summary, n) = terms.rdd.treeAggregate(zero)(update, merge)
    (summary.toMap, n)
  }

  /** Per-(doc, term) frequency joined with document frequency and
    * smoothed TF-IDF weight `tf * ln((N+1)/(df+1))`. `nDocs` is passed
    * in (callers usually know it; counting here would add a job).
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String,
      nDocs: Long): DataFrame = {
    val terms = explodedTerms(df, idCol, textCol)
    val tf = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df from the tf frame (its rows ARE the distinct (id, term)
    // pairs): one corpus scan instead of two, no countDistinct expand,
    // no re-join — same rewrite as topTermsPerDoc
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("tfidf",
        col("tf") * log((lit(nDocs) + 1.0) / (col("df") + 1.0)))
      .select(col("id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** BM25 document ranking for a fixed query-term set — the standard
    * retrieval scorer (Robertson/Sparck-Jones; the Lucene-default
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf, which is always positive).
    *
    * Scale shape: the higher-order `filter` drops non-query tokens
    * BEFORE the explode, so only |q| terms per document ever shuffle;
    * per-term document frequency is a window-count over the SAME slim
    * tf frame (a groupBy+join form would recompute the whole explode
    * lineage — a third corpus scan; the window shuffles only the
    * query-matching rows), and the corpus stats (1 row) broadcast on.
    * Two corpus scans total: the tf explode and the avg-doc-length
    * aggregate, which must see every document. Defaults k1=1.5,
    * b=0.75 are exactly binary-representable, keeping the score
    * reproducible across engines up to `ln`'s last ulp.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.5, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val docs = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docs
      .select(col("id"), col("dl"),
        explode(filter(col("toks"), t => t.isin(queryTerms: _*))).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  /** Term → bucket for the disk inverted index: low 60 bits of md5,
    * mod buckets — md5 so the SAME bucket is computable driver-side
    * (query-term routing) and engine-side (build partitioning) with
    * zero hash-implementation coupling.
    */
  def termBucket(term: String, buckets: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Math.floorMod(java.lang.Long.parseLong(hex, 16),
      buckets.toLong)
  }

  private def termBucketCol(term: org.apache.spark.sql.Column,
      buckets: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** DISK INVERTED INDEX for BM25 — the sparse-retrieval twin of the
    * ANN index lifecycle: postings (term, id, tf, dl) are partitioned
    * by `bkt = md5(term) mod buckets`, so ALL postings of a term live
    * in exactly one directory; a query's terms compile to a closed
    * bucket list (partition pruning) plus a `term IN` row filter that
    * rides the within-partition term sort. Corpus stats (n_docs,
    * avgdl) land in a 1-row sidecar. Per-query bytes read =
    * O(query-term posting lists), independent of corpus size — no
    * corpus scan, no full tokenization at serve time (both were paid
    * once at build).
    */
  def writeBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit = {
    val (v, staged) = IndexManifest.stage(path)
    // persist the tokenized frame: the stats aggregate and the postings
    // build both consume it (unpersisted, the corpus tokenizes twice),
    // and the two staged writes are independent — the stats write runs
    // as a concurrent job (guide §2.6); the single commit below still
    // publishes both atomically
    val docs = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("dl"))
      .persist()
    try {
      // sum_dl rides along for the APPEND verb: integer token counts
      // sum exactly, so a merged avgdl (sum/count over eras) is
      // bit-identical to a full-rebuild avg — double accumulation of
      // integers below 2^53 is exact, so avg(dl) == sum_dl/n_docs here
      // carryJobDescription: the spawned job keeps the caller's
      // thread-local label/group (guide §1.5)
      val sw = graft.core.Sessions.carryJobDescription(df.sparkSession) {
        docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"),
            sum(col("dl")).as("sum_dl"))
          .write.mode("overwrite").parquet(s"$staged/stats")
      }(scala.concurrent.ExecutionContext.global)
      docs.select(col("id"), col("dl"), explode(col("toks")).as("term"))
        .groupBy(col("id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bkt", termBucketCol(col("term"), buckets))
        .repartition(col("bkt"))
        .sortWithinPartitions(col("term"))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(s"$staged/postings")
      scala.concurrent.Await.result(sw,
        scala.concurrent.duration.Duration.Inf)
    } finally { docs.unpersist(blocking = false); () }
    // postings + stats publish in ONE pointer flip
    IndexManifest.commit(path, v)
  }

  /** INCREMENTAL maintenance of the disk inverted index — nightly
    * corpus appends without a rebuild. Delta documents tokenize once
    * and their postings append as new files into the SAME
    * `bkt = md5(term) mod buckets` layout (the bucket function is a
    * pure term hash, so a term's base and delta postings land in one
    * directory and the serve path's closed bucket list is unchanged);
    * the 1-row stats sidecar merges associatively — n_docs adds,
    * avgdl recombines from the count-weighted sums. Cost is O(delta)
    * tokenization + a 1-row sidecar rewrite, never a corpus re-scan.
    *
    * Contract: delta doc ids must be NEW (append, not upsert) — df at
    * serve time counts posting rows per term, which is exact precisely
    * because ids never repeat across eras. Serve path unchanged
    * (`doc_bm25_append` shares `doc_bm25`'s oracle).
    */
  def appendBm25Index(delta: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit =
      IndexManifest.mutate(path) { m =>
    val spark = delta.sparkSession
    require(m.base.isDefined, s"no committed index at $path")
    m.carry("postings", "tombstones")
    val docs = delta.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("dl"))
      .persist()
    try {
      // the delta-postings write and the stats merge read the same
      // persisted delta independently — overlap them (guide §2.6);
      // mutate's CAS commit still publishes both atomically
      // carryJobDescription: the spawned job keeps the caller's
      // thread-local label/group (guide §1.5)
      val pw = graft.core.Sessions.carryJobDescription(spark) {
        docs.select(col("id"), col("dl"), explode(col("toks")).as("term"))
          .groupBy(col("id"), col("dl"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("bkt", termBucketCol(col("term"), buckets))
          .repartition(col("bkt"))
          .sortWithinPartitions(col("term"))
          .write.mode("append").partitionBy("bkt")
          .parquet(s"${m.dir}/postings")
      }(scala.concurrent.ExecutionContext.global)
      val old = IndexManifest.readArtifact(spark, path, "stats", m.base)
        .select(col("n_docs").cast("long"), col("sum_dl").cast("long"))
        .collect().head
      val add = docs
        .agg(count(lit(1)).as("n"), sum(col("dl")).cast("long").as("s"))
        .collect().head
      scala.concurrent.Await.result(pw,
        scala.concurrent.duration.Duration.Inf)
      val n = old.getLong(0) + add.getLong(0)
      val s = old.getLong(1) + (if (add.isNullAt(1)) 0L else add.getLong(1))
      // exact integer sums ⇒ merged avgdl is bit-identical to a full
      // rebuild's avg(dl), not a float recombination of two averages
      val merged = Seq((n, if (n == 0) 0.0 else s.toDouble / n, s))
      import spark.implicits._
      // delta postings + merged stats publish atomically — a crash
      // can no longer leave postings appended under stale stats
      merged.toDF("n_docs", "avgdl", "sum_dl")
        .coalesce(1).write.mode("overwrite").parquet(s"${m.dir}/stats")
    } finally { docs.unpersist(blocking = false); () }
  }

  /** GDPR-style DELETE on the disk inverted index — the sparse twin
    * of the ANN index's tombstone verb, completing removal symmetry
    * across both index families: deleted ids land in a `.tombstones`
    * sidecar TOGETHER WITH their document length (captured here with
    * one index scan — a takedown batch pays one scan, or a production
    * deployment keeps a doc→dl sidecar; either way the index stays
    * self-sufficient). Nothing in the posting files is rewritten —
    * the serve path folds the tombstones: postings anti-join on id
    * BEFORE df is counted and the stats recombine from exact integer
    * sums, so a deletion correctly shifts idf/avgdl for every
    * SURVIVING document, not just hides the deleted one. Ids must not
    * be re-used after deletion (same append-only id contract as
    * [[appendBm25Index]]).
    */
  def deleteBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "deleteBm25Index needs at least one id")
    IndexManifest.mutate(path) { m =>
      require(m.base.isDefined, s"no committed index at $path")
      m.carry("postings", "stats", "tombstones")
      IndexManifest.readArtifact(spark, path, "postings", m.base)
        .filter(col("id").isin(ids.map(Long.box): _*))
        .select(col("id"), col("dl")).distinct()
        .coalesce(1)
        .write.mode("append").parquet(s"${m.dir}/tombstones")
    }
  }

  /** COMPACT the disk inverted index: physically fold accumulated
    * tombstones (postings rewritten minus deleted ids, per-bucket
    * sorted files re-merged) and rewrite the stats sidecar to the
    * already-adjusted integer-exact values, in a new version that
    * [[IndexManifest.mutate]] commits against its base, as the ANN
    * index's [[Similarity.compactLshIndex]] does. Readers need no
    * serialization: each serves the one version it resolved. Serve
    * results are unchanged by construction: the fold applies exactly
    * the anti-join + stats recombination the tombstoned serve was
    * already doing per query.
    *
    * Crash-atomic: the rewritten postings, the folded stats, and the
    * cleared tombstone set all live in ONE staged version published by
    * a single pointer flip — the historical
    * three-artifact window (stats folded while tombstones persist →
    * double subtraction on the next serve) is structurally impossible;
    * IndexManifestSpec injects a failure at the commit point and pins
    * serve bit-equality to either side.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, buckets: Int = 64): Unit =
      IndexManifest.mutate(path) { m =>
    require(m.base.isDefined, s"no committed index at $path")
    val base = IndexManifest.readArtifact(spark, path, "postings", m.base)
    val (postings, removedN, removedS) =
      if (IndexManifest.artifactNonEmpty(path, "tombstones", m.base)) {
        val tomb =
          IndexManifest.readArtifact(spark, path, "tombstones", m.base)
            .select(col("id"), col("dl")).distinct()
        val agg = tomb.agg(count(lit(1)),
          coalesce(sum(col("dl")), lit(0L))).collect().head
        (base.join(broadcast(tomb.select(col("id"))), Seq("id"),
          "left_anti"), agg.getLong(0), agg.getLong(1))
      } else (base, 0L, 0L)
    val folded = postings
      .select(col("id"), col("dl"), col("term"), col("tf"), col("bkt"))
    folded
      .repartition(col("bkt"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("bkt")
      .parquet(s"${m.dir}/postings")
    IndexManifest.keepSchema(folded, s"${m.dir}/postings", "bkt")
    val old = IndexManifest.readArtifact(spark, path, "stats", m.base)
      .select(col("n_docs").cast("long"), col("sum_dl").cast("long"))
      .collect().head
    val n = old.getLong(0) - removedN
    val sDl = old.getLong(1) - removedS
    import spark.implicits._
    Seq((n, if (n == 0) 0.0 else sDl.toDouble / n, sDl))
      .toDF("n_docs", "avgdl", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(s"${m.dir}/stats")
  }

  /** Serve BM25 top-k from the disk inverted index. Identical scoring
    * arithmetic to [[bm25]] (df derived from the term's own posting
    * list — complete by the bucket invariant), so the two share an
    * oracle. Tombstones (see [[deleteBm25Index]]) fold here: deleted
    * postings drop before df counts, and n_docs/avgdl recombine from
    * the exact integer sums — serve over a deleted index is
    * bit-identical to a rebuild over the surviving corpus.
    *
    * The read resolves the committed version once
    * ([[IndexManifest.resolve]]; again only when commits reaped it
    * before the buffer could pin it). A version whose `postings`, `stats`
    * and `tombstones` decode within the driver-side buffer's budget
    * (1/32 of the driver's max heap, in decoded bytes; see
    * `IndexBuffer`) is decoded once, and every read of it is then
    * answered in this JVM with no Spark job, as a local
    * `DataFrame` with the same rows, scores and schema as the plan
    * below; the first read after each commit pays the decode. A bigger
    * version runs the Spark plan, whose query terms compile to a
    * closed `bkt` list that prunes the postings directories.
    */
  def bm25Disk(spark: org.apache.spark.sql.SparkSession, path: String,
      queryTerms: Seq[String], k1: Double = 1.5, b: Double = 0.75,
      topK: Int = 20, buckets: Int = 64): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    // ONE pointer resolution per query: every artifact read comes from
    // the same committed version, so a concurrent append/delete/compact
    // can never serve a mixed index
    IndexBuffer.atCurrent(path) { ver =>
      IndexBuffer.bm25(spark, path, ver) match {
        case Some(buffered) =>
          buffered.topK(spark, queryTerms, k1, b, topK, buckets)
        case None => bm25DiskPlan(spark, path, ver, queryTerms, k1, b,
          topK, buckets)
      }
    }
  }

  /** The Spark plan of [[bm25Disk]] over an already-resolved `version`
    * — the path for versions over the buffer's budget, and the
    * reference the buffered serve is checked against.
    */
  private[graft] def bm25DiskPlan(spark: org.apache.spark.sql.SparkSession,
      path: String, version: String, queryTerms: Seq[String],
      k1: Double = 1.5, b: Double = 0.75, topK: Int = 20,
      buckets: Int = 64): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val ver = Some(version)
    val stats0 = IndexManifest.readArtifact(spark, path, "stats", ver)
    val bkts = queryTerms.map(termBucket(_, buckets)).distinct
    val postings0 = IndexManifest.readArtifact(spark, path, "postings", ver)
      .filter(col("bkt").isin(bkts: _*) &&
        col("term").isin(queryTerms: _*))
    val (postings, stats) =
      if (IndexManifest.artifactNonEmpty(path, "tombstones", ver)) {
        val tomb =
          IndexManifest.readArtifact(spark, path, "tombstones", ver)
            .select(col("id"), col("dl")).distinct()
        val tombAgg = tomb.agg(count(lit(1)).as("n_t"),
          coalesce(sum(col("dl")), lit(0L)).as("s_t"))
        val adj = stats0.crossJoin(broadcast(tombAgg)).select(
          (col("n_docs") - col("n_t")).as("n_docs"),
          // fully-tombstoned index: 0/0 would be NULL and poison every
          // score; 0.0 matches compactBm25Index's n == 0 guard (the
          // serve then returns no rows anyway — no surviving postings)
          when(col("n_docs") - col("n_t") === 0, lit(0.0))
            .otherwise((col("sum_dl") - col("s_t")).cast("double") /
              (col("n_docs") - col("n_t"))).as("avgdl"),
          (col("sum_dl") - col("s_t")).as("sum_dl"))
        (postings0.join(broadcast(tomb.select(col("id"))), Seq("id"),
          "left_anti"), adj)
      } else (postings0, stats0)
    val docFreq = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    postings.join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  /** Vocabulary COVERAGE CURVE — the tokenizer-design statistic: what
    * fraction of all corpus token OCCURRENCES do the top-k terms
    * cover? (Zipf makes this the vocab-size/OOV-rate trade study: the
    * k where the curve flattens is the natural vocabulary cut.)
    *
    * Scale shape: one corpus scan collapses to the vocabulary count
    * frame; the curve itself needs only the TOP max(k) terms
    * (TakeOrdered — no vocabulary-wide window) plus the 1-row total,
    * so the windowed cumulative sum runs over a k-bounded frame and
    * the result is k rows. At 100 TB the vocabulary frame is the only
    * shuffle; nothing else scales with the corpus.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1: $ks")
    val spark = df.sparkSession
    import spark.implicits._
    val counted = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .persist()
    try {
      val total = counted.agg(sum(col("n"))).collect().head.getLong(0)
      val kMax = ks.max
      val cum = counted.orderBy(col("n").desc, col("term")).limit(kMax)
        // bounded frame (<= kMax rows post-limit): non-foldable
        // null-robust constant key, same rationale as SeqPack's
        // offset windows
        .withColumn("rank", row_number().over(
          Window.partitionBy(pmod(hash(col("n")), lit(1)))
            .orderBy(col("n").desc, col("term"))))
        .withColumn("cum", sum(col("n")).over(
          Window.partitionBy(pmod(hash(col("rank")), lit(1))).orderBy(col("rank"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rank"), col("cum"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      ks.distinct.sorted.map { k =>
        val r = math.min(k, cum.size)
        val covered = if (r == 0) 0L else cum(r)
        (k, covered,
          if (total == 0) 0.0 else covered.toDouble / total)
      }.toDF("k", "covered_tokens", "coverage")
        .select(col("k"), col("covered_tokens"),
          round(col("coverage"), 6).as("coverage"))
    } finally { counted.unpersist(blocking = false); () }
  }

  /** Top-k distinctive terms per document, ranked by `(tf desc, df asc,
    * term asc)` — the integer-portable tf-idf-flavored order (idf is
    * strictly decreasing in df, so within a tf tie this IS the tf-idf
    * order; across tf levels it prefers frequency, which is the
    * keyword-extraction convention). Integer keys keep the ranking
    * bit-identical across engines — float tf-idf ties are not.
    */
  def topTermsPerDoc(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val terms = explodedTerms(df, idCol, textCol)
    val tf = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency FROM the tf frame: its rows are exactly the
    // distinct (id, term) pairs, so df(term) = its per-term row count —
    // a window count on the vocabulary-sized frame replaces a second
    // corpus scan + countDistinct expand + re-join (the one-scan
    // discipline of jaccardJoinExact)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .select(col("id"), col("rn"), col("term"), col("tf"), col("df"))
  }

  /** Corpus bigram language model + per-document perplexity — the
    * CCNet-style quality filter: documents whose token transitions are
    * improbable under the corpus's own add-one-smoothed bigram LM are
    * boilerplate/noise candidates.
    *
    *   p(b|a) = (c(a,b) + 1) / (c(a) + V),  ppl = exp(−Σ ln p / n)
    *
    * Scale shape: the LM tables (bigram counts, context counts) are
    * VOCABULARY-sized, orders below the corpus — built with one slim
    * (a, b) shuffle and joined back onto the slim per-occurrence pair
    * rows by key (hash join; nothing assumes broadcastability except
    * the 1-row V aggregate). The document text never shuffles. Token
    * arrays are staged through a projection (the O(len²)
    * inline-tokenization trap `hashedShingles` documents). Documents
    * with < 2 tokens have no bigrams and drop out, as in the oracle.
    * Cost: three projection-pruned corpus scans (LM build, vocabulary
    * size, scoring) — at 100 TB persist the staged token frame or
    * precompute the LM tables once and reuse them across scoring runs
    * (they are tiny, mergeable artifacts like the IVF centroids).
    */
  def bigramPerplexity(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val big = toks.filter(size(col("toks")) >= 2)
      .select(col("id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
           i -> struct(toks[i] AS a, toks[i + 1] AS b))""")).as("p"))
      .select(col("id"), col("p.a").as("a"), col("p.b").as("b"))
    val v = toks.select(explode(col("toks")).as("t"))
      .filter(length(col("t")) > 0)
      .agg(countDistinct(col("t")).as("v"))
    // LM counts as WINDOW COUNTS on the single exploded bigram frame
    // (the jaccardJoinExact one-scan idiom): cab = count per (a, b),
    // ca = count per a — identical to the groupBy+join form (sum of
    // per-(a,b) counts grouped by a IS the per-a row count), but the
    // corpus is tokenized once, not three times, and the bigram rows
    // cross the network once (the join form exchanged them by (a, b)
    // and again by (a)). ca first: its hash(a) partitioning satisfies
    // the (a, b) window's clustering, so the second window adds only
    // a local re-sort, no second exchange.
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"))
    val wAB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("b"))
    big
      .withColumn("ca", count(lit(1)).over(wA))
      .withColumn("cab", count(lit(1)).over(wAB))
      .crossJoin(broadcast(v))
      .select(col("id"),
        log((col("cab").cast("double") + lit(1.0)) /
          (col("ca").cast("double") + col("v").cast("double"))).as("lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("s"))
      .select(col("id"), col("n_bigrams"),
        round(exp(negate(col("s")) / col("n_bigrams").cast("double")), 6)
          .as("ppl"))
  }
}
