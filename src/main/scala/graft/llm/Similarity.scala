package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (north-star surface).
  *
  * Two physical strategies for the same logical top-k-by-cosine:
  *
  *   - **brute force**: score every row with a pure-expression cosine
  *     (`aggregate` over `zip_with` — codegen'd) and `orderBy().limit(k)`
  *     — Spark plans TakeOrderedAndProject: per-partition heaps, only k
  *     rows per partition reach the driver. Exact; O(n) per query; the
  *     right baseline and the verifier for ANN recall.
  *   - **LSH (random hyperplanes)**: a deterministic signed-projection
  *     signature buckets vectors; a query probes its own bucket plus
  *     Hamming-1 neighbors. At 100 TB the bucketed table is
  *     pre-partitioned by signature so a probe touches only matching
  *     partitions, turning per-query cost from O(n) to O(n / 2^bits ·
  *     probes).
  */
object Similarity {

  /** Dot product of two array<double> columns — pure expression. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** Composable-expression cosine (higher-order functions). Kept as the
    * dependency-free reference form; the hot paths below use the native
    * codegen'd [[graft.functions.GraftFunctions.cosine]], which fuses
    * dot+norms into one allocation-free loop.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Native single-pass cosine (see CosineSimilarityExpr). */
  def cosineNative(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine(a, b)

  /** Exact top-k by cosine against a literal query vector. */
  def topKBrute(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int): DataFrame = {
    val q = typedLit(query.toSeq)
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol), cosineNative(v, q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes (seeded by plane index via the
    * same HMAC scheme as the encoder).
    */
  def hyperplanes(dim: Int, bits: Int, seedPrefix: String = "lsh"): Array[Array[Double]] =
    Array.tabulate(bits) { p =>
      val rnd = new java.util.Random(
        graft.encode.Deterministic.seedFor(s"$seedPrefix/$p"))
      Array.fill(dim)(rnd.nextGaussian())
    }

  /** Signature expression: bit p set iff dot(v, plane_p) ≥ 0. Fused
    * native codegen ([[graft.functions.HyperplaneSignatureExpr]] — one
    * pass over the vector for ALL planes; the per-plane HOF-dot form
    * walked the array b times through interpreted lambdas). Dirty rows
    * (null/length-mismatched vectors) signature to null and fall out
    * of the index instead of failing the build.
    */
  def signature(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.hyperplaneSignature(vec, planes)

  /** Bucketed index: (id, vec, sig). Persist + repartition by sig at
    * scale so probes prune partitions.
    */
  def lshIndex(df: DataFrame, vecCol: String, idCol: String,
      planes: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("vec"),
      signature(v, planes).as("sig"))
  }

  /** Driver-side signature of one vector for one plane set (the same
    * bit rule as the [[signature]] expression).
    */
  def signatureOf(vec: Array[Double], planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.map { case (plane, p) =>
      val d = plane.zip(vec).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << p else 0L
    }.sum

  /** ANN top-k: score only rows whose signature is within hamming
    * distance `probeHamming` of the query's signature (0 = own bucket,
    * 1 = own + all one-bit flips, …).
    */
  def topKAnn(index: DataFrame, query: Array[Double],
      planes: Array[Array[Double]], k: Int, probeHamming: Int = 1): DataFrame = {
    val qSig = signatureOf(query, planes)
    val q = typedLit(query.toSeq)
    index
      .filter(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= probeHamming)
      .select(col("id"), cosineNative(col("vec"), q).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Multi-table ANN top-k over a [[multiTableIndex]]: candidates are
    * the union over L tables of rows within `probeHamming` of the
    * query's per-table signature; exact cosine scores the DEDUPED
    * candidate set, then top-k. A single b-bit table misses a
    * moderately-similar neighbor with probability 1−p; the OR over L
    * tables cuts that to (1−p)^L — recall is bought with tables, at L×
    * index rows and ~L× probe cost, never coarser buckets. The dedup
    * shuffle carries only the candidate set (~O(k·L·bucket) rows), not
    * the corpus.
    */
  /** All signatures within Hamming `r` of `sig` — the multiprobe set.
    * Size 1 + b + b(b−1)/2 at r=2: a CLOSED bucket list, so the probe
    * compiles to `(table, sig) IN (…)` — a point lookup against a
    * sig-partitioned index layout, where a `bit_count(xor) ≤ r` filter
    * would scan every row. */
  def probeSignatures(sig: Long, bits: Int, r: Int): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer(sig)
    if (r >= 1) (0 until bits).foreach(i => out += (sig ^ (1L << i)))
    if (r >= 2) for (i <- 0 until bits; j <- (i + 1) until bits)
      out += (sig ^ (1L << i) ^ (1L << j))
    out.toSeq
  }

  /** Multi-table multiprobe ANN top-k. Per-table catch probability for
    * a neighbor at angle θ (p = 1−θ/π per bit) is Σ_{h≤r} C(b,h)·
    * p^(b−h)·(1−p)^h — at b=5, p≈0.6, r=2 that is ~0.68, so 8 tables
    * miss with probability ~10⁻⁴ (r=1 left it at ~4%, which a 2000-row
    * fixture draw actually hit). Candidates stay bounded by
    * probes·tables·bucketSize regardless of corpus size — recall is
    * bought with PROBES, not index copies. */
  def topKAnnMultiTable(index: DataFrame, query: Array[Double],
      dim: Int, bits: Int, tables: Int, k: Int, probeHamming: Int = 2,
      seedPrefix: String = "lsh"): DataFrame = {
    val probe = (0 until tables).map { t =>
      val qSig = signatureOf(query, hyperplanes(dim, bits, s"$seedPrefix/t$t"))
      val sigs = probeSignatures(qSig, bits, probeHamming)
      col("table") === lit(t) && col("sig").isin(sigs: _*)
    }.reduce(_ || _)
    val q = typedLit(query.toSeq)
    index.filter(probe)
      .select(col("id"), col("vec"))
      .dropDuplicates("id")
      .select(col("id"), cosineNative(col("vec"), q).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** All-pairs similarity join above a cosine threshold, restricted to
    * LSH buckets (same-signature pairs only) — the scale-safe shape of
    * "find all near-duplicate embeddings". Exact within a bucket.
    */
  def similarityJoin(index: DataFrame, threshold: Double): DataFrame = {
    val a = index.select(col("sig"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = index.select(col("sig"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineNative(col("vec_a"), col("vec_b")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Multi-table LSH: L independent plane sets. A single b-bit table
    * catches a pair of angle θ with probability (1−θ/π)^b — under 10%
    * for moderately-similar pairs — so real recall needs the OR over L
    * tables: 1−(1−p)^L. Candidates are the union of same-bucket pairs
    * across tables (dedup'd before scoring, so each pair is scored
    * once). Cost: L band rows per input row; still no all-pairs join.
    */
  def multiTableIndex(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, bits: Int = 4, tables: Int = 8,
      seedPrefix: String = "lsh"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val sigCols = (0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, s"$seedPrefix/t$t")
      struct(lit(t).as("table"), signature(v, planes).as("sig")).as(s"s$t")
    }
    df.select(col(idCol).as("id"), v.as("vec"),
        explode(array(sigCols: _*)).as("ts"))
      .select(col("id"), col("vec"),
        col("ts.table").as("table"), col("ts.sig").as("sig"))
  }

  /** Near-dup pairs over a multi-table index: same (table, sig) bucket
    * in ANY table → candidate; exact cosine verifies.
    *
    * Order of operations matters at scale: candidate generation runs
    * over SLIM (table, sig, id) rows and pairs are deduped while still
    * 16 B each; only then do full vectors join on — from `source`, the
    * pre-explode frame, which holds exactly ONE copy of each vector. A
    * previous formulation reconstructed vectors from the exploded index
    * (`dropDuplicates("id")` over L copies per row), which shuffled the
    * whole corpus's vectors L× just to dedup them.
    */
  def similarityJoinMultiTable(index: DataFrame, source: DataFrame,
      vecCol: String, idCol: String, threshold: Double,
      bits: Int = 0, probeHamming: Int = 0): DataFrame = {
    // candidates over slim (table, sig, id) rows; vectors join back onto
    // the DEDUPED pair list (same pattern as Dedup.nearDupPairs: payloads
    // must not ride through the explode/bucket join)
    val slim = index.select(col("table"), col("sig"), col("id"))
    // ASYMMETRIC MULTIPROBE (bits > 0, probeHamming > 0): one side
    // explodes each signature into its Hamming-≤r neighborhood, so the
    // equi-join catches pairs whose signatures differ in ≤r bits in ANY
    // table. At b=5 bits, pair-bit-agreement p=2/3 (cosine 0.5), r=2:
    // per-table catch 0.79 vs 0.13 bucket-exact — 8 tables take the
    // miss probability from ~33% to ~4·10⁻⁶ per threshold pair. Cost
    // is ×(1+b+C(b,2)) SLIM 16 B rows on the probe side only — recall
    // bought with probes, never with index copies or coarser buckets.
    val probeSide =
      if (bits <= 0 || probeHamming <= 0) slim
      else {
        val flips = scala.collection.mutable.ArrayBuffer[Column](col("sig"))
        if (probeHamming >= 1) (0 until bits).foreach(i =>
          flips += col("sig").bitwiseXOR(lit(1L << i)))
        if (probeHamming >= 2) for (i <- 0 until bits; j <- (i + 1) until bits)
          flips += col("sig").bitwiseXOR(lit((1L << i) | (1L << j)))
        slim.select(col("table"), explode(array(flips.toSeq: _*)).as("sig"),
          col("id"))
      }
    val candidates = probeSide
      .select(col("table"), col("sig"), col("id").as("id_a"))
      .join(slim.select(col("table"), col("sig"), col("id").as("id_b")),
        Seq("table", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val vecs = source.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineNative(col("vec_a"), col("vec_b")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Near-dup pairs with QUERY-DIRECTED multiprobe (Lv et al. 2007):
    * instead of exploding each probe-side signature into its full
    * Hamming-≤r neighborhood (1 + b + C(b,2) rows — 16 at b=5, 211 at
    * the b≈20 a 100 TB corpus' `bitsFor` yields), flip only the
    * `flipBits` LOWEST-|margin| bits — the planes the vector sits
    * closest to, which are the bits most likely to differ from a near
    * neighbor's signature. Probe volume is FIXED at 1 + t + C(t,2)
    * slim rows (7 at t=3) per index entry per table regardless of b.
    *
    * The join is symmetric: a pair is a candidate if EITHER endpoint's
    * probe set covers their differing bits (`id_p =!= id_s`, then
    * least/greatest normalization before the dedup) — measured at
    * dim 64 / b=5 / cosine 0.5 that lifts per-table catch from 0.53
    * (asymmetric t=2) to 0.69 at t=3, an 8-table miss of ~8·10⁻⁵ per
    * threshold pair vs ~4·10⁻⁶ for the full neighborhood at 2.3× the
    * probe rows. Verified recall 1.0 on the fixture corpus at all
    * three SFs by the exact-all-pairs oracle.
    *
    * Self-contained (builds its slim index internally): candidate
    * generation runs over (table, sig, id) rows only; vectors join
    * back from `source` onto the deduped pair list, so payloads never
    * ride the explode (the [[similarityJoinMultiTable]] ordering
    * argument). Cost vs that method: one extra expression-only scan of
    * `source` (sig pass + probe pass) in exchange for 16/7× less
    * probe-side shuffle volume — at scale the shuffle dominates.
    * Buckets above `maxBucket` members are dropped with observe()
    * metrics (the [[Dedup.nearDupPairs]] no-silent-caps contract) so a
    * skewed bucket cannot make the probe join quadratic.
    */
  def similarityJoinMultiProbe(source: DataFrame, vecCol: String,
      idCol: String, threshold: Double, dim: Int, bits: Int,
      tables: Int = 8, flipBits: Int = 3, probeHamming: Int = 2,
      seedPrefix: String = "lsh", maxBucket: Int = 1000): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE FIRST — the step that keeps candidate
    // volume output-bound on the corpora this operator exists for.
    // Web-scale corpora are duplicate-heavy, and bit-identical vectors
    // have identical signatures AND probe sets in every table, so a
    // duplicate family of size m contributes m² candidate rows per
    // table from pure redundancy (measured: the ×30 fixture produced
    // 189M distinct candidate pairs for an 822k-pair answer and a 52×
    // wall blowup). Since the LSH outcome of a pair depends only on
    // the two vectors, every member pair of two families hits or
    // misses TOGETHER — so running the probe pipeline over one
    // representative per distinct vector and expanding rep pairs to
    // member pairs afterwards is bit-for-bit the same result (scores
    // are pure functions of the two arrays), with candidate work
    // divided by the duplication factor squared. Corpora with no
    // exact duplicates pass through with one extra groupBy of slim
    // (vec, id) rows.
    val withVec = source
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(size(col("vec")) === dim)
    // Both collapse frames PERSIST: `groups` feeds four consumers (the
    // member expansion join, the signature pass, the probe pass, the
    // within-family score) and `members` four more (two sides of the
    // cross expansion, two of the within expansion) — unpersisted,
    // each re-ran the source scan AND the groupBy(vec) shuffle of the
    // full vector payload (13 source scans in the explained plan).
    // `groups` is one row per DISTINCT vector (duplicate-heavy corpora
    // shrink it), `members` is 16 B (rep, id) rows; both spill.
    // CALLER-OWNED lifetime: the returned frame is lazy and still
    // reads these caches, so the operator cannot release them —
    // CacheManager pins a persisted Dataset until explicit
    // unpersist/clearCache (an unreferenced handle is NOT reclaimed);
    // long-lived sessions release via spark.catalog.clearCache(), as
    // Bench's retime reset does.
    val groups = withVec.groupBy(col("vec")).agg(min(col("id")).as("rep"))
      .persist()
    val members = withVec.join(groups, Seq("vec"))
      .select(col("rep"), col("id"))
      .persist()
    val reps = groups.select(col("rep").as(idCol), col("vec").as(vecCol))
    val repPairs = multiProbeDistinct(reps, vecCol, idCol, threshold,
      dim, bits, tables, flipBits, probeHamming, seedPrefix, maxBucket)
    // cross-family expansion: every member combo of a surviving rep
    // pair, carrying the rep pair's score (identical arrays ⇒
    // identical cosine). Output-bound joins on slim frames.
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("id").as("_ma")),
        Seq("id_a"))
      .join(members.select(col("rep").as("id_b"), col("id").as("_mb")),
        Seq("id_b"))
      .select(least(col("_ma"), col("_mb")).as("id_a"),
        greatest(col("_ma"), col("_mb")).as("id_b"), col("score"))
    // within-family pairs: scored once per family (cosine of the
    // array with itself — same expression, same dirty-row behavior as
    // the pairwise path), then fanned to the member combinations
    val famScore = groups.select(col("rep"),
      cosineNative(col("vec"), col("vec")).as("score"))
    val within = members.select(col("rep"), col("id").as("id_a"))
      .join(members.select(col("rep"), col("id").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .join(famScore, Seq("rep"))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
    cross.unionByName(within)
  }

  private def multiProbeDistinct(source: DataFrame, vecCol: String,
      idCol: String, threshold: Double, dim: Int, bits: Int,
      tables: Int, flipBits: Int, probeHamming: Int,
      seedPrefix: String, maxBucket: Int): DataFrame = {
    import graft.functions.GraftFunctions
    val v = col(vecCol).cast("array<double>")
    val planeSets = (0 until tables)
      .map(t => hyperplanes(dim, bits, s"$seedPrefix/t$t"))
    // slim exact-bucket side: (table, sig, id), one signature pass
    val sigCols = planeSets.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("table"), signature(v, planes).as("sig")).as(s"s$t")
    }
    val slim = source
      .select(col(idCol).as("id"), explode(array(sigCols: _*)).as("ts"))
      .select(col("ts.table").as("table"), col("ts.sig").as("sig"), col("id"))
    // probe side: each row's query-directed probe set per table (dirty
    // rows probe to null and explode drops them, like the index build)
    val probeCols = planeSets.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("table"),
        GraftFunctions.hyperplaneProbes(v, planes,
          math.min(flipBits, bits), probeHamming).as("probes")).as(s"p$t")
    }
    val probes = source
      .select(col(idCol).as("id"), explode(array(probeCols: _*)).as("tp"))
      .select(col("tp.table").as("table"), col("id"),
        explode(col("tp.probes")).as("sig"))
    // hot-bucket guard (the nearDupPairs contract): bucket members
    // gather into capped lists; a skewed (table, sig) bucket —
    // duplicate-heavy corpora, degenerate vectors — would otherwise
    // make the probe join quadratic in its size. Drops are surfaced
    // via observe() metrics, never silent.
    val buckets = Dedup.withBucketMetrics(
      slim.groupBy(col("table"), col("sig"))
        .agg(collect_list(col("id")).as("ids")),
      size(col("ids")), maxBucket, "graft_multiprobe_buckets")
      .filter(size(col("ids")) <= maxBucket)
    // EXPLODE BEFORE THE JOIN, not after: joining probes onto the
    // bucket-array frame copies the whole ids array onto EVERY matched
    // probe row before the explode — at a duplicate-heavy corpus
    // (members × copies share one bucket) that is probeRows ×
    // bucketWidth × 8 B of array duplication through the join (~16 GB
    // at the ×30 fixture, measured as task-page allocation failures
    // and a 52× wall blowup). Exploded bucket rows are the same
    // cardinality as `slim` (≤ n·tables), and the join then EMITS each
    // candidate as one 24 B row instead of materializing arrays.
    val bucketRows = buckets.select(col("table"), col("sig"),
      explode(col("ids")).as("id_s"))
    val candRaw = probes
      .select(col("table"), col("sig"), col("id").as("id_p"))
      .join(bucketRows, Seq("table", "sig"))
      .filter(col("id_p") =!= col("id_s"))
      .select(least(col("id_p"), col("id_s")).as("id_a"),
        greatest(col("id_p"), col("id_s")).as("id_b"))
    val vecs = source.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // Dedup-vs-score ordering is a SIZE-BASED plan choice (the same
    // calculus as Spark's broadcast-vs-shuffle join pick):
    //  - broadcastable vectors (small corpus / a partition of one):
    //    score the RAW candidate stream map-side and dedup only the
    //    threshold SURVIVORS — skips a full shuffle+distinct of the
    //    candidate set, whose duplicate factor (~4x: cross-table +
    //    cross-probe hits) is pure overhead when the verify join is
    //    free. Measured 4.3 -> 2.1 s at the sf0.1 fixture (n=2000,
    //    b=5, where coarse buckets make candidates ~94% of all pairs).
    //  - at scale (vectors too big to broadcast): distinct FIRST —
    //    the candidate set is Θ(n·tables·probes·bucketWidth) slim 16 B
    //    rows, and deduping them before the 8·dim-B/row vector join
    //    divides that join's input by the duplicate factor. Scoring
    //    raw would shuffle vectors onto every duplicate hit.
    // Same candidate set either way; cosine is deterministic per pair,
    // so the result is identical and the oracle can't tell them apart.
    if (isBroadcastable(vecs)) {
      candRaw
        .join(broadcast(vecs.select(col("id").as("id_a"),
          col("vec").as("vec_a"))), Seq("id_a"))
        .join(broadcast(vecs.select(col("id").as("id_b"),
          col("vec").as("vec_b"))), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          cosineNative(col("vec_a"), col("vec_b")).as("score"))
        .filter(col("score") >= threshold)
        .groupBy(col("id_a"), col("id_b"))
        .agg(first(col("score")).as("score"))
    } else {
      candRaw.distinct()
        .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
        .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          cosineNative(col("vec_a"), col("vec_b")).as("score"))
        .filter(col("score") >= threshold)
    }
  }

  /** Broadcastability test for the dedup-vs-score plan choice: the
    * SAME signal Spark's planner uses for broadcast-vs-shuffle joins —
    * Catalyst's sizeInBytes estimate (file size for scans) against
    * `spark.sql.autoBroadcastJoinThreshold`. Estimation failure means
    * "assume big": the small-corpus fast path never triggers on an
    * unknown-size input.
    */
  private def isBroadcastable(df: DataFrame): Boolean =
    try {
      val threshold = org.apache.spark.sql.internal.SQLConf.get
        .autoBroadcastJoinThreshold
      threshold > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
      // NonFatal only: an OOM/interrupt during stats estimation must
      // propagate, not silently flip the plan to the at-scale path
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Bucket sizing rule: bits ≈ log2(n / targetBucketSize) — bucket
    * count tracks the corpus so per-bucket pair work stays constant;
    * recall is then bought with `tables`, not coarser buckets.
    */
  def bitsFor(n: Long, targetBucketSize: Int = 64): Int =
    math.max(4, math.ceil(
      math.log(math.max(n.toDouble / targetBucketSize, 2.0)) / math.log(2.0)).toInt)

  // ----------------------------------------------------------------- IVF

  /** Cell of the nearest centroid by cosine. Centroids are L2-normalized
    * at build time, so argmax over `dot(v, ĉ)` IS argmax cosine — the
    * row vector needs no normalization (its norm is constant across
    * cells). Pure expressions, one pass; ties resolve to the lowest
    * cell id deterministically.
    */
  def nearestCell(vec: Column, centroids: Array[Array[Double]]): Column =
    // ONE fused k×dim codegen pass (NearestCentroidExpr) — the
    // composable array_min(array(struct(cosine…))) form planned k
    // separate cosine expressions plus a k-struct array per row, the
    // dominant cost of every assign scan. Semantics preserved: dirty
    // rows → cell 0, zero-norm centroids never win (their cosine is
    // undefined), ties resolve to the lowest cell id.
    graft.functions.GraftFunctions.nearestCentroid(vec, centroids)

  /** Deterministic spherical k-means centroids for IVF coarse
    * quantization. Init picks `k` seed vectors by hashed-id order (a
    * deterministic pseudo-random spread — no RNG state, same centroids
    * on every run/cluster). Each Lloyd iteration is ONE shuffle-free
    * job: `mapPartitions` folds every row into dense per-partition
    * (k·dim sums, k counts) arrays, merged partition-ordered on the
    * driver (`densePartialFold`) — the map-side-combine shape (Spark
    * MLlib's KMeans aggregates the same way). The previous form
    * (assign expr → posexplode → groupBy(cell, pos)) shuffled n·dim
    * rows and paid a full exchange per round — at fixture scale that
    * fixed per-job cost dominated the whole IVF/PQ build tail, the
    * same pathology the PageRank dense-array rewrite removed.
    * Per-row assignment mirrors [[graft.functions.NearestCentroidExpr]]
    * exactly (argmax dot against unit-norm centroids, dead cells never
    * win, ties → lowest id); zero-norm rows don't vote (the index-time
    * expr files them under cell 0, but a zero vector has no direction
    * to pull a spherical mean toward). Empty cells keep their previous
    * centroid. The clean-row set is persisted across iterations and
    * released after training.
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 3): Array[Array[Double]] = {
    require(k > 0 && iters >= 0, s"need k>0, iters>=0; got k=$k iters=$iters")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val v = col(vecCol).cast("array<double>")
    var centroids = df
      .filter(norm(v) > 0)
      .select(v.as("vec"),
        pmod(xxhash64(col(idCol)), lit(1000000007L)).as("h"),
        col(idCol).as("seed_id"))
      .orderBy(col("h"), col("seed_id"))
      .limit(k)
      .collect().map(r => normalize(r.getSeq[Double](0).toArray))
    if (iters > 0 && centroids.nonEmpty) {
      // dirty rows whose vector length differs from the seed dimension
      // (or carry null elements) fall out of the centroid update —
      // same null-out-don't-crash policy as the rest of the module
      val dim = centroids.head.length
      val sp = df.sparkSession
      import sp.implicits._
      val clean = df.select(v.as("vec"))
        .filter(size(col("vec")) === lit(dim) &&
          !exists(col("vec"), _.isNull))
        .as[Array[Double]]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      var it = 0
      while (it < iters) {
        val (flat, dead) = flattenUnitNorm(centroids)
        val bc = sp.sparkContext.broadcast((flat, dead))
        val kk = centroids.length
        val (sums, counts) = densePartialFold(clean.rdd, kk * dim, kk) {
          (s, n, vec) =>
            val (f, dd) = bc.value
            val c = nearestCellLocal(vec, f, dd, dim)
            if (c >= 0) {
              var i = 0
              while (i < dim) { s(c * dim + i) += vec(i); i += 1 }
              n(c) += 1
            }
        }
        bc.destroy()
        centroids = centroids.indices.map { c =>
          if (counts(c) > 0) {
            val mean = new Array[Double](dim)
            var i = 0
            while (i < dim) { mean(i) = sums(c * dim + i) / counts(c); i += 1 }
            normalize(mean)
          } else centroids(c) // empty cell: keep previous
        }.toArray
        it += 1
      }
      clean.unpersist(blocking = false)
    }
    centroids
  }

  /** One dense (sums, counts) partial per non-empty partition, merged
    * on the driver in PARTITION order. `collect()` returns results
    * indexed by partition regardless of task completion order, so the
    * float-sum merge order is fixed and the fold is bit-identical
    * across runs — `treeAggregate`/`fold` merge partials in task-
    * ARRIVAL order and are NOT reproducible (a last-ulp drift that
    * breaks the "same centroids on every run/cluster" contract both
    * Lloyd trainers advertise). Each partial is k·dim doubles (tens of
    * KB), so the driver fetch is bounded by partition count — the same
    * class of bounded collect as the group-sum rows it replaces.
    */
  private[graft] def densePartialFold(
      rows: org.apache.spark.rdd.RDD[Array[Double]],
      sumLen: Int, cntLen: Int)(
      fold: (Array[Double], Array[Long], Array[Double]) => Unit)
      : (Array[Double], Array[Long]) = {
    val partials = rows.mapPartitions { it =>
      val s = new Array[Double](sumLen)
      val n = new Array[Long](cntLen)
      var any = false
      it.foreach { v => fold(s, n, v); any = true }
      if (any) Iterator.single((s, n)) else Iterator.empty
    }.collect()
    val s = new Array[Double](sumLen)
    val n = new Array[Long](cntLen)
    partials.foreach { case (ps, pn) =>
      var i = 0
      while (i < sumLen) { s(i) += ps(i); i += 1 }
      var c = 0
      while (c < cntLen) { n(c) += pn(c); c += 1 }
    }
    (s, n)
  }

  /** Unit-normalized flat k×dim matrix + dead flags for zero-norm rows
    * — the same reference layout [[graft.functions.NearestCentroidExpr]]
    * embeds in codegen.
    */
  private[graft] def flattenUnitNorm(
      centroids: Array[Array[Double]]): (Array[Double], Array[Boolean]) = {
    val k = centroids.length
    val dim = centroids.head.length
    val flat = new Array[Double](k * dim)
    val dead = new Array[Boolean](k)
    var c = 0
    while (c < k) {
      val row = centroids(c)
      val n = math.sqrt(row.map(x => x * x).sum)
      if (n == 0.0) dead(c) = true
      else {
        var i = 0
        while (i < dim) { flat(c * dim + i) = row(i) / n; i += 1 }
      }
      c += 1
    }
    (flat, dead)
  }

  /** Driver/executor-local mirror of NearestCentroidExpr's assignment
    * (argmax dot over live unit-norm centroids, ties → lowest id).
    * Returns −1 for rows that shouldn't vote in a training fold
    * (zero norm, no live cell) — the expr files those under cell 0 at
    * index time, which the training loop deliberately skips.
    */
  private[graft] def nearestCellLocal(vec: Array[Double],
      flat: Array[Double], dead: Array[Boolean], dim: Int): Int = {
    if (vec.length != dim) return -1
    var norm2 = 0.0
    var i = 0
    while (i < dim) { norm2 += vec(i) * vec(i); i += 1 }
    if (norm2 == 0.0) return -1
    var best = -1
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < dead.length) {
      if (!dead(c)) {
        var dot = 0.0
        val off = c * dim
        var j = 0
        while (j < dim) { dot += flat(off + j) * vec(j); j += 1 }
        if (dot > bestDot) { bestDot = dot; best = c }
      }
      c += 1
    }
    best
  }

  /** IVF index: every row assigned to its nearest-centroid cell.
    * At scale, repartition by `cell` and persist/bucket-write so a
    * probe reads only the probed cells' partitions — per-query cost
    * O(n·nprobe/cells) instead of O(n), the same partition-pruning
    * contract as the LSH index but with DATA-ADAPTIVE cells (k-means
    * follows the corpus's density; hyperplanes are data-oblivious).
    */
  def ivfIndex(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("vec"),
      nearestCell(v, centroids).as("cell"))
  }

  /** Persist an IVF index partitioned BY CELL: each cell becomes its
    * own parquet directory, so any probe that filters on `cell`
    * (both [[topKIvf]] and [[topKIvfExact]] do) is partition-PRUNED at
    * the file level — a probe opens only the probed cells' files, and
    * per-query cost becomes O(occupancy·nprobe) in BYTES READ, not
    * just rows scanned. The in-memory [[ivfIndex]] frame is the build
    * artifact; this is the serve artifact — built once, probed by
    * every subsequent query (the same write-time-investment contract
    * as bucketed joins).
    */
  def writeIvfIndex(index: DataFrame, path: String): Unit = {
    val (v, staged) = IndexManifest.stage(path)
    // one file per cell directory: later mutations pay O(files) in
    // carry/GC/listing, so the base layout minimizes the constant
    index.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staged/data")
    IndexManifest.commit(path, v)
  }

  /** INCREMENTAL maintenance of a disk IVF index — the IVF-family twin
    * of [[appendLshIndex]]: delta rows are assigned to the EXISTING
    * (history-trained) centroids — arrival never retrains — and land
    * as a LEVEL-0 `data_delta` artifact (few unpartitioned files,
    * `cell` as a data column clustered for row-group pruning) at
    * O(delta) cost; base files are never rewritten. Fanning a small
    * delta into the `cell=` directory layout instead would create
    * O(cells) tiny files per append — the file-commit overhead that
    * made this verb super-linear in the round-10 probe. Reads union
    * the level-0 files; [[compactIvfIndex]] folds them into the
    * partitioned layout (the LSM contract — same shape as
    * [[graft.llm.Pq.appendIvfPqIndex]]). Exactness of the
    * branch-and-bound serve survives the append BY CONSTRUCTION:
    * [[cellRadii]] recomputed over base+delta reflects every member's
    * actual assignment, so the cell upper bounds remain sound no
    * matter how off-distribution the delta is (a drifted delta only
    * widens radii, costing probes, never answers).
    */
  def appendIvfIndex(delta: DataFrame, vecCol: String, idCol: String,
      path: String, centroids: Array[Array[Double]]): Unit =
    IndexManifest.mutate(path) { m =>
      IndexManifest.carry(path, m.dir, "data")
      IndexManifest.carry(path, m.dir, "data_delta")
      IndexManifest.carry(path, m.dir, "tombstones")
      ivfIndex(delta, vecCol, idCol, centroids)
        .repartition(col("cell")).sortWithinPartitions(col("cell"))
        .write.mode("append").parquet(s"${m.dir}/data_delta")
      IndexManifest.commitCas(path, m.version, m.base): Unit
    }

  /** DELETE from a disk IVF index — the removal verb for the IVF
    * family, completing delete symmetry across LSH / IVF / BM25
    * indexes: same (append-only tombstone sidecar, fold-on-read,
    * physical removal deferred to compaction) protocol as
    * [[deleteFromLshIndex]], and the same sidecar format, so one
    * takedown pipeline serves every index kind. Soundness of the
    * branch-and-bound serve is unaffected: folding happens before
    * scoring, and radii computed over the folded frame only tighten.
    */
  def deleteFromIvfIndex(ids: DataFrame, idCol: String,
      path: String): Unit =
    deleteFromLshIndex(ids, idCol, path)

  /** COMPACT a disk IVF index: rewrite the `cell=` layout minus any
    * tombstoned ids into a staged version carrying no tombstone
    * artifact, published by the same single [[IndexManifest.commit]]
    * pointer flip as [[compactLshIndex]] — crash-atomic by
    * construction.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexManifest.mutate(path) { m =>
      readIvfIndex(spark, path, m.base) // tombstones fold here
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"${m.dir}/data")
      IndexManifest.commitCas(path, m.version, m.base): Unit
    }

  /** Read a disk IVF index back; `cell` returns as a partition column,
    * so cell filters prune directories (verify via PartitionFilters in
    * the scan node). Pending tombstones fold here — a deleted id is
    * unservable immediately, before any compaction rewrites bytes.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[String] = None): DataFrame = {
    // ONE pointer resolution: every artifact below reads from the same
    // committed version ([[IndexManifest.artifactPaths]] resolves
    // listing-layout refs uniformly)
    val ver = Some(version.getOrElse(IndexManifest.resolve(path)))
    val df = IndexManifest.readArtifact(spark, path, "data", ver)
    // partition-column types infer as the narrowest integral; probes
    // compare against Int cell ids
    val base0 =
      df.select(col("id"), col("vec"), col("cell").cast("int").as("cell"))
    // level-0 appends ([[appendIvfIndex]]) union in; cell filters
    // prune them at row-group stats until compaction folds them
    val base =
      if (IndexManifest.artifactNonEmpty(path, "data_delta", ver))
        base0.unionByName(
          IndexManifest.readArtifact(spark, path, "data_delta", ver)
            .select(col("id"), col("vec"),
              col("cell").cast("int").as("cell")))
      else base0
    readTombstones(spark, path, ver) match {
      case Some(t) => base.join(broadcast(t),
          base("id") === t("graft_dead_id"), "left_anti")
        .select(col("id"), col("vec"), col("cell"))
      case None => base
    }
  }

  /** The `nprobe` cells nearest to a query vector (driver-side — the
    * centroid table is tiny by construction).
    */
  def probeCells(query: Array[Double], centroids: Array[Array[Double]],
      nprobe: Int): Seq[Int] = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    centroids.zipWithIndex.map { case (c, i) =>
      val d = c.zip(query).map { case (a, b) => a * b }.sum
      (if (qn == 0) 0.0 else d / qn, i)
    }.sortBy { case (score, i) => (-score, i) }
      .take(nprobe).map(_._2).toSeq
  }

  /** IVF ANN top-k: score only rows in the `nprobe` nearest cells.
    * Recall is bought with `nprobe` (probe more cells), never by
    * shrinking the cell count below what keeps per-cell scan cost
    * bounded — the IVF analogue of "tables, not coarser buckets".
    */
  def topKIvf(index: DataFrame, query: Array[Double],
      centroids: Array[Array[Double]], k: Int, nprobe: Int): DataFrame = {
    val cells = probeCells(query, centroids, nprobe)
    val q = typedLit(query.toSeq)
    index
      .filter(col("cell").isin(cells: _*))
      .select(col("id"), cosineNative(col("vec"), q).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Batch k-NN JOIN, brute-force over a BOUNDED query set: for every
    * query row, the exact top-k corpus rows by cosine. The serving
    * shape of similarity search — one query per call
    * ([[topKIvfExact]]) is a lookup; retrieval pipelines (RAG context
    * assembly, embedding-join enrichment) need top-k PER ROW of a
    * query table.
    *
    * Plan: the query side broadcasts (it is the bounded side — tens to
    * tens of thousands of rows), the corpus is scanned ONCE through a
    * broadcast nested-loop cross join, and per-(query, partition)
    * candidates fold into a bounded O(k) [[graft.functions.TopKMaxByScore]]
    * partial BEFORE the exchange — so the shuffle carries
    * q·k·partitions rows, never the q·n scored cross product, and no
    * per-query group is ever sorted in one task (the window-sort
    * anti-shape). At 100 TB this is corpus-scan-bound: exactly one
    * pass over the vectors regardless of q. For query sides too big to
    * broadcast, the bucketed pair joins ([[similarityJoinMultiProbe]])
    * are the symmetric-scale path.
    *
    * Exact by construction (every corpus row is scored), so the
    * brute-force oracle applies verbatim; ties resolve (score desc,
    * id asc) — deterministic.
    *
    * Precondition: query vectors must be clean (non-null, matching
    * dim, non-zero norm). A query row whose vector scores null against
    * every corpus row produces NO output group (it has no defined
    * neighbors) — same null-out-don't-crash policy as the rest of the
    * module, but callers diffing against a row_number formulation
    * should know the group count can shrink.
    */
  def knnJoinBrute(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), v.as("graft_knn_qv")))
    corpus.select(col(idCol).as("id"), v.as("graft_knn_cv"))
      .join(q) // broadcast cross join: corpus scanned once
      .select(col("query_id"), col("id"),
        cosineNative(col("graft_knn_cv"), col("graft_knn_qv")).as("score"))
      .filter(col("score").isNotNull)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKMaxByScore(k)(col("score"), col("id"))
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"),
        col("e.score").as("score"))
  }

  /** Batch k-NN join via multi-table multiprobe LSH — the SCALE path of
    * [[knnJoinBrute]]: instead of scoring every (query, corpus) pair,
    * each query row probes its Hamming-≤r bucket neighborhood in each
    * of L tables and only bucket-mates are scored.
    *
    * Plan shape (the load-bearing properties):
    *   - probe generation is IN-PLAN (per-row signature + bitwiseXOR
    *     flips over slim (table, sig, query_id) rows) — no driver-side
    *     signature computation, so the query side may be any size, not
    *     just a broadcastable one;
    *   - the candidate join is an equi-join on (table, sig) between two
    *     SLIM frames; vectors join back onto the DEDUPED (query_id, id)
    *     candidate list (query vectors broadcast, corpus vectors from
    *     the un-exploded source — the [[similarityJoinMultiTable]]
    *     payload rule);
    *   - the top-k fold is the same bounded [[graft.functions.TopKMaxByScore]]
    *     aggregate pair as the brute join — no window sort.
    *
    * Cost at 100 TB: candidates ≈ q · tables · probes · bucketSize,
    * independent of corpus row count (bucketSize rides `bitsFor`);
    * corpus vectors are touched only for candidate ids. Recall is
    * bought with probes × tables exactly as in [[topKAnnMultiTable]] —
    * and must be VALIDATED for a k-NN workload (the k-th neighbor is
    * usually farther than a near-dup threshold pair, so catch
    * probability per table is lower; the registered query pins
    * hash-equality against the exact answer at 3 SFs).
    */
  def knnJoinAnn(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, dim: Int, bits: Int,
      tables: Int = 8, probeHamming: Int = 2,
      seedPrefix: String = "lsh"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val slim = multiTableIndex(corpus, vecCol, idCol, dim, bits, tables,
      seedPrefix).select(col("table"), col("sig"), col("id"))
    val qSigCols = (0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, s"$seedPrefix/t$t")
      struct(lit(t).as("table"), signature(v, planes).as("sig")).as(s"s$t")
    }
    val qSlim = queries.select(col(idCol).as("query_id"),
        explode(array(qSigCols: _*)).as("ts"))
      .select(col("query_id"), col("ts.table").as("table"),
        col("ts.sig").as("sig"))
    val flips = scala.collection.mutable.ArrayBuffer[Column](col("sig"))
    if (probeHamming >= 1) (0 until bits).foreach(i =>
      flips += col("sig").bitwiseXOR(lit(1L << i)))
    if (probeHamming >= 2) for (i <- 0 until bits; j <- (i + 1) until bits)
      flips += col("sig").bitwiseXOR(lit((1L << i) | (1L << j)))
    if (probeHamming >= 3)
      for (i <- 0 until bits; j <- (i + 1) until bits;
           l <- (j + 1) until bits)
        flips += col("sig")
          .bitwiseXOR(lit((1L << i) | (1L << j) | (1L << l)))
    val qProbes = qSlim.select(col("table"),
      explode(array(flips.toSeq: _*)).as("sig"), col("query_id"))
    val cands = qProbes.join(slim, Seq("table", "sig"))
      .select(col("query_id"), col("id"))
      .distinct()
    val qVecs = broadcast(queries.select(col(idCol).as("query_id"),
      v.as("graft_knn_qv")))
    val cVecs = corpus.select(col(idCol).as("id"), v.as("graft_knn_cv"))
    cands.join(cVecs, Seq("id")).join(qVecs, Seq("query_id"))
      .select(col("query_id"), col("id"),
        cosineNative(col("graft_knn_cv"), col("graft_knn_qv")).as("score"))
      .filter(col("score").isNotNull)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKMaxByScore(k)(col("score"), col("id"))
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"),
        col("e.score").as("score"))
  }

  /** Batch ANN k-NN join served from the DISK index — [[knnJoinAnn]]
    * with the corpus side replaced by the persisted (table, grp)-
    * partitioned LSH index, so a retrieval batch touches only probed
    * DIRECTORIES. The probe frame carries the partition columns
    * (table, grp = sig mod groups) as join keys, which is exactly the
    * shape Spark's DYNAMIC PARTITION PRUNING exists for: the broadcast
    * probe side's (table, grp) values become a runtime
    * DynamicPruningSubquery filter on the partitioned scan — no
    * driver-side probe-list compilation (contrast [[topKAnnDisk]],
    * whose single-query probe list is static), the engine prunes
    * directories from the JOIN itself. KnnJoinSpec pins the
    * `dynamicpruning` expression in the scan's PartitionFilters.
    *
    * At 100 TB: per-batch bytes read = probed directories only
    * (q·tables·probes signatures land in ≤ tables·groups dirs), scored
    * candidates ≈ q·tables·probes·bucketSize — both independent of
    * corpus row count; the full-corpus scan of [[knnJoinBrute]] never
    * happens.
    */
  def knnJoinAnnDisk(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, vecCol: String, idCol: String,
      k: Int, dim: Int, bits: Int, tables: Int = 8,
      probeHamming: Int = 2, groups: Int = 64,
      seedPrefix: String = "lsh"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val idx = readLshIndex(spark, path)
    val qSigCols = (0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, s"$seedPrefix/t$t")
      struct(lit(t).as("table"), signature(v, planes).as("sig")).as(s"s$t")
    }
    val qSlim = queries.select(col(idCol).as("query_id"),
        explode(array(qSigCols: _*)).as("ts"))
      .select(col("query_id"), col("ts.table").as("table"),
        col("ts.sig").as("sig"))
    val flips = scala.collection.mutable.ArrayBuffer[Column](col("sig"))
    if (probeHamming >= 1) (0 until bits).foreach(i =>
      flips += col("sig").bitwiseXOR(lit(1L << i)))
    if (probeHamming >= 2) for (i <- 0 until bits; j <- (i + 1) until bits)
      flips += col("sig").bitwiseXOR(lit((1L << i) | (1L << j)))
    val qProbes = qSlim.select(col("table"),
        explode(array(flips.toSeq: _*)).as("sig"), col("query_id"))
      .withColumn("grp", pmod(col("sig"), lit(groups.toLong)))
    val qVecs = broadcast(queries.select(col(idCol).as("query_id"),
      v.as("graft_knn_qv")))
    idx.join(broadcast(qProbes), Seq("table", "grp", "sig"))
      .select(col("query_id"), col("id"), col("vec"))
      .dropDuplicates("query_id", "id")
      .join(qVecs, Seq("query_id"))
      .select(col("query_id"), col("id"),
        cosineNative(col("vec"), col("graft_knn_qv")).as("score"))
      .filter(col("score").isNotNull)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKMaxByScore(k)(col("score"), col("id"))
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("id"),
        col("e.score").as("score"))
  }

  /** Disk-served multi-table LSH index — the build-once/serve-many
    * path for hyperplane ANN (the [[writeIvfIndex]] contract, for the
    * LSH family). Layout: partitioned by `(table, grp)` where
    * `grp = sig mod groups` — NOT by raw signature: at the b≈20 bits a
    * 100 TB corpus needs, per-sig directories would mean 2²⁰ dirs per
    * table (filesystem-hostile), while a fixed `groups` keeps the
    * directory count bounded at tables·groups regardless of bit width.
    * Files are sorted by `sig` within each partition, so the residual
    * per-sig selection inside a probed directory rides parquet
    * row-group min/max stats instead of a full directory scan.
    */
  def writeLshIndex(index: DataFrame, path: String,
      groups: Int = 64): Unit = {
    val (v, staged) = IndexManifest.stage(path)
    index.select(col("table"), col("sig"), col("id"), col("vec"))
      .withColumn("grp", pmod(col("sig"), lit(groups.toLong)))
      .repartition(col("table"), col("grp"))
      .sortWithinPartitions(col("sig"))
      .write.mode("overwrite").partitionBy("table", "grp")
      .parquet(s"$staged/data")
    // a rebuild starts a fresh era: no tombstones carried
    IndexManifest.commit(path, v)
  }

  /** INCREMENTAL maintenance of a disk LSH index — the nightly-ingest
    * half of build-once/serve-many (the batch-ANN analogue of
    * `dedup_incremental`'s asymmetric incoming-vs-history join). The
    * hyperplane family is a pure function of (dim, bits, seedPrefix),
    * so a delta computes byte-identical signatures to the base build
    * and its rows land in the SAME (table, grp) directory layout.
    * Base files carry into the new version without copying a byte
    * ([[IndexManifest.carry]] — hard links on posix roots, listing
    * refs on object-store roots) and the delta appends as new
    * files beside them; the [[IndexManifest.commit]] pointer flip
    * publishes base+delta atomically, so a concurrent reader sees the
    * whole old or the whole new index, never a torn listing. The
    * serve path ([[topKAnnDisk]]) is unchanged — probes prune to the
    * same directories. Cost is O(delta) data + O(file-count) link
    * metadata, never O(corpus bytes): exactly what a 100 TB corpus
    * needs when 0.1% arrives nightly. Within-partition sig sort holds
    * per file (base and delta files are each sorted), so row-group
    * stats pruning still applies.
    */
  def appendLshIndex(delta: DataFrame, vecCol: String, idCol: String,
      path: String, dim: Int, bits: Int, tables: Int = 8,
      groups: Int = 64, seedPrefix: String = "lsh"): Unit =
    IndexManifest.mutate(path) { m =>
      IndexManifest.carry(path, m.dir, "data")
      IndexManifest.carry(path, m.dir, "tombstones")
      multiTableIndex(delta, vecCol, idCol, dim, bits, tables, seedPrefix)
        .select(col("table"), col("sig"), col("id"), col("vec"))
        .withColumn("grp", pmod(col("sig"), lit(groups.toLong)))
        .repartition(col("table"), col("grp"))
        .sortWithinPartitions(col("sig"))
        .write.mode("append").partitionBy("table", "grp")
        .parquet(s"${m.dir}/data")
      IndexManifest.commitCas(path, m.version, m.base): Unit
    }

  /** COMPACTION of an appended index — the third maintenance verb of
    * the lifecycle (build → append× → compact): every append leaves
    * one more small file per touched partition directory, and probe
    * cost is paid per FILE opened, so a nightly-append index degrades
    * toward open-file overhead until compacted. Rewrites the index
    * with one file per (table, grp) directory (re-sorted by sig, so
    * row-group pruning recovers the freshly-built layout) as a NEW
    * staged version, published by [[IndexManifest.commit]]'s single
    * pointer flip — a crash anywhere leaves the pre- or
    * post-compaction index serving, never a mixture (pinned by
    * IndexManifestSpec's failure injection). Tombstoned ids
    * ([[deleteFromLshIndex]]) are FOLDED: compaction drops their rows
    * and the new version carries no tombstone artifact, so
    * post-compaction serves pay no anti-join. Surviving content is
    * byte-equal by construction; LshDiskSpec pins serve equality and
    * the file-count drop.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexManifest.mutate(path) { m =>
      val dead = readTombstones(spark, path, m.base)
      val base = readLshIndex(spark, path, m.base)
      val folded = (dead match {
        case Some(ids) => base.join(broadcast(ids),
          base("id") === ids("graft_dead_id"), "left_anti")
        case None => base
      })
        .select(col("table"), col("sig"), col("id"), col("vec"),
          col("grp"))
      folded
        .repartition(col("table"), col("grp"))
        .sortWithinPartitions(col("sig"))
        .write.mode("overwrite").partitionBy("table", "grp")
        .parquet(s"${m.dir}/data")
      IndexManifest.keepSchema(folded, s"${m.dir}/data", "table", "grp")
      // tombstones are folded into the rewrite: the new version carries
      // none, and both changes publish in the ONE pointer flip
      IndexManifest.commitCas(path, m.version, m.base): Unit
    }

  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }

  /** Drop any pending tombstone set (used by rebuilds: a fresh index
    * must not inherit a prior corpus version's takedowns). A no-op on
    * an uncommitted root; otherwise commits a new version carrying
    * the data artifact only.
    */
  def clearTombstones(path: String): Unit =
    if (IndexManifest.exists(path))
      IndexManifest.mutate(path) { m =>
        IndexManifest.carry(path, m.dir, "data")
        IndexManifest.carry(path, m.dir, "data_delta")
        IndexManifest.commitCas(path, m.version, m.base): Unit
      }

  /** DELETE from a disk LSH index — the removal verb of the lifecycle
    * (GDPR-style takedown): deleted ids append as a TOMBSTONE parquet
    * sidecar at O(delta-ids) cost; index data files are untouched (a
    * row's bytes disappear at the next [[compactLshIndex]], which
    * folds tombstones and clears the set). Serving anti-joins the
    * tombstone set (broadcast — takedown sets are small relative to
    * the corpus), so a deleted id is unservable IMMEDIATELY after this
    * returns, before any rewrite happens — the same
    * logical-delete/physical-rewrite split as the V2 catalog's
    * copy-on-write DML, applied to the index world.
    */
  def deleteFromLshIndex(ids: DataFrame, idCol: String,
      path: String): Unit =
    IndexManifest.mutate(path) { m =>
      IndexManifest.carry(path, m.dir, "data")
      // IVF roots ([[deleteFromIvfIndex]] delegates here) may hold
      // level-0 appends; a no-op for LSH roots, which have none
      IndexManifest.carry(path, m.dir, "data_delta")
      IndexManifest.carry(path, m.dir, "tombstones")
      ids.select(col(idCol).as("graft_dead_id")).distinct()
        .coalesce(1)
        .write.mode("append").parquet(s"${m.dir}/tombstones")
      IndexManifest.commitCas(path, m.version, m.base): Unit
    }

  /** The tombstone set of `version`, if any deletions are pending
    * (None ⇒ serve pays zero anti-join cost — the common case and the
    * post-compact steady state).
    */
  private def readTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[String]): Option[DataFrame] =
    if (IndexManifest.artifactNonEmpty(path, "tombstones", version))
      Some(IndexManifest.readArtifact(spark, path, "tombstones", version))
    else None

  def readLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[String] = None): DataFrame = {
    val df = IndexManifest.readArtifact(spark, path, "data",
      Some(version.getOrElse(IndexManifest.resolve(path))))
    df.select(col("id"), col("vec"), col("sig"),
      col("table").cast("int").as("table"),
      col("grp").cast("long").as("grp"))
  }

  /** Per table: the query's probed signatures (Hamming ≤
    * `probeHamming`) and their `grp = sig mod groups` directories.
    */
  private def annProbes(query: Array[Double], dim: Int, bits: Int,
      tables: Int, probeHamming: Int, groups: Int,
      seedPrefix: String): IndexedSeq[(Seq[Long], Seq[Long])] =
    (0 until tables).map { t =>
      val qSig = signatureOf(query, hyperplanes(dim, bits, s"$seedPrefix/t$t"))
      val sigs = probeSignatures(qSig, bits, probeHamming)
      (sigs, sigs.map(sg => java.lang.Math.floorMod(sg, groups.toLong)).distinct)
    }

  /** Serve a top-k query from a disk LSH index. The read resolves the
    * committed version once ([[IndexManifest.resolve]]); everything
    * below reads that version only.
    *
    * A version whose `data` and `tombstones` decode within the
    * driver-side buffer's budget (1/32 of the driver's max heap, in
    * decoded bytes; see `IndexBuffer`) is decoded once into
    * primitive arrays, and every read of it is then answered in this
    * JVM with no Spark job, as a local `DataFrame` — the same probe
    * predicate, tombstone anti-join, cosine kernel and
    * `score desc, id` order as the plan below, so the same rows and
    * bit-equal scores. The first read after each commit pays the
    * decode (a footer read, then one streamed scan per artifact).
    *
    * A bigger version runs the partition-pruned Spark plan: the closed
    * multiprobe list per table compiles to partition filters on
    * `(table, grp)` — only probed directories are listed/read — plus
    * an exact `sig IN` row filter evaluated against sorted row groups.
    * Per-query bytes read = O(probes · groupOccupancy), independent of
    * corpus size.
    */
  def topKAnnDisk(spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Double], dim: Int, bits: Int, tables: Int, k: Int,
      probeHamming: Int = 2, groups: Int = 64,
      seedPrefix: String = "lsh"): DataFrame = {
    val ver = IndexManifest.resolve(path)
    IndexBuffer.lsh(spark, path, ver) match {
      case Some(buffered) => buffered.topK(spark, annProbes(query, dim, bits,
        tables, probeHamming, groups, seedPrefix), query, k)
      case None => topKAnnDiskPlan(spark, path, ver, query, dim, bits,
        tables, k, probeHamming, groups, seedPrefix)
    }
  }

  /** The Spark plan of [[topKAnnDisk]] over an already-resolved
    * `version` — the path for versions over the buffer's budget, and
    * the reference the buffered serve is checked against.
    */
  private[graft] def topKAnnDiskPlan(
      spark: org.apache.spark.sql.SparkSession, path: String,
      version: String, query: Array[Double], dim: Int, bits: Int,
      tables: Int, k: Int, probeHamming: Int = 2, groups: Int = 64,
      seedPrefix: String = "lsh"): DataFrame = {
    val idx = readLshIndex(spark, path, Some(version))
    val probes = annProbes(query, dim, bits, tables, probeHamming, groups,
      seedPrefix)
    val probe = probes.zipWithIndex.map { case ((sigs, grps), t) =>
      col("table") === lit(t) && col("grp").isin(grps: _*) &&
        col("sig").isin(sigs: _*)
    }.reduce(_ || _)
    val q = typedLit(query.toSeq)
    val hits = idx.filter(probe)
      .select(col("id"), col("vec"))
      .dropDuplicates("id")
    // pending tombstones anti-join away (deleted ids are unservable
    // before any physical rewrite); post-compaction this is a no-op
    val alive = readTombstones(spark, path, Some(version)) match {
      case Some(ids) => hits.join(broadcast(ids),
        hits("id") === ids("graft_dead_id"), "left_anti")
      case None => hits
    }
    alive
      .select(col("id"), cosineNative(col("vec"), q).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Cell-count rule: cells ≈ n / targetCellSize (clamped ≥ 2) — cell
    * population stays constant as the corpus grows; probe cost is then
    * controlled by `nprobe` alone.
    */
  def cellsFor(n: Long, targetCellSize: Int = 64): Int =
    math.max(2, math.min((n / math.max(targetCellSize, 1)).toInt, 4096))

  private def clampCos(x: Double): Double = math.min(1.0, math.max(-1.0, x))

  /** Per-cell angular radius r_c = max over members of angle(v, ĉ_c),
    * computed in the same pass that assigns cells (the k dot products
    * are already paid for assignment). Zero-norm members get radius π
    * (no pruning claim can be made about them). This is the metadata
    * that upgrades IVF from fixed-nprobe approximate to EXACT
    * branch-and-bound: for any member x of cell c and query q,
    * angle(q,x) ≥ angle(q,ĉ) − r_c, so
    * `cos(max(0, θ_qc − r_c))` upper-bounds every score in the cell.
    */
  def cellRadii(index: DataFrame, centroids: Array[Array[Double]]): Array[Double] = {
    val got = cellMaxAngles(index, centroids)
    Array.tabulate(centroids.length)(c => got.getOrElse(c, math.Pi))
  }

  /** Per-cell max member angle as a sparse map (only cells with
    * members appear) — the shared kernel of [[cellRadii]] and the
    * radii-WIDENING step of incremental index appends
    * ([[graft.llm.Pq.appendIvfPqIndex]]), where absent cells must keep
    * their old radius rather than collapse to the π default.
    */
  private[graft] def cellMaxAngles(index: DataFrame,
      centroids: Array[Array[Double]]): Map[Int, Double] = {
    // fused own-centroid cosine: the composable element_at(array(k
    // cosines), cell+1) form planned k cosine expressions per row and
    // its codegen COMPILATION dominated the radii job at k≈30
    // (ProfileIvfPq: 2.2 s → ~0.5 s); results are bit-identical
    val ccos = graft.functions.GraftFunctions.centroidCosine(
      col("vec"), col("cell").cast("int"), centroids)
    val angle = when(ccos.isNull, lit(math.Pi))
      .otherwise(acos(least(greatest(ccos, lit(-1.0)), lit(1.0))))
    index
      .select(col("cell"), angle.as("angle"))
      .groupBy(col("cell")).agg(max(col("angle")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** EXACT top-k over an IVF index via cell-bound pruning (the
    * branch-and-bound formulation of IVF search): probe the `nprobe`
    * cells with the highest upper bound, then probe every remaining
    * cell whose bound still exceeds the k-th score found (with a 1e-9
    * float margin) — after which no unprobed cell can contain a top-k
    * member, so the answer equals brute force BY CONSTRUCTION on any
    * corpus. On clustered data phase 2 is usually empty and cost is
    * the nprobe cells; on adversarially isotropic data it degrades
    * toward a full scan — exactness is the contract, the corpus decides
    * the speedup (same honesty as [[graft.llm.Dedup.jaccardJoinExact]]).
    * Driver work is two jobs and k rows; the cell metadata (centroids +
    * radii) is O(cells·dim), kept driver-side like any index metadata.
    */
  /** Per-cell score upper bounds for a query, highest first: for any
    * member x of cell c, cos(q,x) ≤ cos(max(0, θ_qc − r_c)). The
    * driver-side math both [[topKIvfExact]] and
    * [[graft.llm.Pq.topKIvfPq]] prune cells with.
    */
  def cellUpperBounds(query: Array[Double],
      centroids: Array[Array[Double]],
      radii: Array[Double]): Array[(Int, Double)] = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    centroids.zipWithIndex.map { case (c, i) =>
      val cos0 = if (qn == 0) 0.0
        else clampCos(c.zip(query).map { case (a, b) => a * b }.sum / qn)
      val theta = math.acos(cos0)
      i -> math.cos(math.max(0.0, theta - radii(i)))
    }.sortBy { case (i, ub) => (-ub, i) }
  }

  def topKIvfExact(index: DataFrame, query: Array[Double],
      centroids: Array[Array[Double]], radii: Array[Double],
      k: Int, nprobe: Int): DataFrame = {
    val bounds = cellUpperBounds(query, centroids, radii)
    val phase1 = bounds.take(math.max(1, nprobe)).map(_._1)
    val q = typedLit(query.toSeq)
    val topScores = index.filter(col("cell").isin(phase1.toIndexedSeq: _*))
      .select(cosineNative(col("vec"), q).as("score"))
      .orderBy(col("score").desc).limit(k)
      .collect().flatMap(r => Option(r.get(0)).map(_ => r.getDouble(0)))
    val kth = if (topScores.length < k) -2.0 else topScores.min
    val phase2 = bounds.drop(math.max(1, nprobe))
      .filter { case (_, ub) => ub >= kth - 1e-9 }.map(_._1)
    val cells = phase1 ++ phase2
    index
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("id"), cosineNative(col("vec"), q).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }
}
