package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Product quantization over an embedding column — the memory-scale
  * path for similarity at 100 TB.
  *
  * IVF ([[Similarity]]) prunes which rows a query READS; PQ shrinks
  * what each row COSTS: a 64-dim float32 vector (256 B) compresses to
  * one byte per subspace (m = 8 → 8 B, 32×), so the scored
  * representation of a corpus whose raw vectors span terabytes fits in
  * executor memory, and query-time scoring touches no vector data at
  * all — m table lookups per row against an m×k lookup table built
  * driver-side from the query ([[graft.functions.PqAdcExpr]]).
  *
  * Everything is deterministic: codebooks train by hashed-id-seeded
  * Lloyd (same spread rule as [[Similarity.kmeansCentroids]]), codes
  * are a pure function of (vector, codebooks) — identical on every
  * run and cluster size.
  *
  * The pipeline composes the module's standard shapes:
  *   - train: one distributed job per Lloyd iteration covering ALL m
  *     subspaces at once (encode → explode slim (subspace, code,
  *     pos, x) rows → groupBy sums; collects only m·k·sub doubles)
  *   - encode: one fused codegen pass per row
  *     ([[graft.functions.PqEncodeExpr]]), byte-packed for storage
  *   - query: ADC shortlist (TakeOrderedAndProject over codes only)
  *     → exact cosine re-rank of the shortlist against the raw
  *     vectors (a broadcast-able id join — shortlist is O(k'))
  *
  * Vectors are L2-normalized before codebook training and encoding,
  * so the ADC inner-product sum approximates true cosine and the
  * re-rank stage consumes the same scale the shortlist was built on.
  */
object Pq {

  /** Trained model: m subspaces × k codewords × (dim/m) doubles. */
  final case class PqModel(dim: Int, m: Int, k: Int,
      codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.length == m && codebooks.forall(_.length == k) &&
      codebooks.forall(_.forall(_.length == dim / m)),
      s"codebooks must be m=$m × k=$k × ${dim / m}")
  }

  /** L2-normalized copy of `vecCol` (null/zero-norm/dirty rows drop):
    * the frame every training/encode step consumes.
    */
  private[graft] def normalized(df: DataFrame, vecCol: String, idCol: String,
      dim: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("vec"))
      .filter(size(col("vec")) === lit(dim) &&
        !exists(col("vec"), _.isNull))
      .withColumn("nrm", sqrt(aggregate(col("vec"), lit(0.0),
        (acc, x) => acc + x * x)))
      .filter(col("nrm") > 0)
      .select(col("id"),
        transform(col("vec"), x => x / col("nrm")).as("nv"))
  }

  /** Train PQ codebooks: deterministic seeds (hashed-id order, the
    * [[Similarity.kmeansCentroids]] spread rule) sliced into m
    * subvectors, then `iters` Lloyd rounds. Each round is ONE
    * shuffle-free job for all m subspaces: `mapPartitions` folds every
    * row into dense per-partition (m·k·sub sums, m·k counts) arrays,
    * merged partition-ordered on the driver
    * (`Similarity.densePartialFold` — bit-deterministic, unlike
    * arrival-order treeAggregate) — the same map-side-combine shape as
    * [[Similarity.kmeansCentroids]] (and MLlib's KMeans). The previous
    * form (encode expr → double
    * posexplode → groupBy(j, code, pos)) shuffled n·dim slim rows per
    * round; its per-job fixed cost dominated the cold IVF+PQ build
    * tail at fixture scale. Per-row assignment mirrors
    * [[graft.functions.PqEncodeExpr]] exactly (argmax of
    * `v_j·c − ‖c‖²/2` per subspace, ties → lowest codeword id). Empty
    * codewords keep their previous value.
    */
  def trainCodebooks(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, m: Int = 8, k: Int = 256, iters: Int = 3): PqModel = {
    require(m > 0 && dim % m == 0,
      s"dim=$dim must divide into m=$m subspaces")
    require(k > 0 && k <= 256, s"k=$k must be in [1, 256] (byte codes)")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val sub = dim / m

    // seeds + every Lloyd round re-read this frame: persist for the
    // duration of training (at corpus scale, re-scanning + re-
    // normalizing the vectors once per iteration is the dominant
    // avoidable cost)
    val base = normalized(df, vecCol, idCol, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    // deterministic seed rows → initial codebooks (subvector slices)
    val seeds = base
      .select(col("nv"), pmod(xxhash64(col("id")), lit(1000000007L)).as("h"),
        col("id").as("seed_id"))
      .orderBy(col("h"), col("seed_id"))
      .limit(k)
      .collect().map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "no clean vectors to train on")
    var books: Array[Array[Array[Double]]] = Array.tabulate(m, k) { (j, c) =>
      val seed = seeds(c % seeds.length)
      java.util.Arrays.copyOfRange(seed, j * sub, (j + 1) * sub)
    }

    val sp = df.sparkSession
    import sp.implicits._
    val rows = base.select(col("nv")).as[Array[Double]]
    var it = 0
    while (it < iters) {
      // flat m×k×sub codeword tensor + half squared norms — the same
      // reference layout PqEncodeExpr embeds; assignment below uses the
      // identical argmax(v_j·c − ‖c‖²/2) rule
      val flat = new Array[Double](m * k * sub)
      val halfNorm2 = new Array[Double](m * k)
      var j0 = 0
      while (j0 < m) {
        var c0 = 0
        while (c0 < k) {
          val cw = books(j0)(c0)
          var n2 = 0.0
          var i0 = 0
          while (i0 < sub) {
            flat((j0 * k + c0) * sub + i0) = cw(i0)
            n2 += cw(i0) * cw(i0)
            i0 += 1
          }
          halfNorm2(j0 * k + c0) = 0.5 * n2
          c0 += 1
        }
        j0 += 1
      }
      val bc = sp.sparkContext.broadcast((flat, halfNorm2))
      val (sums, counts) = Similarity.densePartialFold(
        rows.rdd, m * k * sub, m * k) { (s, n, vec) =>
        if (vec.length == dim) {
          val (f, h) = bc.value
          var j = 0
          while (j < m) {
            var best = 0
            var bestScore = Double.NegativeInfinity
            var c = 0
            while (c < k) {
              var dot = 0.0
              val off = (j * k + c) * sub
              var i = 0
              while (i < sub) { dot += f(off + i) * vec(j * sub + i); i += 1 }
              val score = dot - h(j * k + c)
              if (score > bestScore) { bestScore = score; best = c }
              c += 1
            }
            val off = (j * k + best) * sub
            var i = 0
            while (i < sub) { s(off + i) += vec(j * sub + i); i += 1 }
            n(j * k + best) += 1
            j += 1
          }
        }
      }
      bc.destroy()
      books = Array.tabulate(m, k) { (j, c) =>
        if (counts(j * k + c) > 0) {
          val mean = new Array[Double](sub)
          var i = 0
          while (i < sub) {
            mean(i) = sums((j * k + c) * sub + i) / counts(j * k + c)
            i += 1
          }
          mean
        } else books(j)(c) // empty codeword: keep previous
      }
      it += 1
    }
    base.unpersist(blocking = false)
    PqModel(dim, m, k, books)
  }

  /** Byte-packed PQ index: (id, codes binary) — m bytes per row, the
    * 32× form that serves a 100 TB corpus from memory. Build once,
    * persist/write like any index.
    */
  def pqIndex(df: DataFrame, vecCol: String, idCol: String,
      model: PqModel): DataFrame =
    normalized(df, vecCol, idCol, model.dim)
      .select(col("id"),
        GraftFunctions.pqPack(
          GraftFunctions.pqEncode(col("nv"), model.codebooks)).as("codes"))
      .filter(col("codes").isNotNull)

  /** Flat m×k ADC lookup table for one query vector (driver-side —
    * the same per-query scalar work as [[Similarity.probeCells]]):
    * lut[j·k + c] = q_j · codeword_{j,c}, so Σ_j lut[j·k + code_j]
    * approximates q·v̂ = cosine on normalized inputs.
    */
  def adcLut(query: Array[Double], model: PqModel): Array[Double] = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0, "query vector has zero norm")
    val sub = model.dim / model.m
    val lut = new Array[Double](model.m * model.k)
    var j = 0
    while (j < model.m) {
      var c = 0
      while (c < model.k) {
        var dot = 0.0
        var i = 0
        while (i < sub) {
          dot += (query(j * sub + i) / qn) * model.codebooks(j)(c)(i)
          i += 1
        }
        lut(j * model.k + c) = dot
        c += 1
      }
      j += 1
    }
    lut
  }

  /** ADC top-k over the packed index: score = m table reads per row,
    * TakeOrderedAndProject keeps it one pass, no vector access.
    * Approximate (quantization error) — compose with
    * [[topKRerank]] for exact final scores.
    */
  def topKAdc(index: DataFrame, query: Array[Double], model: PqModel,
      k: Int): DataFrame = {
    val lut = adcLut(query, model)
    index
      .select(col("id"),
        GraftFunctions.pqAdc(col("codes"), lut, model.k).as("adc"))
      .filter(col("adc").isNotNull)
      .orderBy(col("adc").desc, col("id"))
      .limit(k)
  }

  /** IVF×PQ index: (id, cell, codes) — the two scale levers composed.
    * Cells prune what a probe READS (partition the write by `cell`,
    * as [[Similarity.writeIvfIndex]] does, and a probe opens only the
    * probed directories); byte-packed codes shrink what each read row
    * COSTS (m bytes, ADC-scored with no vector access). Per-query
    * cost at 100 TB: O(occupancy·nprobe) rows × m bytes each.
    */
  def ivfPqIndex(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], model: PqModel): DataFrame =
    normalized(df, vecCol, idCol, model.dim)
      .select(col("id"),
        GraftFunctions.nearestCentroid(col("nv"), centroids).as("cell"),
        GraftFunctions.pqPack(
          GraftFunctions.pqEncode(col("nv"), model.codebooks)).as("codes"))
      .filter(col("codes").isNotNull)

  /** IVF×PQ top-k with EXACT cell pruning and ADC shortlisting:
    *
    *  1. probe the `nprobe` cells with the highest angular upper
    *     bound ([[Similarity.cellUpperBounds]]), ADC-shortlist them,
    *     exact-rerank the shortlist → a kth score that k REAL rows
    *     achieve;
    *  2. expand to every remaining cell whose bound still exceeds
    *     that kth score — after which no unprobed cell can hold a
    *     top-k member (the [[Similarity.topKIvfExact]] argument:
    *     cell pruning is exact, courtesy of the radii);
    *  3. ADC-shortlist and exact-rerank the phase-2 cells, then merge
    *     with the (persisted) phase-1 top-k — each probed cell
    *     partition is read exactly once.
    *
    * The only approximation left is the ADC shortlist itself (a true
    * top-k row ranked below the shortlist boundary by quantized
    * score), the same residual as [[topKRerank]] — recall is pinned
    * in PqSpec and bought with `shortlist`, never by probing fewer
    * cells.
    */
  def topKIvfPq(index: DataFrame, source: DataFrame, vecCol: String,
      idCol: String, query: Array[Double], model: PqModel,
      centroids: Array[Array[Double]], radii: Array[Double],
      k: Int, nprobe: Int, shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val bounds = Similarity.cellUpperBounds(query, centroids, radii)
    val phase1 = bounds.take(math.max(1, nprobe)).map(_._1)
    // phase-1 result is k rows — persist so the bound check and the
    // final merge consume ONE execution, and phase-1 cell partitions
    // are never re-read for the final answer
    val p1 = rerankCells(index, source, vecCol, idCol, query, model,
      phase1, k, shortlist).persist()
    val scores1 = p1.collect()
      .flatMap(r => Option(r.get(1)).map(_ => r.getDouble(1)))
    val kth = if (scores1.length < k) -2.0 else scores1.min
    val phase2 = bounds.drop(math.max(1, nprobe))
      .filter { case (_, ub) => ub >= kth - 1e-9 }.map(_._1)
    if (phase2.isEmpty) p1
    else p1.unionByName(
        rerankCells(index, source, vecCol, idCol, query, model,
          phase2, k, shortlist))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** ADC shortlist restricted to `cells`, exact-reranked. */
  private def rerankCells(index: DataFrame, source: DataFrame,
      vecCol: String, idCol: String, query: Array[Double], model: PqModel,
      cells: Array[Int], k: Int, shortlist: Int): DataFrame =
    topKRerank(index.filter(col("cell").isin(cells.toIndexedSeq: _*)),
      source, vecCol, idCol, query, model, k, shortlist)

  /** A read-back serving handle for a persisted IVF×PQ index: the
    * byte-packed codes frame (cell is a partition column, so cell
    * filters prune directories) plus the driver-side metadata every
    * probe consumes (codebooks for the ADC LUT, centroids + radii for
    * exact cell bounds).
    */
  final case class IvfPqDiskIndex(codes: DataFrame, model: PqModel,
      centroids: Array[Array[Double]], radii: Array[Double])

  /** Persist an IVF×PQ index for SERVING — build once, serve many (the
    * production ANN shape: at 100 TB the Lloyd builds are a batch job,
    * not a per-query cost). Artifacts live inside an
    * [[IndexManifest]]-committed version dir under `path`:
    *
    *   - `codes`: (id, codes) parquet PARTITIONED BY cell — a
    *     probe that filters on `cell` opens only the probed cells'
    *     directories, so per-query IO is O(occupancy·nprobe) rows ×
    *     m BYTES each (the PQ lever composed onto the directory-pruning
    *     lever, same contract as [[Similarity.writeIvfIndex]]);
    *   - `codebooks`: (j, c, codeword) — m·k rows of sub-dim
    *     vectors, the ADC LUT source;
    *   - `centroids`: (cell, centroid, radius) — the exact
    *     branch-and-bound metadata, radii persisted so serving never
    *     re-scans the corpus;
    *   - `params`: one (dim, m, k) row;
    *   - `tombstones` (when deletions are pending): the takedown ids.
    *
    * All sidecars are driver-sized metadata (m·k·sub + cells·dim
    * doubles); only `codes` scales with the corpus.
    */
  def writeIvfPqIndex(index: DataFrame, path: String, model: PqModel,
      centroids: Array[Array[Double]], radii: Array[Double]): Unit = {
    require(radii.length == centroids.length,
      s"radii (${radii.length}) must match centroids (${centroids.length})")
    val sp = index.sparkSession
    val (v, staged) = IndexManifest.stage(path)
    // one file per cell directory (not one per upstream partition ×
    // cell): carry/GC/listing costs on every later mutation are
    // O(files), so the base layout keeps them at O(cells) with the
    // smallest constant
    index.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staged/codes")
    import sp.implicits._
    (for { j <- 0 until model.m; c <- 0 until model.k }
        yield (j, c, model.codebooks(j)(c).toSeq))
      .toDF("j", "c", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$staged/codebooks")
    centroids.indices.map(i => (i, centroids(i).toSeq, radii(i)))
      .toDF("cell", "centroid", "radius")
      .coalesce(1).write.mode("overwrite").parquet(s"$staged/centroids")
    Seq((model.dim, model.m, model.k)).toDF("dim", "m", "k")
      .coalesce(1).write.mode("overwrite").parquet(s"$staged/params")
    IndexManifest.commit(path, v)
  }

  /** Read an IVF×PQ index back for serving. The codes frame keeps
    * `cell` as a partition column (cell filters prune directories —
    * pinned in IvfPqDiskSpec); the metadata sidecars collect to the
    * driver (bounded: index metadata, not corpus data).
    */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[String] = None): IvfPqDiskIndex = {
    // ONE pointer resolution: every artifact below reads from the same
    // committed version, listing-layout refs resolved uniformly by
    // [[IndexManifest.artifactPaths]]
    val ver = Some(version.getOrElse(IndexManifest.resolve(path)))
    val p = IndexManifest.readArtifact(spark, path, "params", ver)
      .select(col("dim").cast("int"), col("m").cast("int"),
        col("k").cast("int"))
      .collect().head
    val (dim, m, k) = (p.getInt(0), p.getInt(1), p.getInt(2))
    val sub = dim / m
    val books = Array.fill(m, k)(null: Array[Double])
    IndexManifest.readArtifact(spark, path, "codebooks", ver)
      .select(col("j").cast("int"), col("c").cast("int"), col("codeword"))
      .collect().foreach { r =>
        books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
    require(books.forall(_.forall(cw => cw != null && cw.length == sub)),
      s"codebook sidecar at $path is incomplete")
    val centRows = IndexManifest.readArtifact(spark, path, "centroids", ver)
      .select(col("cell").cast("int"), col("centroid"), col("radius"))
      .collect()
    val cells = centRows.length
    val centroids = Array.fill(cells)(null: Array[Double])
    val radii = new Array[Double](cells)
    centRows.foreach { r =>
      centroids(r.getInt(0)) = r.getSeq[Double](1).toArray
      radii(r.getInt(0)) = r.getDouble(2)
    }
    require(centroids.forall(_ != null),
      s"centroid sidecar at $path has gaps")
    val base0 = IndexManifest.readArtifact(spark, path, "codes", ver)
      .select(col("id"), col("codes"), col("cell").cast("int").as("cell"))
    // level-0 appends ([[appendIvfPqIndex]]) union in here: tiny
    // cell-clustered files whose cell column prunes at row-group
    // stats; the next compaction folds them into the `cell=` layout
    val codes0 =
      if (IndexManifest.artifactNonEmpty(path, "codes_delta", ver))
        base0.unionByName(
          IndexManifest.readArtifact(spark, path, "codes_delta", ver)
            .select(col("id"), col("codes"),
              col("cell").cast("int").as("cell")))
      else base0
    // pending tombstones ([[deleteFromIvfPqIndex]]) fold here, before
    // any ADC scoring — a deleted id is unservable immediately, and
    // radii stay merely wide (sound: pruning bounds only loosen)
    val codes =
      if (IndexManifest.artifactNonEmpty(path, "tombstones", ver)) {
        val dead =
          IndexManifest.readArtifact(spark, path, "tombstones", ver)
            .select(col("graft_dead_id")).distinct()
        codes0.join(broadcast(dead),
            codes0("id") === dead("graft_dead_id"), "left_anti")
          .select(col("id"), col("codes"), col("cell"))
      } else codes0
    IvfPqDiskIndex(codes, PqModel(dim, m, k, books), centroids, radii)
  }

  /** INCREMENTAL maintenance of a disk IVF×PQ index — the last index
    * family to gain the append verb ([[Similarity.appendLshIndex]] /
    * [[Similarity.appendIvfIndex]] are the siblings). The delta is
    * encoded against the FROZEN codebooks and centroids read from the
    * index's own sidecars (arrival never retrains — codes stay
    * comparable across eras by construction) and lands as a LEVEL-0
    * `codes_delta` artifact — a handful of unpartitioned files with
    * `cell` as a DATA column, clustered by cell so probe filters prune
    * at row-group stats — rather than fanning out into the `cell=`
    * directory layout. The distinction is what keeps the verb O(delta)
    * as the index grows: a small delta scattered across a grown
    * index's cells would otherwise create O(cells) tiny files per
    * append (round-12 probe: the dynamic-partition write was 3.1 s of
    * a 4.3 s append at 234 cells — file-commit overhead, not data).
    * Reads union the level-0 files in (they are tiny until the next
    * [[compactIvfPqIndex]], which folds them into the partitioned
    * layout — the LSM contract); base code files are never rewritten
    * (pinned in IvfPqDiskSpec).
    *
    * Exactness of the serve's cell pruning survives because the radii
    * sidecar WIDENS: per cell touched by the delta, the new radius is
    * max(old, delta members' max angle) — max is associative, so the
    * widened radius equals a full recompute over base+delta exactly
    * (same argument as `sim_topk_ivf_append`, but against persisted
    * radii: the codes frame has no vectors to recompute from, which
    * is the point of PQ). A drifted delta only widens radii — costs
    * probes, never answers. Cells untouched by the delta keep their
    * old radius (the sparse `Similarity.cellMaxAngles` merge — a
    * π default here would destroy pruning).
    */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, vecCol: String, idCol: String,
      path: String): Unit = IndexManifest.mutate(path) { m =>
    val idx = readIvfPqIndex(spark, path, m.base)
    m.carry("codes", "codes_delta", "codebooks", "params", "tombstones")
    val assigned = normalized(delta, vecCol, idCol, idx.model.dim)
      .select(col("id"),
        GraftFunctions.nearestCentroid(col("nv"), idx.centroids)
          .cast("int").as("cell"),
        col("nv"))
      .persist()
    try {
      assigned
        .select(col("id"),
          GraftFunctions.pqPack(
            GraftFunctions.pqEncode(col("nv"), idx.model.codebooks))
            .as("codes"),
          col("cell"))
        .filter(col("codes").isNotNull)
        // level-0: cluster by cell (AQE coalesces the tiny shuffle to
        // few partitions), sort within files so a probe's cell filter
        // prunes at row-group stats — but NO directory fan-out
        .repartition(col("cell")).sortWithinPartitions(col("cell"))
        .write.mode("append")
        .parquet(s"${m.dir}/codes_delta")
      // angles over the RAW delta vectors — the same expression and
      // inputs as the build path's cellRadii(index ⋈ raw vecs), so the
      // widened radius is BIT-identical to a full recompute, not just
      // mathematically equal (cosine is scale-invariant; its float
      // evaluation is not)
      val deltaMax = Similarity.cellMaxAngles(
        assigned.select(col("id"), col("cell"))
          .join(delta.select(col(idCol).as("id"),
            col(vecCol).cast("array<double>").as("vec")), "id")
          .select(col("cell"), col("vec")),
        idx.centroids)
      val widened = idx.radii.zipWithIndex.map { case (r, c) =>
        math.max(r, deltaMax.getOrElse(c, r)) }
      import spark.implicits._
      // delta codes + widened radii publish in ONE pointer flip — a
      // crash never leaves new codes served under stale (narrow) radii
      idx.centroids.indices.map(i =>
          (i, idx.centroids(i).toSeq, widened(i)))
        .toDF("cell", "centroid", "radius")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${m.dir}/centroids")
    } finally { assigned.unpersist(blocking = false); () }
  }

  /** DELETE from a disk IVF×PQ index — completing removal symmetry
    * across all four index families (LSH / IVF / BM25 / IVF×PQ share
    * the protocol): deleted ids land in a tombstone artifact inside a
    * NEW manifest version at O(delta-ids) cost (code files carry
    * layout-dependently — hard links or listing refs, bytes untouched
    * either way), and [[readIvfPqIndex]] anti-joins them
    * before any ADC scoring, so a deleted id is unservable the moment
    * the pointer flips. Radii stay as built — bounds only LOOSEN when
    * members leave a cell, so pruning remains sound (the exact
    * argument of [[Similarity.deleteFromIvfIndex]]); the next
    * [[compactIvfPqIndex]] folds the bytes away. Ids must not be
    * re-used after deletion (append-only id contract).
    */
  def deleteFromIvfPqIndex(ids: DataFrame, idCol: String,
      path: String): Unit = IndexManifest.mutate(path) { m =>
    m.carry("codes", "codes_delta", "codebooks", "centroids", "params",
      "tombstones")
    ids.select(col(idCol).as("graft_dead_id")).distinct()
      .coalesce(1)
      .write.mode("append").parquet(s"${m.dir}/tombstones")
  }

  /** COMPACTION of an appended IVF×PQ index: rewrites the codes tree
    * to one file per `cell=` directory — FOLDING any pending
    * tombstones ([[deleteFromIvfPqIndex]]) — in a staged version that
    * carries the driver-sized sidecars (codebooks/centroids/params)
    * forward (`IndexManifest.Mutation.carry` — links or listing refs
    * per the root's layout) and no tombstone artifact, published by the
    * single [[IndexManifest.mutate]] pointer flip (crash-atomic; same
    * protocol as [[Similarity.compactLshIndex]]).
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = IndexManifest.mutate(path) { m =>
    // tombstones fold here — against the PINNED base version
    val folded = readIvfPqIndex(spark, path, m.base).codes
    m.carry("codebooks", "centroids", "params")
    folded
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"${m.dir}/codes")
  }

  /** PQ shortlist → exact re-rank: ADC picks `shortlist` candidate ids
    * from codes alone, then the candidates join back to the RAW
    * vectors (broadcast — a shortlist is O(k'), never corpus-sized)
    * and exact cosine orders the final top-k. At scale the expensive
    * side reads m bytes per row; full vectors are touched for only
    * `shortlist` rows.
    */
  def topKRerank(index: DataFrame, source: DataFrame, vecCol: String,
      idCol: String, query: Array[Double], model: PqModel,
      k: Int, shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cand = topKAdc(index, query, model, shortlist)
      .select(col("id").as("graft_pq_cand_id"))
    val q = array(query.map(lit).toIndexedSeq: _*)
    val v = col(vecCol).cast("array<double>")
    source
      .join(broadcast(cand), col(idCol) === col("graft_pq_cand_id"))
      .select(col(idCol),
        GraftFunctions.cosine(v, q).as("score"))
      .filter(col("score").isNotNull)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
