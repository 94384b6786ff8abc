package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}
import graft.relational.Skew
import graft.sources.Tables

/** Scale probe for the dedup/ANN candidate paths: blow the documents /
  * embeddings fixtures up N× in-memory (near-dup variants, so copies
  * stress buckets the way real redundancy does), re-derive the
  * `bitsFor`-scaled parameters, and report bucket-size distributions +
  * wall time at 1× and N×. The question answered: does max bucket stay
  * bounded and wall time sub-quadratic as the corpus grows? Results are
  * recorded in BASELINE.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val mults = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 10)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.LocalFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def bucketStats(df: DataFrame, keyCols: Seq[String]): String = {
      val sizes = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("max"),
          expr("percentile_approx(n, 0.5)").as("p50"),
          expr("percentile_approx(n, 0.99)").as("p99"),
          count(lit(1)).as("buckets"))
        .collect().head
      s"buckets=${sizes.getLong(3)} p50=${sizes.getLong(1)} " +
        s"p99=${sizes.getLong(2)} max=${sizes.getLong(0)}"
    }

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    mults.foreach { mult =>
      // ---- documents: MinHash banding path
      val docs0 = Tables.documents(spark, sfDir)
      val docs = (if (mult == 1) docs0
        else docs0
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0), lit(mult - 1))).as("copy"))
          .select((col("doc_id") * mult + col("copy")).as("doc_id"),
            // textual variant per copy → near-dup family, not exact dup
            concat(col("text"), lit(" variant marker "),
              col("copy").cast("string")).as("text")))
        .persist()
      val nDocs = docs.count()
      val bandRows = docs.select(col("doc_id").as("id"),
        explode(Dedup.bandHashes(col("text"))).as("band"))
      val bandStats = bucketStats(bandRows, Seq("band"))
      val (nPairs, tPairs) = timed(
        Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7).count())
      println(s"[probe] docs x$mult n=$nDocs minhash_buckets{$bandStats} " +
        f"pairs=$nPairs time=$tPairs%.2fs")

      // ---- embeddings: multi-table LSH path (bitsFor-scaled)
      val emb0 = Tables.embeddings(spark, sfDir)
      val emb = (if (mult == 1) emb0
        else emb0
          .select(col("vec_id"), col("embedding"),
            explode(sequence(lit(0), lit(mult - 1))).as("copy"))
          .select((col("vec_id") * mult + col("copy")).as("vec_id"),
            // identical vectors per family: the worst-case bucket skew
            col("embedding")))
        .persist()
      val nVecs = emb.count()
      val bits = Similarity.bitsFor(nVecs)
      val index = Similarity.multiTableIndex(emb, "embedding", "vec_id",
        dim = 64, bits = bits, tables = 8)
      val sigStats = bucketStats(
        index.select(col("table"), col("sig")), Seq("table", "sig"))
      val (nSim, tSim) = timed(
        Similarity.similarityJoinMultiTable(index, emb, "embedding", "vec_id",
          threshold = 0.5).count())
      println(s"[probe] emb x$mult n=$nVecs bits=$bits " +
        f"lsh_buckets{$sigStats} pairs=$nSim time=$tSim%.2fs")

      // ---- embeddings: QUERY-DIRECTED multiprobe pair join — probe
      // volume is fixed at 1+t+C(t,2)=7 rows/entry/table while the
      // full Hamming-≤2 neighborhood grows as C(bits,2) with the
      // bitsFor-scaled corpus; wall time must stay output-bound
      val (nQd, tQd) = timed(
        Similarity.similarityJoinMultiProbe(emb, "embedding", "vec_id",
          threshold = 0.5, dim = 64, bits = bits, tables = 8,
          flipBits = 3, probeHamming = 2).count())
      println(s"[probe] emb x$mult n=$nVecs bits=$bits " +
        f"multiprobe pairs=$nQd time=$tQd%.2fs")

      // ---- documents: EXACT prefix-filter Jaccard join (PPJoin)
      val (nExact, tExact) = timed(
        Dedup.jaccardJoinExact(docs, "doc_id", "text", threshold = 0.7).count())
      println(f"[probe] docs x$mult ppjoin pairs=$nExact time=$tExact%.2fs")

      // ---- documents: exact-substring pairs (winnow anchors + extension)
      val (nSub, tSub) = timed(
        Dedup.exactSubstringPairs(docs, "doc_id", "text").count())
      println(f"[probe] docs x$mult substring pairs=$nSub time=$tSub%.2fs")

      // ---- customer names: FastSS deletion-signature buckets
      val cust0 = Tables.customer(spark, sfDir)
      val cust = (if (mult == 1) cust0
        else cust0.select(col("c_custkey"), col("c_name"),
            explode(sequence(lit(0), lit(mult - 1))).as("copy"))
          .select((col("c_custkey") * mult + col("copy")).as("c_custkey"),
            concat(col("c_name"), lit("_"), col("copy").cast("string"))
              .as("c_name")))
        .persist()
      val nNames = cust.count()
      val (nEd, tEd) = timed(
        Dedup.editDistancePairs(cust, "c_custkey", "c_name").count())
      println(s"[probe] names x$mult n=$nNames " +
        f"fastss pairs=$nEd time=$tEd%.2fs")

      // ---- embeddings: IVF cell occupancy under cellsFor scaling
      val cells = Similarity.cellsFor(nVecs)
      val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
        k = cells, iters = 1)
      val ivf = Similarity.ivfIndex(emb, "embedding", "vec_id", cents)
      val cellStats = bucketStats(ivf.select(col("cell")), Seq("cell"))
      println(s"[probe] emb x$mult ivf cells=$cells occupancy{$cellStats}")

      // ---- embeddings: PQ encode throughput + ADC scan wall. The
      // claims probed: codebook training cost is per-ITERATION linear
      // (one job covering all m subspaces), the packed index is m
      // bytes/row regardless of corpus size, and an ADC scan — the
      // query-time path — stays a single linear pass over codes with
      // no vector access, so its wall tracks n, never n·dim.
      {
        import graft.llm.Pq
        val (model, tTrain) = timed(Pq.trainCodebooks(
          emb, "embedding", "vec_id", dim = 64, m = 16, k = 64, iters = 1))
        val (idx, tEnc) = timed {
          val i = Pq.pqIndex(emb, "embedding", "vec_id", model).persist()
          i.count(); i
        }
        val query = emb0.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .collect().head.getSeq[Double](0).toArray
        val (_, tAdc) = timed(
          Pq.topKAdc(idx, query, model, k = 10).collect())
        val bytes = idx.select(sum(length(col("codes")))).collect()
          .head.getLong(0)
        println(f"[probe] emb x$mult pq train=$tTrain%.2fs " +
          f"encode=$tEnc%.2fs adc_scan=$tAdc%.2fs " +
          f"code_bytes=$bytes (raw=${nVecs * 64 * 4})")
        idx.unpersist()
      }

      // ---- batch k-NN join: 8 fixed queries against the N×-grown
      // corpus — wall must track the corpus linearly (one scan +
      // q·k·partitions shuffle rows), never q·n
      val (nKnn, tKnn) = timed(
        Similarity.knnJoinBrute(emb.filter(col("vec_id") < 8), emb,
          "embedding", "vec_id", k = 5).count())
      println(f"[probe] emb x$mult knn_join rows=$nKnn time=$tKnn%.2fs")

      // ---- ANN batch k-NN join: same 8 fixed queries, candidates from
      // multiprobe buckets — candidate volume must track
      // q·tables·probes·bucketSize (bucketSize rides bitsFor), never
      // the corpus row count
      val (nKnnA, tKnnA) = timed(
        Similarity.knnJoinAnn(emb.filter(col("vec_id") < 8), emb,
          "embedding", "vec_id", k = 5, dim = 64, bits = bits,
          tables = 8, probeHamming = 2).count())
      println(f"[probe] emb x$mult knn_join_ann rows=$nKnnA time=$tKnnA%.2fs")

      // ---- disk ANN knn join: the DPP-pruned serve path against a
      // persisted index — per-batch wall must track probed-directory
      // bytes (bucket occupancy rides bitsFor), never the corpus scan.
      // Query side reads from the fixture parquet so the selective
      // filter survives and DPP actually fires (LocalRelation queries
      // constant-fold it away).
      {
        val idxDir = java.nio.file.Files
          .createTempDirectory("probe_lshidx").toString + "/idx"
        Similarity.writeLshIndex(
          Similarity.multiTableIndex(emb, "embedding", "vec_id",
            dim = 64, bits = bits, tables = 8), idxDir, groups = 16)
        val qSide = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") < 8)
        val (nKnnD, tKnnD) = timed(
          Similarity.knnJoinAnnDisk(spark, idxDir, qSide, "embedding",
            "vec_id", k = 5, dim = 64, bits = bits, tables = 8,
            probeHamming = 2, groups = 16).count())
        println(f"[probe] emb x$mult knn_join_ann_disk rows=$nKnnD " +
          f"time=$tKnnD%.2fs")

        // ---- tombstone DELETE + pending-tombstone serve + folding
        // compaction on the same index: the takedown write is O(ids),
        // the tombstoned serve adds one broadcast anti-join to the
        // probe-pruned read (wall must track probed bytes, not corpus),
        // and compaction — the only corpus-scale pass — folds the set
        val query0 = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .collect().head.getSeq[Double](0).toArray
        val (_, tDel) = timed(Similarity.deleteFromLshIndex(
          emb.filter(col("vec_id") % 997 === 3), "vec_id", idxDir))
        val (nDelServe, tDelServe) = timed(
          Similarity.topKAnnDisk(spark, idxDir, query0, dim = 64,
            bits = bits, tables = 8, k = 10, groups = 16).count())
        val (_, tFold) = timed(Similarity.compactLshIndex(spark, idxDir))
        println(f"[probe] emb x$mult ann_delete write=$tDel%.2fs " +
          f"tombstoned_serve=$tDelServe%.2fs (rows=$nDelServe) " +
          f"fold_compact=$tFold%.2fs")
      }

      // ---- IVF×PQ disk APPEND: a FIXED-size delta against the ×N
      // base — encode+write must stay O(delta) (flat wall as the base
      // grows); the radii-widen job scans only the delta
      {
        import graft.llm.Pq
        val dir = java.nio.file.Files
          .createTempDirectory("probe_ivfpq").toString + "/idx"
        val cents = Similarity.kmeansCentroids(emb, "embedding",
          "vec_id", k = Similarity.cellsFor(nVecs), iters = 1)
        val model = Pq.trainCodebooks(emb, "embedding", "vec_id",
          dim = 64, m = 16, k = 64, iters = 1)
        val baseIdx = Pq.ivfPqIndex(emb, "embedding", "vec_id", cents,
          model).persist()
        val radii = Similarity.cellRadii(
          baseIdx.join(emb.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("vec")), "id"),
          cents)
        Pq.writeIvfPqIndex(baseIdx, dir, model, cents, radii)
        baseIdx.unpersist(blocking = false)
        val fixedDelta = Tables.embeddings(spark, sfDir)
          .select((col("vec_id") + lit(10L) * nVecs).as("vec_id"),
            col("embedding"))
        val (_, tApp) = timed(Pq.appendIvfPqIndex(spark, fixedDelta,
          "embedding", "vec_id", dir))
        println(f"[probe] emb x$mult ivfpq_append " +
          f"delta=${fixedDelta.count()} time=$tApp%.2fs")
      }

      // ---- BM25 disk APPEND: fixed-size delta postings into the ×N
      // base layout — O(delta) tokenization + a 1-row sidecar merge
      {
        import graft.llm.Vocabulary
        val dir = java.nio.file.Files
          .createTempDirectory("probe_bm25app").toString + "/idx"
        Vocabulary.writeBm25Index(docs, "doc_id", "text", dir,
          buckets = 16)
        val fixedDelta = Tables.documents(spark, sfDir)
          .select((col("doc_id") + lit(10L) * nDocs).as("doc_id"),
            col("text"))
        val (_, tApp) = timed(Vocabulary.appendBm25Index(fixedDelta,
          "doc_id", "text", dir, buckets = 16))
        val (nServe, tServe) = timed(Vocabulary.bm25Disk(spark, dir,
          Seq("dup", "spark", "join"), topK = 20, buckets = 16).count())
        println(f"[probe] docs x$mult bm25_append " +
          f"delta=${fixedDelta.count()} time=$tApp%.2fs " +
          f"serve_after=$tServe%.2fs rows=$nServe")
      }

      // ---- disk BM25: serve wall must track the query terms' posting
      // lists (they grow with corpus term frequency), never the corpus
      // text bytes — build is the only full-tokenization pass
      {
        import graft.llm.Vocabulary
        val bmDir = java.nio.file.Files
          .createTempDirectory("probe_bm25").toString + "/idx"
        val (_, tBuild) = timed(Vocabulary.writeBm25Index(
          docs, "doc_id", "text", bmDir, buckets = 16))
        val (nBm, tServe) = timed(Vocabulary.bm25Disk(spark, bmDir,
          Seq("dup", "spark", "join"), topK = 20, buckets = 16).count())
        println(f"[probe] docs x$mult bm25_disk build=$tBuild%.2fs " +
          f"serve=$tServe%.2fs rows=$nBm")
      }

      // ---- semantic dedup: k scales with n so cluster population is
      // ~constant — the pair search must stay n·clusterSize, not n².
      // (The ×N copies are identical vectors: every family collapses to
      // one survivor, the worst-case duplicate load.)
      val kSem = math.max(8, (nVecs / 64).toInt)
      val (nSem, tSem) = timed(
        graft.llm.SemDedup.semanticDedup(emb, "embedding", "vec_id",
          k = kSem, threshold = 0.5).count())
      println(f"[probe] emb x$mult semdedup k=$kSem survivors=$nSem " +
        f"time=$tSem%.2fs")

      // ---- BPE encode: the dictionary stays at the distinct-word
      // count while the corpus stream grows N× — wall must track the
      // corpus (explode + broadcast join + one doc-id shuffle), with
      // the greedy loop cost fixed at vocabulary size
      val (nBpe, tBpe) = timed(
        graft.llm.Bpe.encodeCorpus(docs, "doc_id", "text", m = 40).count())
      println(f"[probe] docs x$mult bpe_encode docs=$nBpe time=$tBpe%.2fs")

      // ---- BPE train: the fixture dictionary always routes to the
      // local layout, so FORCE the keyed distributed loop
      // (localVocabThreshold=0) — per-round cost (one slim pair-count
      // job + a one-row argmax collect) must track the dictionary
      // linearly, and the learned merges must equal the local mode's
      val (mergesL, tTrainL) = timed(
        graft.llm.Bpe.train(spark, docs, "text", rounds = 6)
          .collect().map(_.toString).toSeq)
      val (mergesD, tTrainD) = timed(
        graft.llm.Bpe.train(spark, docs, "text", rounds = 6,
            localVocabThreshold = 0)
          .collect().map(_.toString).toSeq)
      require(mergesD == mergesL,
        s"keyed BPE merges $mergesD != local $mergesL")
      println(f"[probe] docs x$mult bpe_train local=$tTrainL%.2fs " +
        f"keyed=$tTrainD%.2fs per_round=${tTrainD / 6}%.2fs")

      // ---- connected components over the exact-join pair graph:
      // rounds should track graph diameter (constant for dup families),
      // NOT corpus size, and per-round plans stay constant-depth
      // (lineage truncated by localCheckpoint)
      val pairGraph = Dedup.jaccardJoinExact(docs, "doc_id", "text",
        threshold = 0.7).select(col("id_a"), col("id_b")).persist()
      // the loop iterates ONLY these vertices; everything else is an
      // isolated singleton that unions back in with zero jobs
      val activeV = pairGraph.select(col("id_a").as("id"))
        .union(pairGraph.select(col("id_b").as("id"))).distinct().count()
      val (nComp, tComp) = timed(
        Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id",
            pairGraph, "id_a", "id_b", maxIter = 30)
          .filter(col("id") =!= col("component")).count())
      println(f"[probe] docs x$mult cc nonRoot=$nComp " +
        f"activeV=$activeV/$nDocs time=$tComp%.2fs")

      // ---- connected components, KEYED-JOIN layout FORCED
      // (broadcastThreshold=0): the fixture never exceeds the dense
      // threshold, so this is the only exercise the 100 TB code path
      // gets — per-round cost (one keyed join + aggregate + eager
      // checkpoint) must track the active subgraph linearly, and
      // labels must equal the dense mode's (CheckpointingSpec pins
      // equality; here we pin the wall-clock shape)
      val (nCompK, tCompK) = timed(
        Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id",
            pairGraph, "id_a", "id_b", maxIter = 30,
            broadcastThreshold = 0L)
          .filter(col("id") =!= col("component")).count())
      pairGraph.unpersist()
      require(nCompK == nComp,
        s"keyed CC nonRoot $nCompK != dense $nComp")
      println(f"[probe] docs x$mult cc_keyed nonRoot=$nCompK " +
        f"time=$tCompK%.2fs")

      // ---- documents: SimHash chunk-pigeonhole path (chunksFor-scaled)
      val chunks = Dedup.chunksFor(nDocs)
      val (nSim2, tSim2) = timed(
        Dedup.simhashPairs(docs, "doc_id", "text",
          chunks = chunks, maxHamming = chunks - 1, maxBucket = 200).count())
      println(f"[probe] docs x$mult simhash chunks=$chunks " +
        f"pairs=$nSim2 time=$tSim2%.2fs")

      // ---- PageRank: edges grow N× (each doc copy links to the SAME
      // supplier-style hub set via doc_id % 64, so degree distribution
      // holds shape); per-iteration cost must track edges linearly —
      // the adjacency is built/persisted once, each iteration shuffles
      // only the 16 B/row rank frame
      val prEdges = docs.select(
          col("doc_id").as("src"), (col("doc_id") % 64 + 5000000L).as("dst"))
        .union(docs.select((col("doc_id") % 64 + 5000000L).as("src"),
          col("doc_id").as("dst")))
      val (prTop, tPr) = timed(
        graft.llm.Graph.pageRank(prEdges, "src", "dst", iters = 5)
          .orderBy(col("pr").desc).limit(1).collect().head.getDouble(1))
      println(f"[probe] docs x$mult pagerank edges=${2 * nDocs} " +
        f"top=$prTop%.6f time=$tPr%.2fs")

      // ---- PageRank, KEYED-JOIN (distributed) layout FORCED — same
      // rationale as cc_keyed: the 5 fixed iterations are each one
      // rank-keyed join + aggregate + checkpoint, so per-iteration
      // wall = time/5 and must grow linearly with edges, not worse
      val (prTopK, tPrK) = timed(
        graft.llm.Graph.pageRank(prEdges, "src", "dst", iters = 5,
            broadcastThreshold = 0L)
          .orderBy(col("pr").desc).limit(1).collect().head.getDouble(1))
      require(math.abs(prTopK - prTop) < 1e-9,
        s"keyed PageRank top $prTopK != dense $prTop")
      println(f"[probe] docs x$mult pagerank_keyed edges=${2 * nDocs} " +
        f"time=$tPrK%.2fs per_iter=${tPrK / 5}%.2fs")

      // ---- label propagation: same edge frame; 3 synchronous rounds,
      // each one edge⋈label join + (node,label) count + degree-bounded
      // window cut with per-round persisted state — per-round wall
      // must track edges linearly (the 2^k blowup of un-persisted
      // lineage would show here immediately)
      val (nLp, tLp) = timed(
        graft.llm.Graph.labelPropagation(prEdges, "src", "dst", iters = 3)
          .count())
      println(f"[probe] docs x$mult labelprop edges=${2 * nDocs} " +
        f"nodes=$nLp time=$tLp%.2fs per_round=${tLp / 3}%.2fs")

      // ---- decontamination: the corpus side grows N× while the
      // benchmark set stays FIXED (its distinct-hash set broadcasts),
      // so wall time must track the corpus linearly — any superlinear
      // growth means the corpus side started shuffling
      val benchDocs = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 20 === 0)
      val (nCont, tCont) = timed(
        graft.llm.Decontaminate.contaminationReport(
          docs, benchDocs, "doc_id", "text", k = 4).count())
      println(f"[probe] docs x$mult decontaminate contaminated=$nCont " +
        f"time=$tCont%.2fs")

      // ---- sequence packing: the global token prefix sum must run as
      // the two-phase scan (per-bucket windows + a one-row-per-bucket
      // offset frame) — wall tracks the corpus linearly; a
      // single-partition global window would flatline one core here
      val counted = docs.select(col("doc_id"),
        graft.llm.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      val (nChunks, tPack) = timed(
        graft.llm.SeqPack.packChunks(counted, "doc_id", "n",
          (col("doc_id") / 500).cast("long"), 2048L).count())
      println(f"[probe] docs x$mult seqpack chunks=$nChunks " +
        f"time=$tPack%.2fs")

      // ---- composed 5-stage data-prep pipeline (pipeline_data_e2e
      // shape): dedup → quality → decontaminate → budget-sample →
      // pack. Two questions: does the COMPOSITION add barriers beyond
      // its stages (total ≈ Σ stage walls), and which stage dominates
      // at ×N? Intermediates are persisted between stage timings so
      // each wall is that stage's own cost, not a recompute of its
      // ancestors; the final `total` runs the un-staged composed flow.
      {
        import graft.llm.{Decontaminate, SeqPack, TextAnalysis}
        val corpus0 = Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), col("source"), col("text"))
        val bench = Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 20 === 0)
        val corpus = (if (mult == 1) corpus0
          else corpus0
            .select(col("doc_id"), col("source"), col("text"),
              explode(sequence(lit(0), lit(mult - 1))).as("copy"))
            .select((col("doc_id") * mult + col("copy")).as("doc_id"),
              col("source"),
              concat(col("text"), lit(" variant marker "),
                col("copy").cast("string")).as("text")))
          .persist()
        corpus.count()
        def staged(df: DataFrame): (DataFrame, Double) = {
          val (f, t) = timed { val p = df.persist(); p.count(); p }
          (f, t)
        }
        val canon = corpus.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
        val (deduped, tDedup) = staged(
          corpus.join(canon, Seq("doc_id"), "left_semi"))
        val nPunctP = length(
          regexp_replace(col("text"), "[\\p{L}\\p{Nd}\\s]", ""))
        val (cleaned, tClean) = staged(deduped
          .withColumn("n_tok", TextAnalysis.tokenCount(col("text"))
            .cast("long"))
          .filter(col("n_tok") >= 10 &&
            nPunctP * lit(4) <= length(col("text"))))
        val (bad, tDecon) = staged(
          Decontaminate.contaminationReport(cleaned, bench,
            "doc_id", "text", k = 4).select(col("id").as("doc_id")))
        val budgets = (0 until 20).map(i => s"src$i" -> 600L * mult).toMap
        val (sampled, tSample) = staged(
          graft.relational.Sampling.mixtureSampleByBudget(
            cleaned.join(broadcast(bad), Seq("doc_id"), "left_anti")
              .select(col("source"), col("doc_id"), col("n_tok")),
            "source", "doc_id", "n_tok", budgets))
        val (nPack, tPack5) = timed(
          SeqPack.packChunks(sampled, "doc_id", "n_tok",
            (col("doc_id") / 500).cast("long"), 512L).count())
        // the un-staged composed flow, end to end (no intermediate
        // caching beyond the shared corpus)
        val (nTotal, tTotal) = timed {
          val canon2 = corpus.groupBy(md5(col("text")).as("h"))
            .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
          val dd = corpus.join(canon2, Seq("doc_id"), "left_semi")
            .withColumn("n_tok", TextAnalysis.tokenCount(col("text"))
              .cast("long"))
            .filter(col("n_tok") >= 10 &&
              nPunctP * lit(4) <= length(col("text")))
          val bad2 = Decontaminate.contaminationReport(dd, bench,
            "doc_id", "text", k = 4).select(col("id").as("doc_id"))
          SeqPack.packChunks(
            graft.relational.Sampling.mixtureSampleByBudget(
              dd.join(broadcast(bad2), Seq("doc_id"), "left_anti")
                .select(col("source"), col("doc_id"), col("n_tok")),
              "source", "doc_id", "n_tok", budgets),
            "doc_id", "n_tok", (col("doc_id") / 500).cast("long"),
            512L).count()
        }
        println(f"[probe] docs x$mult pipeline_e2e total=$tTotal%.2fs " +
          f"(dedup=$tDedup%.2fs quality=$tClean%.2fs " +
          f"decontaminate=$tDecon%.2fs sample=$tSample%.2fs " +
          f"pack=$tPack5%.2fs) chunks_staged=$nPack chunks_total=$nTotal")
        Seq(deduped, cleaned, bad, sampled, corpus)
          .foreach(_.unpersist(blocking = false))
      }

      // ---- streaming minhash dedup's per-epoch primitive: band keys
      // for a HALF-corpus batch, anti-joined against the other half's
      // stored keys + within-batch min election. The epoch machinery
      // is fixed-cost; this is the part that must stay O(batch·bands)
      // as the corpus (and therefore the store) grows.
      {
        val history = docs.filter(col("doc_id") % 2 === 0)
        val batch = docs.filter(col("doc_id") % 2 =!= 0)
        val storeKeys = Dedup.bandKeysPortable(history, "doc_id", "text")
          .select(col("band")).distinct().persist()
        storeKeys.count()
        val (nSurv, tEpoch) = timed {
          val keys = Dedup.bandKeysPortable(batch, "doc_id", "text")
            .persist()
          val dupHist = keys.join(storeKeys, Seq("band"), "left_semi")
            .select(col("id"))
          val dupBatch = keys
            .join(keys.groupBy(col("band"))
              .agg(min(col("id")).as("first_id")), "band")
            .filter(col("id") > col("first_id")).select(col("id"))
          val n = batch.join(dupHist.union(dupBatch).distinct()
              .withColumnRenamed("id", "doc_id"), Seq("doc_id"),
              "left_anti").count()
          keys.unpersist()
          n
        }
        println(f"[probe] docs x$mult stream_dedup_epoch " +
          f"survivors=$nSurv time=$tEpoch%.2fs")
        storeKeys.unpersist()
      }

      // ---- min/max zone-map sidecar: build is one scan + one slim
      // shuffle; serve cost is the driver-side envelope intersection
      // (O(files)) plus a scan of only the overlapping files — the
      // candidate fraction should track range selectivity on a
      // range-clustered layout at any corpus size
      {
        import graft.relational.MinMaxSkipIndex
        val n = nDocs * 100
        val tbl = java.nio.file.Files
          .createTempDirectory("probe_mm").toString + "/tbl"
        val idx = tbl + ".idx"
        spark.range(0, n)
          .select(col("id").as("k"), (col("id") % 7).as("payload"))
          .repartitionByRange(16, col("k")).sortWithinPartitions(col("k"))
          .write.mode("overwrite").parquet(tbl)
        val (_, tBuild) = timed(MinMaxSkipIndex.build(spark, tbl, "k", idx))
        val (res, tServe) = timed {
          val (r, cand, total) = MinMaxSkipIndex.lookupRange(spark, tbl,
            idx, "k", n / 2, n / 2 + n / 20)
          (r.count(), cand, total)
        }
        println(f"[probe] mm x$mult rows=$n build=$tBuild%.2fs " +
          f"serve=$tServe%.2fs rows_out=${res._1} " +
          f"cand=${res._2}/${res._3}")
        Similarity.rmTree(new java.io.File(
          new java.io.File(tbl).getParent))
      }

      docs.unpersist(); emb.unpersist(); cust.unpersist()
    }
    spark.stop()
  }
}
