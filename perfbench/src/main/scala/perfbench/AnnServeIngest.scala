package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.llm.{IndexManifest, Similarity, Vocabulary}
import graft.sources.IO

/** `ann_serve_ingest`: serving reads beside ingest writes on the same
  * disk indexes. Set-up builds a disk LSH index over clustered vectors
  * (`writeLshIndex`) and a disk BM25 index over generated docs
  * (`writeBm25Index`). Then two reader threads run a closed loop that
  * alternates `topKAnnDisk` and `bm25Disk`, while one writer thread runs
  * an open loop at a fixed rate, cycling `appendLshIndex`,
  * `appendBm25Index`, `deleteFromLshIndex` and `compactLshIndex`. Each
  * write is timed from when it was due, so a slow writer shows as
  * latency, not as a changed schedule.
  */
final class AnnServeIngest(ctx: Ctx) extends Workload {
  import AnnServeIngest._
  private val spark = ctx.spark
  import spark.implicits._

  // ------------------------------------------------------------ inputs
  private val rnd = new SplittableRandom(ctx.seed)
  private var centers: Array[Array[Double]] = _
  /** Every vector ever generated: base, then the writer's deltas. */
  private val vectors = new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]
  private val deleted = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]
  private val docs = new java.util.concurrent.ConcurrentHashMap[Long, Array[String]]
  private var vocab: Vector[String] = _
  private var deltas: Vector[(Array[(Long, Array[Double])], Array[(Long, String)])] = _
  private val vecDir = ctx.path("input/vectors")
  private val docDir = ctx.path("input/docs")

  private def gaussianNear(c: Array[Double], sigma: Double, r: SplittableRandom) =
    normalize(c.map(x => x + sigma * gauss(r)))
  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller; one draw per call keeps the stream simple
    val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
  private def normalize(v: Array[Double]) = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }
  private def zipfWord(r: SplittableRandom): String = {
    // rank ∝ 1/u: a heavy head of common terms and a long tail
    val k = math.min((math.pow(vocab.length, r.nextDouble()) - 1).toInt, vocab.length - 1)
    vocab(k)
  }
  private def doc(r: SplittableRandom): Array[String] = Array.fill(DocWords)(zipfWord(r))

  def generate(): Unit = {
    centers = Array.fill(Clusters)(normalize(Array.fill(Dim)(gauss(rnd))))
    (0 until BaseVectors).foreach { i =>
      vectors.put(i.toLong, gaussianNear(centers(rnd.nextInt(Clusters)), Sigma, rnd))
    }
    vocab = Vector.tabulate(VocabSize)(i => s"t${i}x${Integer.toString(rnd.nextInt(1 << 20), 36)}")
    (0 until BaseDocs).foreach(i => docs.put(i.toLong, doc(rnd)))
    // the writer's deltas are generated up front too: ids continue the
    // base ranges, so appends never reuse an id
    deltas = Vector.tabulate(MaxWrites) { w =>
      val v = Array.tabulate(DeltaVectors) { j =>
        val id = BaseVectors.toLong + w * DeltaVectors + j
        id -> gaussianNear(centers(rnd.nextInt(Clusters)), Sigma, rnd)
      }
      val d = Array.tabulate(DeltaDocs) { j =>
        (BaseDocs.toLong + w * DeltaDocs + j) -> doc(rnd).mkString(" ")
      }
      (v, d)
    }
    vectors.asScala.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }
      .toDF("id", "vec").repartition(ctx.cores).write.mode("overwrite").parquet(vecDir)
    docs.asScala.toSeq.sortBy(_._1).map { case (id, w) => (id, w.mkString(" ")) }
      .toDF("id", "text").repartition(ctx.cores).write.mode("overwrite").parquet(docDir)
  }

  // ------------------------------------------------------------ state
  private var lshRoot: String = _
  private var bm25Root: String = _
  private val annNs = new ConcurrentLinkedQueue[java.lang.Long]
  private val bm25Ns = new ConcurrentLinkedQueue[java.lang.Long]
  private val annTracedNs = new ConcurrentLinkedQueue[java.lang.Long]
  private val annUntracedNs = new ConcurrentLinkedQueue[java.lang.Long]
  private val writeNs = collection.mutable.ArrayBuffer.empty[Long]
  private val lateNs = collection.mutable.ArrayBuffer.empty[Long]
  private val writeKindNs = collection.mutable.Map.empty[String, Vector[Double]]
  private val problems = new ConcurrentLinkedQueue[String]
  private val reads = new AtomicLong
  /** CPU ns of each untraced reader iteration (one ANN and one BM25
    * read): the reader thread's own (planning, file listing, collecting)
    * plus the executor CPU of the iteration's jobs.
    */
  private val iterationCpu = new ConcurrentLinkedQueue[(Long, Meter)]
  /** Per reader: (reads, ns from window start to its last completed read). */
  private val readerBusy = new ConcurrentLinkedQueue[(Long, Long)]
  private val failed = new AtomicLong
  private var writes = 0L

  def setupRound(round: Int): Unit = Tracer.untraced {
    val lsh = ctx.path(s"index/lsh-$round")
    val bm = ctx.path(s"index/bm25-$round")
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(IO.readParquet(spark, vecDir), "vec", "id", Dim, Bits, Tables),
      lsh, Groups)
    Vocabulary.writeBm25Index(IO.readParquet(spark, docDir), "id", "text", bm, Buckets)
    lshRoot = lsh; bm25Root = bm
    val r = new SplittableRandom(ctx.seed + 1000 + round)
    (0 until WarmupQueries).foreach { _ => annQuery(r); bm25Query(queryTerms(r)) }
  }

  private def annTopK(q: Array[Double], k: Int): Array[(Long, Double)] = {
    val df = Tracer.span("llm.Similarity.topKAnnDisk") {
      Similarity.topKAnnDisk(spark, lshRoot, q, Dim, Bits, Tables, k, Probe, Groups)
    }
    Tracer.span("harness.ann_collect") {
      df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
  }

  private def annQuery(r: SplittableRandom): (Array[(Long, Double)], Long) = {
    val q = gaussianNear(centers(r.nextInt(Clusters)), Sigma, r)
    val start = System.nanoTime()
    val hits = Tracer.span("harness.ann_query")(annTopK(q, K))
    (hits, start)
  }

  private def queryTerms(r: SplittableRandom): Seq[String] =
    Seq.fill(QueryTerms)(zipfWord(r)).distinct

  private def bm25Query(terms: Seq[String]): Array[(Long, Double)] = {
    val df = Tracer.span("harness.bm25_query") {
      val lazyDf = Tracer.span("llm.Vocabulary.bm25Disk") {
        Vocabulary.bm25Disk(spark, bm25Root, terms, topK = K, buckets = Buckets)
      }
      Tracer.span("harness.bm25_collect")(lazyDf.collect())
    }
    df.map(row => (row.getLong(0), row.getDouble(1)))
  }

  private def reader(t: Int, t0: Long, deadlineNs: Long): Unit = {
    val r = new SplittableRandom(ctx.seed * 31 + t)
    var k = 0
    var done = 0L
    var last = t0
    while (System.nanoTime() < deadlineNs) {
      val traceThis = ctx.traced && k % 2 == 1
      def run[A](body: => A): A = if (traceThis) body else Tracer.untraced(body)
      // the iteration's jobs carry its label (a traced read's spans
      // relabel their own jobs)
      val meter = Tracer.label(s"read-$t-$k")
      val cpu0 = Stats.threadCpuNs()
      try {
        val ((hits, start), ns) = Stats.timed(run(annQuery(r)))
        reads.incrementAndGet()
        if (!traceThis) annNs.add(ns)
        (if (traceThis) annTracedNs else annUntracedNs).add(ns)
        // a deleted id is never served once its delete has committed
        hits.foreach { case (id, _) =>
          val at = deleted.get(id)
          if (at != null && at.longValue < start)
            problems.add(s"deleted id $id served by a read that started after the delete")
        }
        val terms = queryTerms(r)
        val (_, bns) = Stats.timed(run(bm25Query(terms)))
        reads.incrementAndGet()
        if (!traceThis) {
          bm25Ns.add(bns)
          iterationCpu.add((Stats.threadCpuNs() - cpu0, meter))
        }
        done += 2
        last = System.nanoTime()
      } catch {
        case e: Exception => failed.incrementAndGet(); problems.add(s"reader $t: $e")
      }
      k += 1
    }
    readerBusy.add((done, last - t0))
  }

  private def timedWrite(kind: String)(body: => Unit): Unit = {
    val (_, ns) = Stats.timed(Tracer.span(s"llm.$kind")(body))
    writeKindNs(kind) = writeKindNs.getOrElse(kind, Vector.empty) :+ ns / 1e6
  }

  /** Open loop: write `w` is due at `t0 + w·period`, whatever happened
    * before it.
    */
  private def writer(t0: Long, deadlineNs: Long): Unit = {
    var w = 0
    while (t0 + w * WritePeriodNs < deadlineNs && w < MaxWrites) {
      val due = t0 + w * WritePeriodNs
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      lateNs += math.max(0L, System.nanoTime() - due)
      val traceThis = ctx.traced && w % 2 == 1
      def run[A](body: => A): A = if (traceThis) body else Tracer.untraced(body)
      try {
        run(writeOp(w))
        writeNs += System.nanoTime() - due
      } catch {
        case e: Exception => failed.incrementAndGet(); problems.add(s"write $w: $e")
      }
      writes += 1
      w += 1
    }
  }

  private def writeOp(w: Int): Unit = {
    val (vecs, newDocs) = deltas(w)
    w % 4 match {
      case 0 =>
        timedWrite("Similarity.appendLshIndex") {
          Similarity.appendLshIndex(vecs.toSeq.map { case (id, v) => (id, v.toSeq) }
            .toDF("id", "vec"), "vec", "id", lshRoot, Dim, Bits, Tables, Groups)
        }
        vecs.foreach { case (id, v) => vectors.put(id, v) }
        // read-your-write: an appended vector is its own top hit
        val (probeId, probe) = vecs(w % vecs.length)
        val top = Tracer.untraced(annTopK(probe, 1))
        if (top.isEmpty || top(0)._1 != probeId)
          problems.add(s"appended id $probeId not its own top hit: ${top.mkString(",")}")
      case 1 =>
        timedWrite("Vocabulary.appendBm25Index") {
          Vocabulary.appendBm25Index(newDocs.toSeq.toDF("id", "text"), "id", "text",
            bm25Root, Buckets)
        }
        newDocs.foreach { case (id, t) => docs.put(id, t.split(" ")) }
      case 2 =>
        val live = vectors.keySet.asScala.filterNot(deleted.containsKey).toVector.sorted
        val r = new SplittableRandom(ctx.seed * 7 + w)
        val victims = Seq.fill(DeletesPerWrite)(live(r.nextInt(live.length))).distinct
        timedWrite("Similarity.deleteFromLshIndex") {
          Similarity.deleteFromLshIndex(victims.toDF("id"), "id", lshRoot)
        }
        val at = System.nanoTime()
        victims.foreach(id => deleted.put(id, at))
        // read-after-delete: a deleted vector would be its own top hit
        val gone = victims.head
        val hits = Tracer.untraced(annTopK(vectors.get(gone), K))
        if (hits.exists(_._1 == gone))
          problems.add(s"deleted id $gone returned by the read right after its delete")
      case _ =>
        timedWrite("Similarity.compactLshIndex")(Similarity.compactLshIndex(spark, lshRoot))
    }
  }

  def window(deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    val threads = (0 until Readers).map { t =>
      new Thread(() => reader(t, t0, deadlineNs), s"perfbench-reader-$t")
    } :+ new Thread(() => writer(t0, deadlineNs), "perfbench-writer")
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  // ------------------------------------------------------------ checks
  /** Recall@K of `topKAnnDisk` against brute force over the live set:
    * (neighbours found, neighbours asked for, live vectors). The queries
    * run `ctx.cores` at a time.
    */
  private def recall(): (Int, Int, Int) = {
    val live = vectors.asScala.filterNot { case (id, _) => deleted.containsKey(id) }.toVector
    val r = new SplittableRandom(ctx.seed + 99)
    val queries = Vector.fill(RecallQueries)(gaussianNear(centers(r.nextInt(Clusters)), Sigma, r))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      val found = queries.map { q =>
        pool.submit { () =>
          val truth = live.map { case (id, v) => (id, dot(q, v)) }
            .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
          Tracer.untraced(annTopK(q, K)).count(h => truth.contains(h._1))
        }
      }.map(_.get).sum
      (found, K * RecallQueries, live.length)
    } finally pool.shutdown()
  }
  private def dot(a: Array[Double], b: Array[Double]) = {
    var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }

  /** BM25 over the live docs, computed here with the same formula. */
  private def bm25Check(): Seq[String] = Tracer.untraced {
    val all = docs.asScala.toVector
    val n = all.length.toDouble
    val avgdl = all.map(_._2.length).sum / n
    val r = new SplittableRandom(ctx.seed + 77)
    (0 until Bm25CheckQueries).flatMap { _ =>
      val terms = queryTerms(r)
      val df = terms.map(t => t -> all.count(_._2.contains(t))).toMap
      val expected = all.flatMap { case (id, ws) =>
        val contribs = terms.map { t =>
          val tf = ws.count(_ == t).toDouble
          if (tf == 0) 0.0
          else math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * (tf * (K1 + 1)) /
            (tf + K1 * (1 - B + B * ws.length / avgdl))
        }
        if (terms.exists(t => ws.contains(t))) Some(contribs.sum) else None
      }.sorted(Ordering[Double].reverse).take(K)
      val got = bm25Query(terms).map(_._2)
      val ok = got.length == expected.length &&
        got.zip(expected).forall { case (a, b) => math.abs(a - b) <= 2e-4 }
      if (ok) None
      else Some(s"bm25 ${terms.mkString(" ")}: got ${got.mkString(",")} " +
        s"expected ${expected.map(x => f"$x%.4f").mkString(",")}")
    }
  }

  private lazy val checkResults: Seq[Check] = {
    val (found, asked, liveN) = recall()
    val bm = bm25Check()
    val p = problems.asScala.toSeq
    Seq(
      Check("ann.reads_ran", !annNs.isEmpty && !bm25Ns.isEmpty,
        s"${annNs.size} ann, ${bm25Ns.size} bm25 untraced reads"),
      Check("ann.writes_ran", writeNs.nonEmpty, s"${writes} writes"),
      Check("ann.recall_at_10", found >= math.ceil(MinRecall * asked - 1e-9),
        f"recall@$K=${found.toDouble / asked}%.3f ($found of $asked) over $liveN live " +
          s"vectors (bound $MinRecall)"),
      Check("ann.serve_and_ingest", p.isEmpty, p.take(3).mkString(" | ")),
      Check("ann.bm25_matches_reference", bm.isEmpty, bm.take(2).mkString(" | ")))
  }
  def checks(): Seq[Check] = checkResults

  def attempted: Long = reads.get + writes
  def failedOps: Long = failed.get

  private def p(q: ConcurrentLinkedQueue[java.lang.Long], x: Double) =
    Stats.quantile(q.asScala.map(_.doubleValue / 1e6).toSeq, x)
  /** Reads per second summed over the readers, each over its own span
    * from the window start to its last completed read (the writer's
    * last write may end later and must not dilute the read rate).
    */
  private def readsPerS: Double =
    readerBusy.asScala.map { case (n, ns) => n / (ns / 1e9) }.sum
  /** Median CPU of an untraced reader iteration. */
  def cpuMsPerOp: Double = iterationMs((ns, m) => ns + m.all.map(_.cpuNs.get).sum)
  def traceOverhead: Double = p(annTracedNs, 0.5) / p(annUntracedNs, 0.5) - 1.0

  private def iterationMs(f: (Long, Meter) => Long) =
    Stats.median(iterationCpu.asScala.toSeq.map { case (ns, m) => f(ns, m) / 1e6 })

  def named(): Seq[(String, Double, String)] = Seq(
    ("ann.iteration_thread_cpu_ms", iterationMs((ns, _) => ns), "ms"),
    ("ann.iteration_task_cpu_ms", iterationMs((_, m) => m.all.map(_.cpuNs.get).sum), "ms"),
    ("ann_p50_ms", p(annNs, 0.5), "ms"),
    ("ann_samples", annNs.size.toDouble, "count"),
    ("bm25_p50_ms", p(bm25Ns, 0.5), "ms"),
    ("bm25_samples", bm25Ns.size.toDouble, "count"),
    ("write_p50_ms", Stats.median(writeNs.map(_ / 1e6)), "ms"),
    ("write_samples", writeNs.length.toDouble, "count"),
    ("reads_per_s", readsPerS, "1/s"))

  def perLayer(rows: Seq[Tracer.Row]): Seq[(String, Double, String)] = {
    def of(n: String) = rows.filter(_.span.name == n)
    def msOf(n: String) = Stats.median(of(n).map(_.span.durNs / 1e6))
    val annCollect = of("harness.ann_collect")
    val current = new java.io.File(IndexManifest.currentDir(lshRoot))
    val files = listFiles(current).filter(f => f.getName.endsWith(".parquet"))
    val liveN = vectors.size - deleted.size
    def kindMs(k: String) = Stats.median(writeKindNs.getOrElse(k, Vector.empty))
    Seq(
      ("llm.ann_plan_ms", msOf("llm.Similarity.topKAnnDisk"), "ms"),
      ("llm.ann_exec_ms", msOf("harness.ann_collect"), "ms"),
      ("llm.ann_rows_read_per_query", Stats.median(annCollect.map(_.inputRecords.toDouble)), "rows"),
      ("llm.ann_bytes_read_per_query", Stats.median(annCollect.map(_.inputBytes.toDouble)), "bytes"),
      ("llm.jobs_per_read", Stats.median((of("harness.ann_query") ++ of("harness.bm25_query"))
        .map(_.jobs.length.toDouble)), "count"),
      ("llm.bm25_plan_ms", msOf("llm.Vocabulary.bm25Disk"), "ms"),
      ("llm.bm25_exec_ms", msOf("harness.bm25_collect"), "ms"),
      ("llm.append_ms", kindMs("Similarity.appendLshIndex"), "ms"),
      ("llm.bm25_append_ms", kindMs("Vocabulary.appendBm25Index"), "ms"),
      ("llm.delete_ms", kindMs("Similarity.deleteFromLshIndex"), "ms"),
      ("llm.compact_ms", kindMs("Similarity.compactLshIndex"), "ms"),
      ("llm.index_files", files.length.toDouble, "count"),
      ("llm.index_bytes_per_vector_byte",
        files.map(_.length).sum.toDouble / (liveN.toDouble * Dim * 8), "ratio"),
      ("harness.write_late_ms", Stats.median(lateNs.map(_ / 1e6)), "ms"))
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(listFiles) else Seq(f)

  def inputProperties: Map[String, Any] = Map(
    "vectors" -> BaseVectors, "dim" -> Dim, "clusters" -> Clusters, "sigma" -> Sigma,
    "docs" -> BaseDocs, "words_per_doc" -> DocWords, "vocab" -> VocabSize,
    "lsh" -> Map("tables" -> Tables, "bits" -> Bits, "groups" -> Groups, "probe" -> Probe),
    "bm25_buckets" -> Buckets, "readers" -> Readers,
    "write_period_ms" -> WritePeriodNs / 1e6, "writes_applied" -> writes,
    "delta_vectors" -> DeltaVectors, "delta_docs" -> DeltaDocs,
    "deletes_per_write" -> DeletesPerWrite)
}

object AnnServeIngest {
  val Dim = 64
  val BaseVectors = 2000
  val Clusters = 64
  val Sigma = 0.08
  val Tables = 4
  val Bits = 8
  val Groups = 4
  val Probe = 1
  val K = 10
  val BaseDocs = 600
  val DocWords = 30
  val VocabSize = 3000
  val QueryTerms = 3
  val Buckets = 4
  val K1 = 1.5
  val B = 0.75
  val Readers = 2
  val WarmupQueries = 1
  val WritePeriodNs = 2000L * 1000000L
  val MaxWrites = 40
  val DeltaVectors = 40
  val DeltaDocs = 20
  val DeletesPerWrite = 3
  val RecallQueries = 12
  val Bm25CheckQueries = 2
  val MinRecall = 0.8
}
