package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: File,
    val traced: Boolean, val cores: Int) {
  def path(rel: String): String = new File(workDir, rel).getAbsolutePath
}

/** A correctness check: a failed one fails the run and counts in
  * `error_ratio`.
  */
final case class Check(name: String, ok: Boolean, detail: String)

/** One workload: seeded inputs, a repeatable set-up, a measured window
  * and the checks over everything it produced.
  */
trait Workload {
  /** Write the seeded inputs (not part of `setup_s`). */
  def generate(): Unit
  /** Warm-up pass plus one-off builds; run `SetupRounds` times. */
  def setupRound(round: Int): Unit
  /** Run operations until `deadlineNs`. In a traced run, operations
    * alternate between traced and untraced so the gap between the two
    * is the tracing overhead.
    */
  def window(deadlineNs: Long): Unit
  def checks(): Seq[Check]
  def attempted: Long
  def failedOps: Long
  /** Median CPU time of one operation (a pass, or a reader's ANN + BM25
    * read pair), in ms.
    */
  def cpuMsPerOp: Double
  /** The workload's own named metrics (value, unit), in every run. */
  def named(): Seq[(String, Double, String)]
  /** Per-layer metrics from the finished spans (traced run only). */
  def perLayer(rows: Seq[Tracer.Row]): Seq[(String, Double, String)]
  /** Traced median of an operation over its untraced median, minus one. */
  def traceOverhead: Double
  /** Input properties stated for the result record. */
  def inputProperties: Map[String, Any]
}

object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def s(ns: Long): Double = ns / 1e9
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of the JIT compiler threads, ns, read from `/proc` (0 where
    * there is none). The harness starts the JVM with a fixed set of
    * compiler threads, so none exits and takes its time out of the sum.
    */
  def compilerCpuNs(): Long =
    liveThreadCpuNs().collect { case (comm, ns) if comm.contains("CompilerThre") => ns }.sum

  /** CPU time of every live thread of the JVM (name, ns), read from
    * `/proc`; a thread that ended meanwhile is left out.
    */
  def liveThreadCpuNs(): Seq[(String, Long)] = {
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks == null) Nil
    else tasks.toSeq.flatMap { t =>
      try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        val stat = new String(Files.readAllBytes(new File(t, "stat").toPath))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        // utime and stime, in clock ticks of 10 ms
        Some(comm -> (f(11).toLong + f(12).toLong) * 10000000L)
      } catch { case _: java.io.IOException => None }
    }
  }

  /** CPU seconds of the live threads, summed by name with digits removed. */
  def cpuByThreadGroup(): Map[String, Double] =
    liveThreadCpuNs().groupMapReduce(_._1.replaceAll("[0-9]", ""))(_._2 / 1e9)(_ + _)

  /** CPU time of the whole JVM less its JIT compilers' (a warm-up cost
    * that lands at random points of a short run, not work of the
    * program), ns.
    */
  def processCpuNs(): Long = os.getProcessCpuTime - compilerCpuNs()
  /** CPU time of the calling thread, ns. */
  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime
  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

object Main {

  val SetupRounds = 3
  val Workloads = Seq("train_tabular", "ann_serve_ingest", "event_stream")
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val workDir = new File(opts("workdir"))
    val outFile = new File(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage

    Tracer.enabled = traced
    val (spark, sessionNs) = Stats.timed {
      GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores,
          appName = s"perfbench-$name")
        .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
        // bounded status-store history: the live heap then stops growing
        // with the number of jobs a run happens to fit in its window
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Tracer.install(spark.sparkContext)
    val ctx = new Ctx(spark, seed, workDir, traced, cores)
    val w: Workload = name match {
      case "train_tabular" => new TrainTabular(ctx)
      case "ann_serve_ingest" => new AnnServeIngest(ctx)
      case "event_stream" => new EventStream(ctx)
    }
    val exitCode =
      try {
        log(f"session started in ${Stats.s(sessionNs)}%.2f s")
        val (_, genNs) = Stats.timed(w.generate())
        log(f"inputs generated in ${Stats.s(genNs)}%.2f s")
        val roundNs = (0 until SetupRounds).map { r =>
          val ns = Stats.timed(w.setupRound(r))._2
          log(f"setup round $r took ${Stats.s(ns)}%.2f s")
          ns.toDouble
        }
        val heapAfterSetup = oldGenAfterGcMb()
        Tracer.reset()
        val threadCpu0 = Stats.cpuByThreadGroup()
        val t0 = System.nanoTime()
        w.window(t0 + (seconds * 1e9).toLong)
        val windowNs = System.nanoTime() - t0
        log(f"window ran ${Stats.s(windowNs)}%.2f s")
        val heapAtEnd = oldGenAfterGcMb()
        // the window's jobs and task counters are complete from here on
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        val rows = if (traced) Tracer.rows() else Nil
        val endToEnd: Seq[(String, Double, String)] = Seq(
          ("setup_s", Stats.s(sessionNs) + Stats.median(roundNs) / 1e9, "s"),
          ("heap_peak_mb", math.max(heapAfterSetup, heapAtEnd), "MB"),
          ("cpu_ms_per_op", w.cpuMsPerOp, "ms"))
        val finite = Check("harness.metrics_finite",
          endToEnd.forall { case (_, v, _) => v > 0 && !v.isInfinite },
          endToEnd.map { case (k, v, _) => s"$k=$v" }.mkString(" "))
        val checks = w.checks() :+ finite
        val failedChecks = checks.count(!_.ok)
        val attempted = w.attempted + checks.length
        val failed = w.failedOps + failedChecks
        val errorRatio = failed.toDouble / math.max(attempted, 1L)

        val named = w.named() ++ Seq(("error_ratio", errorRatio, "ratio"))
        val layers: Seq[(String, Double, String)] =
          if (!traced) Nil
          else Seq(
            ("core.session_start_s", Stats.s(sessionNs), "s"),
            ("harness.trace_overhead", w.traceOverhead, "ratio"),
            ("harness.spans", rows.length.toDouble, "count")) ++
            sparkPerRoot(rows) ++ w.perLayer(rows)
        val loadEnd = os.getSystemLoadAverage
        val facts = Map(
          "nproc" -> cores,
          "jvm" -> System.getProperty("java.version"),
          "spark" -> spark.version,
          "loadavg_1m_start" -> loadStart,
          "loadavg_1m_end" -> loadEnd,
          "input_generation_s" -> Stats.s(genNs),
          "jit_cpu_s" -> Stats.compilerCpuNs() / 1e9,
          "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
            .map(_.getCollectionTime).sum / 1e3,
          "setup_round_s" -> roundNs.map(_ / 1e9),
          "window_s" -> Stats.s(windowNs),
          "window_thread_cpu_s" -> Stats.cpuByThreadGroup()
            .map { case (k, v) => k -> (v - threadCpu0.getOrElse(k, 0.0)) }.filter(_._2 >= 0.1))
        val contract = if (traced) perLayerContract(layers) else endToEnd
        def asMetrics(ms: Seq[(String, Double, String)]) =
          scala.collection.immutable.ListMap(ms.map { case (k, v, u) =>
            k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
          }: _*)
        val record = scala.collection.immutable.ListMap(
          "workload" -> name, "seed" -> seed, "trace" -> traced,
          "machine" -> facts,
          "inputs" -> w.inputProperties,
          "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
            "detail" -> c.detail)),
          "end_to_end" -> asMetrics(endToEnd),
          "named" -> asMetrics(named),
          "per_layer" -> asMetrics(layers),
          "spans" -> rows.map(spanRecord))
        json.writeValue(outFile, record)
        checks.filterNot(_.ok).foreach(c =>
          System.err.println(s"[perfbench] CHECK FAILED ${c.name}: ${c.detail}"))
        // human-readable summary first; the contract line is last
        (endToEnd ++ named ++ layers).foreach { case (k, v, u) =>
          println(f"# $name%-17s $k%-36s $v%16.4f $u")
        }
        println(json.writeValueAsString(scala.collection.immutable.ListMap(
          "correct" -> (failed == 0),
          "attempted" -> attempted,
          "failed" -> failed,
          "metrics" -> asMetrics(contract))))
        if (failed == 0) 0 else 3
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    try spark.stop() catch { case _: Throwable => () }
    System.out.flush()
    sys.exit(exitCode)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The per-layer metrics every workload's traced run reports. */
  val PerLayerContract = Seq("core.session_start_s", "harness.trace_overhead",
    "harness.spans", "spark.jobs", "spark.tasks", "spark.task_cpu_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.cached_bytes")

  private def perLayerContract(layers: Seq[(String, Double, String)]) = {
    val byName = layers.map(l => l._1 -> l).toMap
    PerLayerContract.map(byName)
  }

  /** Spark counters per root span (one benchmark operation), averaged. */
  private def sparkPerRoot(rows: Seq[Tracer.Row]): Seq[(String, Double, String)] = {
    val roots = rows.filter(_.span.parent == 0L)
    def mean(f: Tracer.Row => Double) =
      if (roots.isEmpty) 0.0 else roots.map(f).sum / roots.length
    Seq(
      ("spark.jobs", mean(_.jobs.length.toDouble), "count"),
      ("spark.tasks", mean(_.tasks.toDouble), "count"),
      ("spark.task_cpu_s", mean(_.cpuNs / 1e9), "s"),
      ("spark.gc_s", mean(_.gcMs / 1e3), "s"),
      ("spark.shuffle_write_bytes", mean(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.cached_bytes",
        if (rows.isEmpty) 0.0 else rows.map(_.span.cachedBytesAtEnd.toDouble).max,
        "bytes"))
  }

  private def spanRecord(r: Tracer.Row) = scala.collection.immutable.ListMap(
    "id" -> r.span.id, "parent" -> r.span.parent, "name" -> r.span.name,
    "thread" -> r.span.thread,
    "start_ms" -> r.span.startNs / 1e6, "end_ms" -> r.span.endNs / 1e6,
    "dur_ms" -> r.span.durNs / 1e6, "self_ms" -> r.selfNs / 1e6,
    "jobs" -> r.jobs.length, "tasks" -> r.tasks, "task_cpu_s" -> r.cpuNs / 1e9,
    "gc_s" -> r.gcMs / 1e3, "shuffle_write_bytes" -> r.shuffleWriteBytes,
    "spill_bytes" -> r.spillBytes, "input_bytes" -> r.inputBytes,
    "input_records" -> r.inputRecords,
    "cached_bytes_at_end" -> r.span.cachedBytesAtEnd,
    "jobs_ms" -> r.span.meter.all.map(j => Seq(j.site, j.ms)))

  /** Old-generation occupancy right after a full collection, in MB. The
    * first collection lets Spark's cleaner release broadcast and shuffle
    * blocks whose handles died; the second measures what is left.
    */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed / (1024.0 * 1024.0)).sum
  }
}
