package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener counters of one Spark job. */
final class JobStats(val site: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  def ms: Long = endMs - startMs
}

/** The jobs submitted under one label (a span, or a metered operation). */
final class Meter {
  val jobs = new ConcurrentLinkedQueue[JobStats]
  def all: Seq[JobStats] = jobs.asScala.toSeq
}

final class Span(val id: Long, val parent: Long, val name: String,
    val thread: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var cachedBytesAtEnd: Long = 0L
  val meter = new Meter
  def key: String = s"span$id"
  def durNs: Long = endNs - startNs
}

/** Job attribution and the span recorder of the traced run.
  *
  * One Spark listener maps every job to a label: the first line of its
  * `spark.job.description` (which graft's `Sessions.carryJobDescription`
  * forwards to the threads it spawns, and which a streaming query starts
  * with its query name). Labels starting with `perfbench_` collect the
  * job's task counters in that label's [[Meter]].
  *
  * A span wraps one call the benchmark makes into a graft module's
  * public function and is named `<module>.<Object>.<function>`. Parents
  * come from a per-thread stack; the span labels the thread's jobs while
  * it is open. With tracing off, or inside `untraced`, `span` is a plain
  * call.
  */
object Tracer {

  @volatile var enabled = false
  private val off = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Whether calls on this thread are being traced. */
  private def active: Boolean = enabled && !off.get

  /** Run `body` untraced on this thread (the untraced half of a traced run). */
  def untraced[A](body: => A): A = {
    val prev = off.get
    off.set(true)
    try body finally off.set(prev)
  }

  val Prefix = "perfbench_"
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]
  private val meters = new ConcurrentHashMap[String, Meter]
  private val stageJob = new ConcurrentHashMap[Int, JobStats]
  private val jobById = new ConcurrentHashMap[Int, JobStats]
  private val scRef = new AtomicReference[SparkContext]

  def install(sc: SparkContext): Unit = {
    scRef.set(sc)
    sc.addSparkListener(Listener)
  }

  def meter(key: String): Meter = meters.computeIfAbsent(key, _ => new Meter)

  /** Label this thread's jobs with `key` from now on. */
  def label(key: String): Meter = {
    val m = meter(key)
    scRef.get.setJobDescription(Prefix + key)
    m
  }

  /** A name for a streaming query started on this thread. In a traced
    * call it is the open span's label plus `suffix`: the query's
    * micro-batch jobs, whose description starts with the query name,
    * then land in that span.
    */
  def queryName(suffix: String): String =
    stack.get.headOption.filter(_ => active) match {
      case Some(s) =>
        val key = s"${s.key}_$suffix"
        meters.put(key, s.meter)
        Prefix + key
      case None => suffix
    }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val sc = scRef.get
      val parents = stack.get
      val s = new Span(nextId.getAndIncrement(),
        parents.headOption.map(_.id).getOrElse(0L), name,
        Thread.currentThread.getName, System.nanoTime())
      meters.put(s.key, s.meter)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(Prefix + s.key)
      stack.set(s :: parents)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(parents)
        sc.setJobDescription(prevDesc)
        s.cachedBytesAtEnd = cachedBytes(sc)
        spans.add(s)
      }
    }

  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum

  def reset(): Unit = {
    spans.clear(); meters.clear(); stageJob.clear(); jobById.clear()
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      if (desc != null && desc.startsWith(Prefix)) {
        val m = meters.get(desc.drop(Prefix.length).takeWhile(_ != '\n'))
        if (m != null) {
          // the result stage is named by the job's short call site
          val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
          val js = new JobStats(site, e.time)
          e.stageIds.foreach(stageJob.put(_, js))
          jobById.put(e.jobId, js)
          m.jobs.add(js)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.remove(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val js = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (js != null && m != null) {
        js.tasks.incrementAndGet()
        js.cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
        js.gcMs.addAndGet(m.jvmGCTime)
        js.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        js.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        js.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        js.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  /** A finished span with its self time (duration minus the union of
    * its children's intervals) and the jobs of its whole subtree.
    */
  final case class Row(span: Span, selfNs: Long, jobs: Seq[JobStats]) {
    private def sum(f: JobStats => AtomicLong) = jobs.map(f(_).get).sum
    def tasks: Long = sum(_.tasks)
    def cpuNs: Long = sum(_.cpuNs)
    def gcMs: Long = sum(_.gcMs)
    def shuffleWriteBytes: Long = sum(_.shuffleWriteBytes)
    def spillBytes: Long = sum(_.spillBytes)
    def inputBytes: Long = sum(_.inputBytes)
    def inputRecords: Long = sum(_.inputRecords)
  }

  def rows(): Seq[Row] = {
    val all = spans.asScala.toVector
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)
    all.map { s =>
      val kids = children.getOrElse(s.id, Vector.empty)
        .map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L; var curS = 0L; var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      Row(s, s.durNs - covered, subtree(s).flatMap(_.meter.all))
    }
  }
}
