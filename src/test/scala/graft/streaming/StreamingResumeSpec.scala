package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Durable-checkpoint crash-resume certification. Every test runs a
  * stream over the events fixture staged into four time-ordered files
  * (one epoch each), interrupts it, restarts from the SAME durable
  * checkpoint with the plan rebuilt from scratch, and proves the
  * assembled end state equals an uninterrupted run's and the batch
  * twin's. Interruption flavors, weakest to strongest:
  *
  *  - graceful `stop()` after an epoch commits, restart on a fresh
  *    isolated session;
  *  - a crash INSIDE an epoch — output written, commit suppressed
  *    (the widest window at-least-once execution leaves open);
  *  - a hard `Runtime.halt` of a SEPARATE JVM mid-epoch — no shutdown
  *    hooks, no finally blocks, the way a preempted executor host
  *    dies — resumed by THIS JVM from the on-disk checkpoint.
  */
class StreamingResumeSpec extends SparkSpec {
  private val eventsFile = "/root/testdata/sf0.001/events.parquet"

  private def work(): String =
    java.nio.file.Files.createTempDirectory("resume_spec").toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("stateful aggregation survives a crash inside an epoch " +
      "(state neither lost nor double-applied)") {
    val staged = Streams.stageEventsParts(spark, eventsFile, 4)
    val mk = (s: org.apache.spark.sql.SparkSession) =>
      Streams.hourlyAgg(Streams.pacedStream(s, staged))

    val resumed = Streams.resumeCertified(spark, mk, work(),
      "agg_crash", crashAfterBatch = 1L, complete = true)

    val cleanDir = work()
    Streams.resumableAttempt(mk(spark), s"$cleanDir/sink",
      s"$cleanDir/ckpt", "agg_clean", complete = true)
    val clean = Streams.readResumableSink(spark, s"$cleanDir/sink",
      complete = true)

    val batchTwin = graft.sources.Tables
      .events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))

    val r = rowsOf(resumed)
    assert(r.nonEmpty)
    assert(r === rowsOf(clean),
      "resumed end state diverged from the uninterrupted run")
    assert(r === rowsOf(batchTwin),
      "resumed end state diverged from the batch twin")
  }

  test("stateful dedup survives stop() between epochs and a " +
      "fresh-session restart, with duplicates spanning the stop") {
    // every 7th event is redelivered in the LAST epoch — its
    // suppression after the restart can only come from recovered state
    val staged = Streams.stageEventsParts(spark, eventsFile, 4,
      dupEvery = 7)
    val mk = (s: org.apache.spark.sql.SparkSession) =>
      Streams.dedupByKey(Streams.pacedStream(s, staged),
        "event_id", watermark = "3650 days")
        .select(col("event_id"), col("user_id"), col("event_type"))
    val wd = work()

    // attempt 1: stop gracefully once epoch 0 is committed (epoch 1
    // may already be mid-flight — stop() interrupts it uncommitted)
    Streams.resumableAttempt(mk(spark), s"$wd/sink", s"$wd/ckpt",
      "dedup_stop", stopAfterBatch = 0L)
    // count only the epoch the stop guaranteed committed — epoch 1 may
    // exist on disk half-written (stop() interrupted its write; the
    // resume's idempotent overwrite repairs it)
    val committed = spark.read.parquet(s"$wd/sink/batch=0").count()

    // attempt 2: fresh isolated session, plan rebuilt, resume
    val fresh = graft.core.Sessions.isolated(spark, Map.empty)
    Streams.resumableAttempt(mk(fresh), s"$wd/sink", s"$wd/ckpt",
      "dedup_resume")
    val out = Streams.readResumableSink(spark, s"$wd/sink",
      complete = false)

    val expected = spark.read.parquet(eventsFile)
      .select(col("event_id"), col("user_id"), col("event_type"))
    assert(out.count() > committed,
      "resume processed nothing — the stop fired after all input")
    assert(out.groupBy(col("event_id")).count()
        .filter(col("count") > 1).isEmpty,
      "redelivered duplicates leaked through the restart")
    assert(rowsOf(out) === rowsOf(expected))
  }

  test("stream-stream interval join survives a crash inside an epoch") {
    val staged = Streams.stageEventsParts(spark, eventsFile, 4)
    val mk = (s: org.apache.spark.sql.SparkSession) => {
      val raw = Streams.pacedStream(s, staged)
      val clicks = raw.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = raw.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      Streams.intervalJoin(clicks, purchases, "user_id", "p_user_id",
          "click_ts", "purchase_ts", "24 hours")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
    }

    val resumed = Streams.resumeCertified(spark, mk, work(),
      "join_crash", crashAfterBatch = 1L)

    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val batchTwin = c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 24 hours"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))

    val r = rowsOf(resumed)
    assert(r.nonEmpty)
    assert(r === rowsOf(batchTwin),
      "join matches lost or duplicated across the crash-resume")
  }

  /** Launch the crasher JVM against `staged`, wait for the halt, and
    * return its combined output (asserts the halt code). Replicates
    * build.sbt's JDK17 module opens — the crasher creates a
    * SparkSession outside spark-submit/sbt.
    */
  private def launchCrasher(staged: String, wd: String,
      haltAt: Long, kind: String,
      env: Map[String, String] = Map.empty): String = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val mainClasses = Streams.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$mainClasses:/opt/spark/jars/*"
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false", "-cp", cp,
      "graft.streaming.ResumeCrasher", staged, wd, haltAt.toString, kind)
    // child output goes to a FILE so the hang guard stays reachable —
    // readAllBytes() on a live pipe blocks until EOF, which a wedged
    // child never produces
    val logFile = java.nio.file.Files
      .createTempFile("crasher", ".log").toFile
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(logFile)
    env.foreach { case (k, v) => pb.environment.put(k, v) }
    val proc = pb.start()
    val finished =
      proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly(): Unit
    val outLog = java.nio.file.Files.readString(logFile.toPath)
    assert(finished, s"crasher JVM hung (killed)\n$outLog")
    assert(proc.exitValue() === ResumeCrasher.HaltCode,
      s"crasher exited ${proc.exitValue()}, want halt code " +
        s"${ResumeCrasher.HaltCode}\n$outLog")
    outLog
  }

  test("hard JVM halt mid-epoch: a separate process dies without " +
      "cleanup; this JVM resumes its checkpoint exactly-once") {
    val staged = Streams.stageEventsParts(spark, eventsFile, 4,
      dupEvery = 7)
    val wd = work()
    val outLog = launchCrasher(staged, wd, haltAt = 1L, kind = "dedup")
    // the dead JVM committed epoch 0 and wrote (but never committed)
    // epoch 1 — both visible on disk
    assert(new java.io.File(s"$wd/sink/batch=0").isDirectory,
      s"no committed epoch from the crasher\n$outLog")

    // resume in THIS JVM from the dead process's checkpoint, plan
    // rebuilt from scratch (the pipeline is shared with the crasher)
    Streams.resumableAttempt(
      ResumeCrasher.pipeline("dedup", spark, staged),
      s"$wd/sink", s"$wd/ckpt", "halt_resume")
    val out = Streams.readResumableSink(spark, s"$wd/sink",
      complete = false)

    val expected = spark.read.parquet(eventsFile)
    assert(out.groupBy(col("event_id")).count()
        .filter(col("count") > 1).isEmpty,
      "duplicates leaked: state recovered from the halted JVM's " +
        "checkpoint failed to suppress redelivery")
    assert(rowsOf(out.select(col("event_id"), col("user_id"))) ===
      rowsOf(expected.select(col("event_id"), col("user_id"))))
  }

  test("hard JVM halt mid-epoch with AGGREGATION state: the resumed " +
      "snapshot equals the batch twin (nothing lost, nothing " +
      "double-applied)") {
    val staged = Streams.stageEventsParts(spark, eventsFile, 4)
    val wd = work()
    launchCrasher(staged, wd, haltAt = 1L, kind = "agg"): Unit
    // the halted process committed epoch 0's snapshot (a PARTIAL
    // aggregate over the first slice) and died inside epoch 1
    val partial = spark.read.parquet(s"$wd/sink/snapshot")
      .agg(sum(col("n_events"))).collect().head.getLong(0)

    Streams.resumableAttempt(
      ResumeCrasher.pipeline("agg", spark, staged),
      s"$wd/sink", s"$wd/ckpt", "halt_agg_resume", complete = true)
    val out = spark.read.parquet(s"$wd/sink/snapshot")

    val batchTwin = graft.sources.Tables
      .events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    val total = batchTwin.agg(sum(col("n_events")))
      .collect().head.getLong(0)
    assert(partial < total,
      "the dead JVM had already drained all input — the crash window " +
        "this certification needs never existed")
    assert(rowsOf(out) === rowsOf(batchTwin),
      "aggregation state recovered from the halted JVM's checkpoint " +
        "diverged from the batch twin")
  }

  test("a streaming JVM's checkpoint forks no chmod, readlink, ls or " +
      "stat") {
    // logging wrappers first on the crasher's PATH; setsid is Hadoop's
    // one probe when its Shell class loads, so its line proves the
    // wrappers were in the way
    val bin = java.nio.file.Files.createTempDirectory("fork_log")
    val log = bin.resolve("forks.log")
    val path = sys.env.getOrElse("PATH", "/usr/bin:/bin")
    Seq("chmod", "readlink", "ls", "stat", "setsid").foreach { cmd =>
      val real = path.split(':').map(d => new java.io.File(d, cmd))
        .find(_.canExecute).getOrElse(fail(s"no $cmd on PATH"))
      val w = bin.resolve(cmd)
      java.nio.file.Files.writeString(w, "#!/bin/sh\n" +
        s"echo \"$cmd $$*\" >> '$log'\nexec '$real' \"$$@\"\n")
      assert(w.toFile.setExecutable(true))
    }
    val staged = Streams.stageEventsParts(spark, eventsFile, 4,
      dupEvery = 7)
    val wd = work()
    val outLog = launchCrasher(staged, wd, haltAt = 2L, kind = "dedup",
      env = Map("PATH" -> s"$bin:$path"))
    assert(new java.io.File(s"$wd/sink/batch=1").isDirectory,
      s"the crasher committed fewer than two epochs\n$outLog")
    val forks = java.nio.file.Files.readAllLines(log).asScala.toSeq
    val (probe, rest) = forks.partition(_.startsWith("setsid "))
    assert(probe.nonEmpty, forks)
    assert(rest.isEmpty, s"${rest.size} forks")
  }

  test("registered streaming_resume query matches its oracle shape") {
    val df = graft.queries.Catalog.byName("streaming_resume")
      .run(spark, "/root/testdata/sf0.001")
    assert(df.columns.toSeq ===
      Seq("hour_start", "n_events", "sum_value"))
    assert(df.count() > 0)
  }
}
