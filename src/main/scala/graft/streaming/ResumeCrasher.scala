package graft.streaming

import org.apache.spark.sql.SparkSession

/** Hard-kill half of the durable-resume certification: a SEPARATE
  * JVM that runs a stateful pipeline over a staged paced source with
  * a durable checkpoint, then `Runtime.halt`s itself inside the
  * target epoch — after that epoch's output is written, before its
  * commit. No shutdown hooks, no finally blocks, no graceful
  * anything: the process is gone the way a preempted executor host
  * is gone.
  *
  * Two pipelines, because their recovery machinery differs: `dedup`
  * (dropDuplicatesWithinWatermark key state, append mode into
  * batch=<id> dirs) and `agg` (windowed sum/count aggregation state,
  * complete mode into a snapshot dir — lost state undercounts,
  * double-applied state overcounts, so snapshot equality pins the
  * recovered arithmetic exactly).
  *
  * The parent spec (`StreamingResumeSpec`) waits for the halt exit
  * code, rebuilds the identical plan in its own JVM, resumes from the
  * on-disk checkpoint, and proves the assembled end state equals an
  * uninterrupted run's.
  *
  * args: stagedDir workDir haltAtBatch [dedup|agg]
  */
object ResumeCrasher {
  /** Exit code the parent asserts on — distinguishable from a crash
    * of the crasher itself (1) or a clean-but-wrong run (0).
    */
  val HaltCode = 117

  /** The pipeline under certification, shared verbatim by the crasher
    * JVM and the resuming spec JVM — resume must rebuild the SAME
    * plan against the dead process's checkpoint.
    */
  def pipeline(kind: String, spark: SparkSession,
      stagedDir: String): org.apache.spark.sql.DataFrame = kind match {
    case "dedup" =>
      Streams.dedupByKey(Streams.pacedStream(spark, stagedDir),
        "event_id", watermark = "3650 days")
    case "agg" =>
      Streams.hourlyAgg(Streams.pacedStream(spark, stagedDir))
    case other =>
      throw new IllegalArgumentException(s"unknown pipeline: $other")
  }

  def main(args: Array[String]): Unit = {
    val (stagedDir, workDir, haltAtStr) = (args(0), args(1), args(2))
    val kind = if (args.length > 3) args(3) else "dedup"
    val haltAt = haltAtStr.toLong
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-resume-crasher")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.LocalFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Streams.resumableAttempt(
      pipeline(kind, spark, stagedDir),
      s"$workDir/sink", s"$workDir/ckpt", "resume_crasher",
      complete = kind == "agg",
      sabotage = id =>
        if (id == haltAt) {
          Console.err.println(s"[crasher] halting JVM inside epoch $id")
          Runtime.getRuntime.halt(HaltCode)
        })
    // reaching here means the sabotage never fired — fail loudly so
    // the parent never mistakes a no-crash run for a certification
    Console.err.println(s"[crasher] ERROR: epoch $haltAt never ran")
    spark.stop()
    sys.exit(1)
  }
}
