package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.encode.Encoder.EncoderSpec
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.PipelineConfig
import graft.sources.IO
import graft.train.DistributedTrainer.TrainConfig

/** `train_tabular`: the paper's path, `Pipeline.run` (stage → split →
  * `DistributedTrainer.fit` → `predictionReport`), one shard per pass.
  * Inputs: per shard `RowsPerShard` rows with a 5-way and a 1000-way
  * string column, three numeric columns, a struct (3-way string +
  * numeric) and a 3-class label that depends on four of them.
  *
  * A traced pass is the same `Pipeline.run` call inside one span; its
  * layers are told apart by the call sites of the Spark jobs it ran.
  */
final class TrainTabular(ctx: Ctx) extends Workload {
  import TrainTabular._
  private val spark = ctx.spark
  private val dir = ctx.path("input/train")

  private val encSpec = EncoderSpec(featureDim = 8)
  private val trainCfg = TrainConfig(hidden = Seq(16), classes = Classes,
    labelCol = "label", iterations = Iterations, initialStep = InitialStep,
    seed = ctx.seed)
  private val cfg = PipelineConfig(encoder = encSpec, train = trainCfg,
    reportRows = ReportRows, seed = ctx.seed)

  private def shard(i: Int): DataFrame =
    Tracer.span("sources.IO.readParquet")(IO.readParquet(spark, s"$dir/shard=$i"))

  def generate(): Unit = {
    val n = RowsPerShard.toLong * Shards
    val scale = (1L << 31).toDouble
    def u(k: Int): Column =
      pmod(xxhash64(lit(ctx.seed), col("id"), lit(k)), lit(1L << 31))
        .cast("double") / lit(scale)
    // Irwin–Hall(3), centred: bell-shaped on [-3, 3]
    def z(k: Int): Column = (u(k) + u(k + 100) + u(k + 200) - lit(1.5)) * lit(2.0)
    val j = col("id") % lit(RowsPerShard.toLong)
    val sh = (col("id") / lit(RowsPerShard.toLong)).cast("long")
    val region = pmod(j + sh, lit(LowCard.toLong))
    // one range partition per shard: each task writes one shard's file
    val base = spark.range(0L, n, 1L, Shards)
      .select(col("id"), sh.as("shard"), region.as("r"),
        z(1).as("x1"), z(2).as("x2"), (u(3) * lit(10.0)).as("x3"),
        z(4).as("score"), z(5).as("noise"))
    val latent = col("x1") * 1.2 - col("x2") * 0.8 +
      (col("r") - lit(2)) * 0.4 + col("score") * 0.6 + col("noise") * 0.3
    base.select(col("shard"),
        concat(lit("r"), col("r").cast("string")).as("region"),
        // each of the HighCard values exactly RowsPerShard/HighCard times
        concat(lit("s"), pmod(j * lit(7919L) + lit(ctx.seed), lit(HighCard.toLong))
          .cast("string")).as("sku"),
        col("x1"), col("x2"), col("x3"),
        struct(concat(lit("c"), pmod(j * lit(31L) + sh, lit(Channels.toLong))
          .cast("string")).as("channel"), col("score").as("score")).as("ctx"),
        when(latent < -0.6, 1).when(latent < 0.6, 2).otherwise(3).as("label"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
  }

  // ------------------------------------------------------------ state
  private var nextShard = SetupShards
  private var reference: Seq[Double] = Nil
  private var repeat: Seq[Double] = Nil
  private val passNs = collection.mutable.ArrayBuffer.empty[Long]
  private val passCpuNs = collection.mutable.ArrayBuffer.empty[Long]
  private val untracedNs = collection.mutable.ArrayBuffer.empty[Long]
  private val tracedNs = collection.mutable.ArrayBuffer.empty[Long]
  private val problems = collection.mutable.ArrayBuffer.empty[String]
  private var ops = 0L
  private var failed = 0L
  private var lastKeys = 0
  private var accuracies = Vector.empty[Double]
  private var acceptedSteps = 0L
  private var historySteps = 0L

  private def runPipeline(raw: DataFrame): Outcome = {
    val r = Tracer.span("pipeline.Pipeline.run")(Pipeline.run(spark, raw, cfg))
    Outcome(r.trainResult.lossHistory, r.trainResult.state.representations.size,
      r.reportAccuracy)
  }

  private def record(o: Outcome, what: String): Unit = {
    val h = o.history
    val finite = h.nonEmpty && h.forall(x => !x.isNaN && !x.isInfinite)
    val nonIncreasing = h.zip(h.drop(1)).forall { case (a, b) => b <= a }
    val ok = finite && nonIncreasing && h.last < h.head && o.keys == ExpectedKeys
    if (!ok) {
      failed += 1
      problems += s"$what: history=${h.mkString(",")} keys=${o.keys} " +
        s"(expected $ExpectedKeys) accuracy=${o.accuracy}"
    }
    lastKeys = o.keys
    accuracies :+= o.accuracy
    acceptedSteps += h.zip(h.drop(1)).count { case (a, b) => b < a }
    historySteps += 1
  }

  /** Rounds run shards 0, 1, ..., and the last round runs shard 0
    * again: the seed's reference run and its repeat, compared in
    * `checks` (nothing stays cached between passes, so the repeat
    * recomputes).
    */
  def setupRound(round: Int): Unit = {
    val last = round == Main.SetupRounds - 1
    val o = Tracer.untraced(runPipeline(shard(if (last) 0 else round)))
    if (round == 0) reference = o.history
    if (last) repeat = o.history
    record(o, s"setup round $round")
  }

  def window(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs && nextShard < Shards) {
      val i = nextShard
      nextShard += 1
      val traceThis = ctx.traced && i % 2 == 1
      val cpu0 = Stats.processCpuNs()
      val (o, ns) = Stats.timed {
        try Some(if (traceThis) Tracer.span("harness.train_pass")(runPipeline(shard(i)))
          else Tracer.untraced(runPipeline(shard(i))))
        catch { case e: Exception =>
          failed += 1; problems += s"shard $i: $e"; None }
      }
      ops += 1
      o.foreach(record(_, s"shard $i"))
      if (traceThis) tracedNs += ns
      else {
        untracedNs += ns; passNs += ns; passCpuNs += Stats.processCpuNs() - cpu0
      }
    }

  def checks(): Seq[Check] = {
    // same data and seed must give the same loss trajectory
    val again = repeat
    val close = again.length == reference.length &&
      again.zip(reference).forall { case (a, b) =>
        math.abs(a - b) <= RefTolerance * math.max(1.0, math.abs(b)) }
    Seq(
      Check("train.passes_ran", passNs.nonEmpty, s"${passNs.length} untraced passes"),
      Check("train.loss_finite_decreasing_and_keys", problems.isEmpty,
        problems.take(3).mkString("; ")),
      Check("train.reference_trajectory", close,
        s"reference=${reference.mkString(",")} rerun=${again.mkString(",")} " +
          s"tolerance=$RefTolerance"),
      Check("train.encode_keys", lastKeys == ExpectedKeys,
        s"keys=$lastKeys expected=$ExpectedKeys"))
  }

  def attempted: Long = ops + Main.SetupRounds
  def failedOps: Long = failed

  def cpuMsPerOp: Double = Stats.median(passCpuNs.map(_ / 1e6))
  private def passP50Ms = Stats.median(passNs.map(_ / 1e6))
  def traceOverhead: Double =
    Stats.median(tracedNs.map(_.toDouble)) / Stats.median(untracedNs.map(_.toDouble)) - 1.0

  def named(): Seq[(String, Double, String)] = Seq(
    ("train_rows_per_s", RowsPerShard / (passP50Ms / 1e3), "rows/s"),
    ("train_pass_p50_ms", passP50Ms, "ms"),
    ("train.report_accuracy", Stats.median(accuracies), "ratio"),
    ("train.passes", passNs.length.toDouble, "count"))

  /** Per-layer figures of the traced passes. Every job of a pass is
    * attributed to the layer of the graft source file it was submitted
    * from (its short call site); the report's collect is submitted from
    * `Pipeline.scala`. Each figure is the median over passes of the sum
    * over that layer's jobs.
    */
  def perLayer(rows: Seq[Tracer.Row]): Seq[(String, Double, String)] = {
    val runs = rows.filter(_.span.name == "pipeline.Pipeline.run")
    def from(files: String*)(j: JobStats) = files.exists(f => j.site.contains(s"$f.scala:"))
    val staging = from("Staging") _
    val encode = from("Encoder", "KeyDiscovery", "Moments", "SchemaPaths", "Deterministic") _
    val trainer = from("DistributedTrainer", "Network") _
    val report = from("Pipeline") _
    def perRun(f: Seq[JobStats] => Double) = Stats.median(runs.map(r => f(r.jobs)))
    def jobS(p: JobStats => Boolean) = perRun(_.filter(p).map(_.ms / 1e3).sum)
    // a gradient evaluation is one treeReduce/collect job of the trainer
    def gradJobs(js: Seq[JobStats]) = js.filter(j => trainer(j) &&
      (j.site.startsWith("treeReduce") || j.site.startsWith("collect")))
    val gradEvalsPerFit = perRun(gradJobs(_).length.toDouble)
    Seq(
      ("pipeline.run_s", Stats.median(runs.map(_.span.durNs / 1e9)), "s"),
      ("pipeline.jobs", perRun(_.length.toDouble), "count"),
      ("relational.stage_s", jobS(staging), "s"),
      ("encode.fit_s", jobS(encode), "s"),
      ("encode.keys", lastKeys.toDouble, "count"),
      ("train.fit_s", jobS(trainer), "s"),
      ("train.grad_evals", gradEvalsPerFit, "count"),
      ("train.grad_eval_p50_ms",
        Stats.median(runs.flatMap(r => gradJobs(r.jobs)).map(_.ms.toDouble)), "ms"),
      ("train.accepted_ratio",
        if (gradEvalsPerFit == 0) 0.0
        else acceptedSteps.toDouble / historySteps / gradEvalsPerFit, "ratio"),
      ("train.shuffle_bytes",
        perRun(_.filter(trainer).map(_.shuffleWriteBytes.get.toDouble).sum), "bytes"),
      ("train.report_s", jobS(report), "s"),
      ("train.other_jobs_s", jobS(j => !(staging(j) || encode(j) || trainer(j) || report(j))),
        "s"))
  }

  def inputProperties: Map[String, Any] = Map(
    "rows_per_shard" -> RowsPerShard, "shards" -> Shards,
    "categorical_cardinalities" -> Map("region" -> LowCard, "sku" -> HighCard,
      "ctx.channel" -> Channels),
    "numeric_columns" -> 4, "classes" -> Classes,
    "bytes_on_disk" -> dirBytes(new java.io.File(dir)))

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum else f.length()
}

object TrainTabular {
  final case class Outcome(history: Seq[Double], keys: Int, accuracy: Double)

  val RowsPerShard = 12000
  val SetupShards = Main.SetupRounds - 1
  val Shards = SetupShards + 8
  val LowCard = 5
  val HighCard = 1000
  val Channels = 3
  val Classes = 3
  val ExpectedKeys = LowCard + HighCard + Channels
  val Iterations = 4
  val InitialStep = 0.5
  val ReportRows = 300
  val RefTolerance = 1e-6
}
