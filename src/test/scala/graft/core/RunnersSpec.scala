package graft.core

import graft.SparkSpec

class RunnersSpec extends SparkSpec {

  test("runner config serialization round-trips") {
    val cfg = RunnerConfig.cluster("spark://host:7077", executors = 10,
      executorMemory = "14g", executorCores = 4)
    val back = RunnerConfig.deserialize(cfg.serialize)
    assert(back == cfg)
    assert(back.shufflePartitions == 80)
  }

  test("presets mirror the reference sizing facts") {
    val emb = RunnerConfig.embedded()
    assert(emb.master == "local-cluster[2,1,2048]")
    assert(emb.executorMemory.contains("2g"))
    val loc = RunnerConfig.local(8)
    assert(loc.master == "local[8]" && loc.shufflePartitions == 8)
  }

  test("an embedded session's executor JVM writes and reads parquet") {
    // executors of a local-cluster master launch from SPARK_HOME with
    // Spark's jars only; the session's `file:` filesystem is graft's
    val jar = (c: Class[_]) =>
      c.getProtectionDomain.getCodeSource.getLocation.getPath
    val sparkJars = new java.io.File(
      jar(classOf[org.apache.spark.sql.SparkSession])).getParentFile
    val cp = Seq(classOf[RunnersSpec], RunnerConfig.getClass)
      .map(jar).distinct :+ s"$sparkJars/*"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(_.startsWith("--add-opens"))
    val out = java.nio.file.Files.createTempDirectory("embedded_rt")
      .resolve("t").toString
    val log = java.nio.file.Files.createTempFile("embedded_rt", ".log").toFile
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java",
      "-Xmx1g") ++ opens ++
      Seq("-cp", cp.mkString(java.io.File.pathSeparator),
        "graft.core.EmbeddedRoundTrip", out)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log)
    // the worker builds the executor command from these
    pb.environment.put("SPARK_HOME", sparkJars.getParent)
    pb.environment.put("SPARK_SCALA_VERSION",
      scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
    val p = pb.start()
    val finished = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly(): Unit
    val text = java.nio.file.Files.readString(log.toPath)
    assert(finished && p.exitValue() == 0, s"embedded JVM failed:\n$text")
    assert(text.linesIterator.contains("sum=999000"), text)
  }

  test("sql gate runs scripts and awaits views") {
    import spark.implicits._
    Seq((1, "a")).toDF("x", "s").createOrReplaceTempView("gate_src")
    SqlGate.runScript(spark,
      """CREATE OR REPLACE TEMPORARY VIEW gate_v AS SELECT x FROM gate_src;
         SELECT * FROM gate_v""")
    assert(SqlGate.awaitView(spark, "gate_v", timeoutMs = 1000))
    assert(!SqlGate.awaitView(spark, "gate_missing", timeoutMs = 300))
    assert(spark.table("gate_v").columns.toSeq == Seq("x"))
  }

  test("staging via generated SQL DDL matches the Column-based path") {
    import spark.implicits._
    import graft.relational.Staging
    import graft.relational.Staging.StagingSpec
    val df = Seq((1, 2.5, "x", "drop_me")).toDF("i", "d", "s", "drop_c")
    val spec = StagingSpec(dropPrefixes = Seq("drop_"))
    val viaDdl = Staging.stageViaSqlDdl(spark, df, spec, "stage_src", "stage_v")
    val viaCols = Staging.stage(df, spec)
    assert(viaDdl.schema == viaCols.schema)
    assert(viaDdl.collect().toSeq == viaCols.collect().toSeq)
  }

  test("training monitor callback fires per iteration") {
    import spark.implicits._
    import graft.encode.Encoder.EncoderSpec
    import graft.train.DistributedTrainer
    val rows = (1 to 100).map(i => if (i % 2 == 0) ("a", 1.0, 1) else ("b", -1.0, 2))
    val df = rows.toDF("cat", "x", "label")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    DistributedTrainer.fit(spark, df, EncoderSpec(featureDim = 4),
      DistributedTrainer.TrainConfig(hidden = Nil, classes = 2,
        labelCol = "label", iterations = 3,
        monitor = (i, l) => seen += ((i, l))))
    assert(seen.nonEmpty)
    assert(seen.map(_._1).toSeq == seen.indices.toSeq) // 0,1,2,...
  }
}
