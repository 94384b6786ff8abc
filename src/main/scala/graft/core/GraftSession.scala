package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Mirrors the reference's session bootstrap (reference
  * `CovType_Trainer_Local.scala:25`, `CovType_Trainer_Embedded.scala:24-31`)
  * but configured for Spark 4.x: AQE on, Kryo serialization (reference
  * `pom.xml:58-69` uses Kryo/chill for broadcast state), UTC session time,
  * shuffle partitions sized to the local core count rather than the 200
  * default. On a real cluster the same builder is used with a cluster
  * master URL; nothing here is local-mode-specific except the default
  * master.
  */
object GraftSession {

  /** The session's local filesystem, `FileSystem` and `FileContext` side
    * (see [[GraftRawLocalFileSystem]]). Every session graft builds sets
    * these keys. Hadoop caches one `FileSystem` per scheme and user, not
    * per conf, so a `file:` filesystem the JVM made before the session
    * keeps serving `FileSystem.get`; `FileContext` reads the conf each
    * time.
    */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[GraftLocalFs].getName)

  /** Executor JVMs of a `local-cluster` master launch from SPARK_HOME
    * and know nothing of the driver's classpath, so graft's classes ride
    * `spark.executor.extraClassPath` there. Without them an executor
    * cannot load the [[LocalFsConf]] classes, and every `file:` read or
    * write it runs fails. Empty for any other master.
    */
  def executorClassPathConf(master: String): Map[String, String] =
    if (master.startsWith("local-cluster"))
      Map("spark.executor.extraClassPath" ->
        getClass.getProtectionDomain.getCodeSource.getLocation.getPath)
    else Map.empty

  def builder(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config(LocalFsConf)
      .config(executorClassPathConf(master))
      // native graft SQL functions (graft_cosine, ...) available in any
      // session built here
      .withExtensions(new graft.functions.GraftExtensions)

  /** Get-or-create with graft defaults (used by tests and mains).
    * `getOrCreate` silently ignores configs when a session already exists
    * in the JVM, so correctness-critical settings are verified and a
    * warning logged if a pre-existing session diverges.
    */
  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val tz = s.conf.get("spark.sql.session.timeZone", "")
    if (tz != "UTC")
      System.err.println(s"[graft] WARN: pre-existing SparkSession has " +
        s"timeZone=$tz, not UTC; graft defaults were not applied")
    s
  }

  /** S-2/S-4 parity (reference `Trainer.scala:95, 207`): register a view
    * and look a table up by name, returning None when absent rather than
    * throwing — the reference returns null (`Trainer.scala:207`).
    */
  def registerView(df: org.apache.spark.sql.DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  def lookupTable(spark: SparkSession, name: String): Option[org.apache.spark.sql.DataFrame] =
    if (spark.catalog.tableExists(name)) Some(spark.table(name)) else None
}
