package graft.core

/** Child-JVM main for `RunnersSpec`: writes and reads back a parquet
  * table through a `RunnerConfig.embedded` session, so the tasks run in
  * a separate executor JVM, and prints `sum=<n>` for the spec to check.
  *
  * Usage: `EmbeddedRoundTrip <outDir>`
  */
object EmbeddedRoundTrip {
  def main(args: Array[String]): Unit = {
    val spark = RunnerConfig.embedded(workers = 1, memoryPerWorker = "1g")
      .builder().getOrCreate()
    try {
      spark.range(0, 1000, 1, 2).selectExpr("id * 2 AS x")
        .write.mode("overwrite").parquet(args(0))
      val sum = spark.read.parquet(args(0)).selectExpr("sum(x)")
        .head().getLong(0)
      println(s"sum=$sum")
    } finally spark.stop()
  }
}
