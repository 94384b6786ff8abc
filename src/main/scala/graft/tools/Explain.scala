package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Plan-audit main: prints the formatted physical plan of each named
  * query (or all, with no args beyond the sf dir). Used to check that
  * filters/projection reach the parquet scan (PushedFilters/ReadSchema),
  * small dimensions broadcast, and hot paths stay inside
  * WholeStageCodegen.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.LocalFsConf)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
