package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (scalatest
  * forks once); small core count keeps test latency down.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Every node of an EXECUTED plan, descending through the AQE
    * wrappers (adaptive root, query stages — leaf wrappers whose
    * children are empty — and reused exchanges). One shared walker so
    * plan-pinning specs can't diverge in wrapper coverage.
    */
  def walkExecutedPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(walkExecutedPlan)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // SPARK_GRAFT_MASTER lets the multi-JVM certification sweep run
    // the whole suite under local-cluster (separate executor
    // processes); graft's main+test classes then ride the executor
    // classpath explicitly, since executor JVMs launch from SPARK_HOME
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.LocalFsConf)
      .withExtensions(new graft.functions.GraftExtensions)
    if (master.startsWith("local-cluster")) {
      val cp = Seq(classOf[SparkSpec].getProtectionDomain, // test classes
          graft.queries.Catalog.getClass.getProtectionDomain) // main
        .map(_.getCodeSource.getLocation.getPath).distinct
        .mkString(java.io.File.pathSeparator)
      builder.config("spark.executor.extraClassPath", cp): Unit
    }
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
