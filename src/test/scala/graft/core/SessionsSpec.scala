package graft.core

import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

class SessionsSpec extends SparkSpec {

  test("carryJobDescription runs the job on the pool under the caller's " +
      "description and gives the pool thread its own label back") {
    val sc = spark.sparkContext
    val Desc = "spark.job.description"
    // the pool thread exists (and holds its own label) before the caller
    // labels itself, so it cannot have inherited the caller's label
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val group = s"sessions_spec_${System.nanoTime()}"
    val seen = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          seen.put(e.jobId, String.valueOf(e.properties.getProperty(Desc)))
    }
    sc.addSparkListener(listener)
    try {
      Await.result(Future {
        sc.setJobGroup(group, "pool-label")
      }, 30.seconds)
      sc.setJobDescription("caller-label")
      val (inBody, n) = Await.result(
        Sessions.carryJobDescription(spark) {
          (sc.getLocalProperty(Desc), spark.range(10).count())
        }, 60.seconds)
      assert(inBody == "caller-label")
      assert(n == 10L)
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!seen.isEmpty, "no job of the carried body reached the listener")
      assert(seen.values.toArray.toSet == Set("caller-label"),
        s"jobs ran under ${seen.values}")
      val after = Await.result(Future(sc.getLocalProperty(Desc)), 30.seconds)
      assert(after == "pool-label",
        s"the pool thread kept '$after' instead of its own label")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
      pool.shutdown()
    }
  }
}
