package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Pins `Catalog.stampGate`, the one build-once gate of every
  * persisted artifact in the query registry: one build per stamp under
  * concurrent callers, reuse on a matching stamp, rebuild on a stale
  * stamp or a missing artifact, and no stamp left behind by a build
  * that throws. Counters only, no sleeps.
  */
class CatalogStampGateSpec extends AnyFunSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def readStamp(p: String): Option[String] =
    if (Files.exists(Paths.get(p))) Some(Files.readString(Paths.get(p)))
    else None

  test("two callers arriving together on a cold path build once") {
    val stampPath = s"${tmp("gate_cold")}/artifact.stamp"
    val builds = new AtomicInteger()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    val threads = new Array[Thread](2)
    def other: Thread =
      if (Thread.currentThread() eq threads(0)) threads(1) else threads(0)
    for (i <- threads.indices) threads(i) = new Thread(() => {
      try {
        start.await()
        Catalog.stampGate(stampPath, "s1") {
          builds.incrementAndGet()
          // hold the build until the other caller waits on the gate's
          // lock: the second caller must find the stamp, not rebuild
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (other.getState != Thread.State.BLOCKED) {
            assert(System.nanoTime() < deadline,
              "the second caller never waited on the gate's lock")
            Thread.onSpinWait()
          }
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"a caller failed: ${errors.peek()}")
    assert(builds.get == 1)
    assert(readStamp(stampPath).contains("s1"))
  }

  test("a matching stamp skips the build, a stale stamp rebuilds") {
    val stampPath = s"${tmp("gate_stale")}/artifact.stamp"
    val builds = new AtomicInteger()
    Catalog.stampGate(stampPath, "s1") { builds.incrementAndGet(): Unit }
    Catalog.stampGate(stampPath, "s1") { builds.incrementAndGet(): Unit }
    assert(builds.get == 1, "a matching stamp rebuilt")
    Catalog.stampGate(stampPath, "s2") { builds.incrementAndGet(): Unit }
    assert(builds.get == 2, "a stale stamp was reused")
    assert(readStamp(stampPath).contains("s2"))
    // a matching stamp whose artifact is gone is not reused either
    var present = false
    Catalog.stampGate(stampPath, "s2", present = present) {
      builds.incrementAndGet()
      present = true
    }
    assert(builds.get == 3, "a stamp without its artifact was reused")
  }

  test("a build that throws leaves no stamp, so the next call rebuilds") {
    val stampPath = s"${tmp("gate_throw")}/artifact.stamp"
    Files.writeString(Paths.get(stampPath), "s0")
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Catalog.stampGate(stampPath, "s1") {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(readStamp(stampPath).isEmpty, "a failed build left a stamp")
    Catalog.stampGate(stampPath, "s1") { builds.incrementAndGet(): Unit }
    assert(builds.get == 2)
    assert(readStamp(stampPath).contains("s1"))
  }
}
