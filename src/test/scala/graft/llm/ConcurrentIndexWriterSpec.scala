package graft.llm

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Writer-concurrency contract of the manifest-pointer commit: two (or
  * more) builders racing one index root must never lose, corrupt, or
  * cross-contaminate a committed version. The contract has three
  * enforcement points — atomic mkdir stage reservation, TTL-protected
  * stage dirs, and a per-root commit lock with the lineage re-read
  * inside the critical section — plus an opt-in CAS for callers whose
  * staged content is only valid against the base it was built from.
  */
class ConcurrentIndexWriterSpec extends SparkSpec {

  private def root(): String =
    Files.createTempDirectory("conc_idx").toString + "/idx"

  /** Stage a version whose single artifact records who built it. */
  private def stageMarked(r: String, marker: String): String = {
    val (v, dir) = IndexManifest.stage(r)
    Files.writeString(Paths.get(dir, "data"), marker): Unit
    v
  }

  private def markerOf(r: String, v: String): String =
    Files.readString(Paths.get(r, v, "data"))

  test("concurrent stagers never share a version dir") {
    val r = root()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 64).map { i =>
        pool.submit(new java.util.concurrent.Callable[(String, String)] {
          def call(): (String, String) = IndexManifest.stage(r)
        })
      }
      val staged = tasks.map(_.get())
      assert(staged.map(_._1).distinct.size == 64,
        "two stagers were handed the same version name")
      assert(staged.map(_._2).distinct.size == 64)
      assert(staged.forall { case (_, dir) =>
        new java.io.File(dir).isDirectory })
    } finally pool.shutdown()
  }

  test("racing committers: last-commit-wins ordering, no committed " +
      "version lost or corrupt") {
    val r = root()
    val writers = 4
    val rounds = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val committed =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    try {
      val tasks = (0 until writers).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until rounds).foreach { j =>
            val v = stageMarked(r, s"writer-$w-round-$j")
            // retain everything: the assertion below checks NO
            // committed version was lost from lineage or disk.
            // Record the RETURNED name — a double-allocated number is
            // renumbered inside the commit lock
            val landed = IndexManifest.commit(r, v,
              retain = writers * rounds)
            committed.add(landed): Unit
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()

    val lineage = IndexManifest.history(r)
    assert(lineage.size == writers * rounds,
      s"a concurrent commit dropped a committed version from the " +
        s"lineage: ${lineage.size} of ${writers * rounds} retained")
    assert(lineage.toSet == scala.jdk.CollectionConverters
      .SetHasAsScala(committed).asScala.toSet)
    // every committed version's dir is intact and carries exactly the
    // content its writer staged — nothing torn, nothing cross-wired
    lineage.foreach { v =>
      val m = markerOf(r, v)
      assert(m.matches("writer-\\d+-round-\\d+"), s"corrupt $v: $m")
    }
    // the pointer names a real, intact current version
    assert(new java.io.File(IndexManifest.currentDir(r)).isDirectory)
  }

  test("a commit never reaps a concurrent builder's fresh stage dir") {
    val r = root()
    val v1 = stageMarked(r, "base")
    IndexManifest.commit(r, v1)
    // builder B is mid-build (staged, not committed)...
    val (vB, dirB) = IndexManifest.stage(r)
    Files.writeString(Paths.get(dirB, "data"), "in-flight"): Unit
    // ...while builder A commits twice (commit runs GC both times)
    (0 until 2).foreach { _ =>
      IndexManifest.commit(r, stageMarked(r, "a"))
    }
    assert(new java.io.File(dirB).isDirectory,
      "a concurrent commit GC'd an in-flight builder's stage dir")
    // B lands fine afterwards
    IndexManifest.commit(r, vB)
    assert(IndexManifest.current(r).contains(vB))
    assert(markerOf(r, vB) == "in-flight")
  }

  test("CAS commit: expectedBase fails when the base moved, staged " +
      "dir survives for rebase-and-retry") {
    val r = root()
    val v1 = stageMarked(r, "v1")
    IndexManifest.commit(r, v1)
    // two writers both stage against v1
    val vA = stageMarked(r, "delta-A")
    val vB = stageMarked(r, "delta-B")
    // A lands first
    IndexManifest.commitCas(r, vA, Some(v1))
    // B's CAS must fail — its content does not include A's delta
    val e = intercept[ConcurrentCommitException] {
      IndexManifest.commitCas(r, vB, Some(v1))
    }
    assert(e.getMessage.contains(vA.toString) ||
      e.getMessage.contains("current"))
    // the staged dir is untouched: rebase (here: re-mark) and retry
    // against the NEW current
    assert(new java.io.File(s"$r/stage-$vB").isDirectory,
      "failed CAS destroyed the staged work")
    Files.writeString(Paths.get(s"$r/stage-$vB", "data"),
      "delta-B-rebased"): Unit
    IndexManifest.commitCas(r, vB, Some(vA))
    assert(IndexManifest.current(r).contains(vB))
    assert(markerOf(r, vB) == "delta-B-rebased")
  }

  test("cross-PROCESS committers: three JVMs race one root through " +
      "the COMMIT_LOCK file lock, nothing lost or corrupt") {
    // the in-process monitor cannot serialize separate processes —
    // this is the only test that actually contends the FileLock
    val r = root()
    val mainClasses = IndexManifest.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$mainClasses:/opt/spark/jars/*"
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val writers = 3
    val rounds = 6
    val procs = (0 until writers).map { w =>
      // output to a FILE so the hang guard stays reachable (a pipe
      // read blocks until EOF, which a wedged child never produces)
      val logFile = java.nio.file.Files
        .createTempFile(s"storm$w", ".log").toFile
      val p = new ProcessBuilder(javaBin, "-cp", cp,
          "graft.tools.CommitStorm", r, s"proc$w", rounds.toString)
        .redirectErrorStream(true)
        .redirectOutput(logFile).start()
      (p, logFile)
    }
    val logs = procs.map { case (p, logFile) =>
      val finished =
        p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) p.destroyForcibly(): Unit
      val out = java.nio.file.Files.readString(logFile.toPath)
      assert(finished, s"storm JVM hung (killed)\n$out")
      assert(p.exitValue() == 0, s"storm JVM failed\n$out")
      out
    }
    val lineage = IndexManifest.history(r)
    assert(lineage.size == writers * rounds,
      s"a cross-process commit race dropped a committed version: " +
        s"${lineage.size} of ${writers * rounds} retained\n" +
        logs.mkString("\n"))
    // every (writer, round) landed exactly once, content intact
    val markers = lineage.map(v => markerOf(r, v))
    assert(markers.distinct.size == markers.size)
    for (w <- 0 until writers; j <- 0 until rounds)
      assert(markers.contains(s"proc$w-round-$j"),
        s"lost proc$w-round-$j: $markers")
    assert(new java.io.File(IndexManifest.currentDir(r)).isDirectory)
  }

  test("SIGKILL mid-commit on the POSIX backend: the FileChannel " +
      "lock dies with its process (survivors proceed immediately), " +
      "no acknowledged commit is lost, the pointer is never torn, " +
      "the root heals from a cold process, and orphaned stage dirs " +
      "are swept once stale") {
    // the hadoop SIGKILL spec proves the lease heals; this proves the
    // posix machinery — stage-v* claims, the fsynced ATOMIC_MOVE
    // pointer, FileChannel-lock release by OS contract — heals too.
    // A SIGKILL runs no finally blocks: no lock release call, no temp
    // cleanup, no stage GC.
    val r = root()
    val mainClasses = IndexManifest.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$mainClasses:/opt/spark/jars/*"
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val writers = 3
    val rounds = 200
    val procs = (0 until writers).map { w =>
      val logFile = java.nio.file.Files
        .createTempFile(s"pkill$w", ".log").toFile
      val p = new ProcessBuilder(javaBin, "-cp", cp,
          "graft.tools.CommitStorm", r, s"pk$w", rounds.toString)
        .redirectErrorStream(true)
        .redirectOutput(logFile).start()
      (p, logFile)
    }
    // adaptive kill point: wait until the victim has ACKNOWLEDGED at
    // least one commit (so the kill lands mid-storm, past JVM
    // startup), then SIGKILL it dead
    val (victim, victimLog) = procs.head
    val deadline = System.currentTimeMillis() + 60000
    while (victim.isAlive &&
        !java.nio.file.Files.readString(victimLog.toPath)
          .contains("committed") &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(25) // poll the log while the storm JVM starts up
    victim.destroyForcibly(): Unit
    victim.waitFor(): Unit
    val logs = procs.map { case (p, logFile) =>
      if (p ne victim) {
        val finished =
          p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
        if (!finished) p.destroyForcibly(): Unit
        val out = java.nio.file.Files.readString(logFile.toPath)
        assert(finished,
          s"a survivor hung after the kill — the dead writer's " +
            s"FileChannel lock was not released by the OS\n$out")
        assert(p.exitValue() == 0, s"survivor failed after the kill\n$out")
      }
      java.nio.file.Files.readString(logFile.toPath)
    }
    val Committed = "committed (v\\d+)".r
    val victimAck = Committed.findAllMatchIn(logs.head)
      .map(_.group(1)).toSeq
    assert(victimAck.nonEmpty, "kill landed before any victim commit")
    assert(victimAck.size < rounds,
      "the victim finished before the kill — raise rounds")
    // 1. acknowledged durability across a torn pointer write: every
    // commit ANY writer reported is in the lineage with content
    val lineage = IndexManifest.history(r)
    logs.flatMap(l => Committed.findAllMatchIn(l).map(_.group(1)))
      .foreach { v =>
        assert(lineage.contains(v),
          s"acknowledged posix commit $v vanished after a SIGKILL")
        assert(new java.io.File(s"$r/$v", "data").isFile,
          s"acknowledged posix commit $v lost its content")
      }
    // survivors completed every round
    for (w <- 1 until writers; j <- 0 until rounds)
      assert(lineage.exists(v => scala.util.Try(markerOf(r, v))
        .toOption.contains(s"pk$w-round-$j")),
        s"survivor round pk$w-round-$j lost")
    // the pointer was never torn: it resolves to a real intact dir
    assert(new java.io.File(IndexManifest.currentDir(r)).isDirectory)
    // 2. the root HEALS from a cold process, with no TTL to wait out
    // (the posix lock died with its holder)
    val t0 = System.nanoTime()
    val vh = stageMarked(r, "heal")
    IndexManifest.commit(r, vh, retain = 1000): Unit
    val healMs = (System.nanoTime() - t0) / 1000000
    assert(IndexManifest.current(r).contains(vh))
    assert(healMs < 30000, s"posix heal took ${healMs}ms — something " +
      "waited on a dead writer's lock")
    // 3. a stage dir the victim may have died holding (plus one
    // seeded deterministically) is swept once past the stage TTL
    val orphan = new java.io.File(r, "stage-v99999")
    assert(orphan.mkdir())
    java.nio.file.Files.writeString(
      orphan.toPath.resolve("data"), "orphan"): Unit
    assert(orphan.setLastModified(
      System.currentTimeMillis() - IndexManifest.StageTtlMs - 60000))
    // age the CONTENTS too: GC liveness reads the tree's newest mtime
    assert(new java.io.File(orphan, "data").setLastModified(
      System.currentTimeMillis() - IndexManifest.StageTtlMs - 60000))
    IndexManifest.commit(r, stageMarked(r, "sweep"), retain = 1000): Unit
    assert(!orphan.exists(),
      "gc did not sweep a stale orphaned posix stage dir")
    // a publish temp a killed writer left behind is consumed by the
    // next publish (fixed name, truncating write + move) — after the
    // heal commits above it must be gone
    assert(!new java.io.File(r, s"${IndexManifest.PointerFile}.tmp")
      .exists(), "a publish temp survived subsequent publishes")
  }

  test("racing MUTATION VERBS compose: a tombstone delete and an " +
      "append land concurrently and the served index reflects BOTH " +
      "(CAS + rebase-retry, not last-commit-wins)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = (0 until 240).map { i =>
      val a = i % 3
      val base = Array.tabulate(8)(j => if (j == a) 1.0 else 0.0)
      (i.toLong, base.map(_ + 0.01 * ((i * 7 + a) % 5)).toSeq)
    }.toDF("id", "vec")
    val (dim, bits, tables, groups) = (8, 4, 4, 8)
    val dir = root()
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(corpus.filter(col("id") < 200), "vec",
        "id", dim = dim, bits = bits, tables = tables),
      dir, groups = groups)
    val deadIds = Seq(3L, 33L, 63L)
    // the GDPR-vs-ingest race from the advisory: without CAS one of
    // these silently vanishes from the served version
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val tAppend = new Thread(() => {
      try Similarity.appendLshIndex(corpus.filter(col("id") >= 200),
        "vec", "id", dir, dim = dim, bits = bits, tables = tables,
        groups = groups)
      catch { case t: Throwable => errors.add(t): Unit }
    })
    val tDelete = new Thread(() => {
      try Similarity.deleteFromLshIndex(deadIds.toDF("id"), "id", dir)
      catch { case t: Throwable => errors.add(t): Unit }
    })
    tAppend.start(); tDelete.start()
    tAppend.join(120000); tDelete.join(120000)
    assert(errors.isEmpty, s"racing mutation threw: ${errors.peek()}")
    // served state = base + append delta − deleted, whatever the order
    val served = Similarity.readLshIndex(spark, dir,
      Some(IndexManifest.resolve(dir)))
    val dead = deadIds.toDF("graft_dead_id")
    val folded = served.join(broadcast(dead),
        served("id") === dead("graft_dead_id"), "left_anti")
      .select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    // (the tombstones themselves fold at serve time; check both the
    // delta rows survived AND the tombstone artifact is present)
    assert((200L until 240L).forall(folded.contains),
      "the append's delta was dropped by the racing delete")
    assert(IndexManifest.artifactNonEmpty(dir, "tombstones",
        Some(IndexManifest.resolve(dir))),
      "the delete's tombstones were dropped by the racing append")
    val tombIds = IndexManifest.readArtifact(spark, dir, "tombstones",
        Some(IndexManifest.resolve(dir)))
      .collect().map(_.getLong(0)).toSet
    assert(tombIds == deadIds.toSet)
  }

  test("default retain under two racing commits keeps both versions " +
      "on disk (last-commit-wins, superseded version retained)") {
    val r = root()
    IndexManifest.commit(r, stageMarked(r, "base"))
    val vA = stageMarked(r, "A")
    val vB = stageMarked(r, "B")
    val t1 = new Thread(() => IndexManifest.commit(r, vA))
    val t2 = new Thread(() => IndexManifest.commit(r, vB))
    t1.start(); t2.start(); t1.join(); t2.join()
    val lineage = IndexManifest.history(r)
    // RetainVersions = 2: whichever commit ran last is current, the
    // other is its retained predecessor — both dirs intact
    assert(lineage.toSet == Set(vA, vB), s"lost a version: $lineage")
    assert(markerOf(r, vA) == "A")
    assert(markerOf(r, vB) == "B")
  }
}
