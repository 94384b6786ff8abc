package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

import ManifestHooks.{LockWaits, withClock, withFailpoint}

/** Certification of the `trustConditionalCreate` OPT-IN path against
  * simulated object-store semantics ([[MockS3FileSystem]], scheme
  * `mocks3://`): atomic conditional PUT arbitrated at `close()`, NO
  * rename primitive, synthetic mtime-0 prefixes that vanish with
  * their last object. The `file://` certification
  * (HadoopManifestSpec) proves the protocol on the kernel-`link(2)`
  * bridge; THIS suite proves the same protocol — lifecycle, lease,
  * zombie publish, cross-JVM storms, SIGKILL — runs on what S3/GCS
  * actually provide once the deployment opts in, converting the
  * documented bridge requirement into tested behavior.
  *
  * Rename is poisoned throughout the protocol: [[MockS3FileSystem]]
  * throws on ANY rename touching a protocol file name in every mode,
  * and the protocol tests run with rename disabled wholesale.
  */
class MockS3ManifestSpec extends SparkSpec {
  import spark.implicits._

  private val backingBase =
    java.nio.file.Files.createTempDirectory("mocks3base").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    // materialize the shared session BEFORE the opt-in prop lands:
    // SparkConf snapshots every spark.* system property at session
    // creation, so a session born with the prop set would carry the
    // opt-in in its conf FOREVER (outliving the afterAll removal) and
    // leak trust into suites that assert the refusal — an
    // order-dependent flake whenever this suite runs first
    spark.sparkContext: Unit
    sys.props("mocks3.backing") = backingBase
    // executor JVMs (local-cluster) see no driver system property; the
    // backing dir reaches them in the Hadoop conf every job carries
    spark.sparkContext.hadoopConfiguration.set("fs.mocks3.backing",
      backingBase)
    sys.props(HadoopManifestIo.TrustConditionalCreateConf) = "true"
  }

  override def afterAll(): Unit = {
    sys.props -= HadoopManifestIo.TrustConditionalCreateConf
    spark.sparkContext.hadoopConfiguration.unset("fs.mocks3.backing")
    sys.props -= "mocks3.backing"
    super.afterAll()
  }

  /** A fresh bucket's index root and its backing dir (for
    * assertions that must see through the store).
    */
  private def mockRoot(tag: String): (String, String) = {
    val bucket = s"$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    (s"mocks3://$bucket/idx", s"$backingBase/$bucket/objects/idx")
  }

  /** Run `body` with stock-S3A copy+delete renames allowed on `root`'s
    * bucket, in every JVM that shares the backing dir (the driver and
    * any executor processes).
    */
  private def withCopyRename[A](root: String)(body: => A): A = {
    val marker = java.nio.file.Paths.get(backingBase,
      new java.net.URI(root).getAuthority, MockS3FileSystem.CopyRenameMarker)
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    try body finally java.nio.file.Files.deleteIfExists(marker): Unit
  }

  private def backingNames(local: String): Seq[String] =
    Option(new java.io.File(local).list()).map(_.toSeq)
      .getOrElse(Seq.empty)

  /** Object-store shape invariants on a mocks3 root: sequenced
    * immutable commit files only, bounded tail, no mutable pointer,
    * no stage litter, every version dir carrying both markers, every
    * surviving lease a RELEASED stub, listing layout pinned.
    */
  private def assertMockShape(root: String, local: String): Unit = {
    val names = backingNames(local)
    assert(!names.contains(IndexManifest.PointerFile),
      s"a mutable MANIFEST pointer appeared on mocks3: $names")
    assert(names.exists(_.startsWith("MANIFEST-")),
      s"no sequenced commit files on mocks3: $names")
    assert(names.count(_.startsWith("MANIFEST-")) <=
      HadoopManifestIo.KeepCommitFiles,
      s"commit tail unbounded: ${names.filter(_.startsWith("MANIFEST-"))}")
    assert(IndexManifest.layoutOf(root) == IndexManifest.ListingLayout,
      "a mocks3 root did not auto-pin the listing layout")
    IndexManifest.history(root).foreach { v =>
      assert(new java.io.File(s"$local/$v",
        HadoopManifestIo.StageMarkerFile).exists(), s"$v lost its claim")
      assert(new java.io.File(s"$local/$v",
        HadoopManifestIo.CommittedMarkerFile).exists(),
        s"$v lost its commit sentinel")
    }
    names.filter(_.startsWith(IndexManifest.LockFile)).foreach { n =>
      val content = java.nio.file.Files.readString(
        java.nio.file.Paths.get(local, n))
      assert(content.startsWith("RELEASED"),
        s"lease $n leaked past release: $content")
    }
  }

  test("the store primitive itself: two writers race one conditional " +
      "PUT — both open streams, exactly one close() wins, the loser " +
      "gets FileAlreadyExists, the object holds the winner's bytes " +
      "intact; an abandoned (never-closed) PUT leaves NOTHING") {
    val (root, _) = mockRoot("prim")
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(s"$root/obj")
    val fs = p.getFileSystem(conf)
    assert(fs.isInstanceOf[MockS3FileSystem],
      s"scheme mocks3 resolved to ${fs.getClass} — ServiceLoader " +
        "registration broken")
    val a = fs.create(p, false)
    val b = fs.create(p, false)
    a.write("aaaa".getBytes("UTF-8"))
    b.write("bbbb".getBytes("UTF-8"))
    // both streams are open against the same absent object — the
    // arbitration happens at PUT completion, like If-None-Match
    val aWin = try { a.close(); true } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
    val bWin = try { b.close(); true } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
    assert(aWin ^ bWin, s"conditional PUT admitted $aWin/$bWin winners")
    val in = fs.open(p)
    val content = new String(in.readAllBytes(), "UTF-8")
    in.close()
    assert(content == (if (aWin) "aaaa" else "bbbb"),
      s"the object holds neither writer's full content: $content")
    // an abandoned PUT (writer died before close) leaves no object
    val q = new org.apache.hadoop.fs.Path(s"$root/abandoned")
    val c = fs.create(q, false)
    c.write("half".getBytes("UTF-8"))
    // no close()
    assert(!fs.exists(q),
      "an uncompleted PUT materialized a partial object")
    c.close() // cleanup; lands now, harmlessly
  }

  test("writeExclusive through the opted-in trusted path is a true " +
      "conditional create across racing threads; synthetic prefixes " +
      "read mtime 0 and vanish with their last object") {
    val (root, local) = mockRoot("excl")
    assert(HadoopManifestIo.writeExclusive(s"$root/claim", "first"))
    assert(!HadoopManifestIo.writeExclusive(s"$root/claim", "second"))
    assert(HadoopManifestIo.readString(s"$root/claim") == "first")
    // 8 threads race one name: exactly one create wins
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val ts = (0 until 8).map { i =>
      val t = new Thread(() => {
        barrier.await()
        if (HadoopManifestIo.writeExclusive(s"$root/raced", s"t$i"))
          wins.incrementAndGet(): Unit
      })
      t.start(); t
    }
    ts.foreach(_.join(30000))
    assert(wins.get() == 1, s"${wins.get()} writers won one name")
    // synthetic prefix semantics
    HadoopManifestIo.writeString(s"$root/d/e/obj", "x")
    assert(HadoopManifestIo.isDirectory(s"$root/d/e"))
    assert(HadoopManifestIo.mtime(s"$root/d/e") == 0L,
      "a synthetic prefix produced a readable mtime — the hostile " +
        "marker-less shape is not being modeled")
    HadoopManifestIo.deleteIfExists(s"$root/d/e/obj")
    assert(!HadoopManifestIo.exists(s"$root/d/e"),
      "a prefix survived its last object")
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(local)), "backing dir sanity")
  }

  test("the full commit lifecycle runs on mocks3 without EVER " +
      "reaching rename: a stage/commit chain lands, names are " +
      "claim-once, the MANIFEST tail stays bounded, leases release, " +
      "gc reaps an orphaned version") {
    val (root, local) = mockRoot("life")
    val versions = (0 until 12).map { i =>
      val (v, d) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d/data", s"commit-$i")
      IndexManifest.commit(root, v, retain = 1000)
    }
    assert(IndexManifest.history(root).size == 12)
    assert(IndexManifest.current(root).contains(versions.last))
    (0 until 12).foreach { i =>
      assert(HadoopManifestIo.readString(
        s"$root/${versions(i)}/data") == s"commit-$i")
    }
    // claim-once: a committed version name can never be re-claimed
    assert(!HadoopManifestIo.reserveStage(root, versions.head),
      "a committed version dir was re-claimed on mocks3")
    // orphan (crash between finalize and publish): reaped by next gc
    HadoopManifestIo.mkdirs(s"$root/v90000")
    HadoopManifestIo.writeString(
      s"$root/v90000/${HadoopManifestIo.StageMarkerFile}", "1")
    HadoopManifestIo.writeString(
      s"$root/v90000/${HadoopManifestIo.CommittedMarkerFile}", "1")
    HadoopManifestIo.writeString(s"$root/v90000/junk", "x")
    val (vg, dg) = IndexManifest.stage(root)
    HadoopManifestIo.writeString(s"$dg/data", "gc-driver")
    IndexManifest.commit(root, vg, retain = 1000): Unit
    assert(!HadoopManifestIo.exists(s"$root/v90000"),
      "gc failed to reap an unreferenced version on mocks3")
    assertMockShape(root, local)
  }

  test("lease generations are monotonic across acquire/release on " +
      "mocks3; a live foreign head blocks until released; takeover " +
      "of an expired head uses the next generation") {
    val (root, local) = mockRoot("lease")
    def headGen: Long = backingNames(local)
      .collect { case n if n.startsWith(s"${IndexManifest.LockFile}-") =>
        n.stripPrefix(s"${IndexManifest.LockFile}-").toLong }
      .foldLeft(0L)(math.max)
    (1 to 5).foreach { i =>
      HadoopManifestIo.withLock(root) {}
      assert(headGen == i, s"generation restarted/skipped at cycle $i")
    }
    // a LIVE foreign lease at the next generation blocks contenders
    val foreign = f"${IndexManifest.LockFile}-${6L}%09d"
    HadoopManifestIo.writeString(s"$root/$foreign",
      s"foreign\t${ManifestClock.now() + 60000}")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val waits = new LockWaits(root)
    val t = new Thread(() =>
      HadoopManifestIo.withLock(root)(entered.countDown()))
    withFailpoint(waits.hook) {
      t.start()
      assert(waits.await(), "the contender never waited on the lease")
    }
    assert(entered.getCount == 1,
      "a contender ignored a live foreign lease on mocks3")
    HadoopManifestIo.deleteIfExists(s"$root/$foreign")
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "contender never acquired after release")
    t.join(30000)
    // an EXPIRED foreign head is taken over at the NEXT generation
    val dead = f"${IndexManifest.LockFile}-${8L}%09d"
    HadoopManifestIo.writeString(s"$root/$dead",
      s"dead\t${ManifestClock.now() - 1000}")
    HadoopManifestIo.withLock(root) {}
    assert(headGen == 9, s"takeover did not use the next generation")
  }

  test("a zombie's stale-token publish loses loudly on mocks3: the " +
      "conditional PUT of the token-fixed commit file is the CAS") {
    val (root, _) = mockRoot("zombie")
    val (v1, d1) = IndexManifest.stage(root)
    HadoopManifestIo.writeString(s"$d1/data", "one")
    IndexManifest.commit(root, v1): Unit
    val (histZ, tokenZ) = HadoopManifestIo.readPointerForCommit(root)
    val (v2, d2) = IndexManifest.stage(root)
    HadoopManifestIo.writeString(s"$d2/data", "two")
    IndexManifest.commit(root, v2): Unit
    intercept[ConcurrentCommitException] {
      HadoopManifestIo.publishPointer(root, "v99999" +: histZ, tokenZ)
    }
    assert(IndexManifest.current(root).contains(v2),
      "a stale publish displaced the successor's commit on mocks3")
  }

  test("Spark's own parquet IO composes with the protocol on mocks3 " +
      "(stock-S3A copy+delete renames for the output committer; " +
      "protocol files still refuse rename in every mode): the BM25 " +
      "build/append/delete/compact lifecycle matches a posix twin " +
      "verbatim") {
    val (root, local) = mockRoot("bm25")
    val twin = java.nio.file.Files
      .createTempDirectory("mocks3_twin").toString + "/idx"
    val docs = (0 until 60).map { i =>
      (i.toLong, s"w$i apple shared${i % 5} " +
        (if (i % 3 == 0) "banana" else "cherry"))
    }.toDF("doc_id", "text")
    def serve(path: String) =
      Vocabulary.bm25Disk(spark, path, Seq("apple", "banana"),
          topK = 10, buckets = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    withCopyRename(root) {
      Vocabulary.writeBm25Index(docs.filter(col("doc_id") < 40),
        "doc_id", "text", root, buckets = 4)
      Vocabulary.appendBm25Index(docs.filter(col("doc_id") >= 40),
        "doc_id", "text", root, buckets = 4)
      Vocabulary.deleteBm25Index(spark, root,
        (0 until 60 by 4).map(_.toLong))
      Vocabulary.compactBm25Index(spark, root, buckets = 4)
    }
    IndexManifest.pinLayout(twin, IndexManifest.ListingLayout)
    Vocabulary.writeBm25Index(docs.filter(col("doc_id") < 40),
      "doc_id", "text", twin, buckets = 4)
    Vocabulary.appendBm25Index(docs.filter(col("doc_id") >= 40),
      "doc_id", "text", twin, buckets = 4)
    Vocabulary.deleteBm25Index(spark, twin,
      (0 until 60 by 4).map(_.toLong))
    Vocabulary.compactBm25Index(spark, twin, buckets = 4)
    assert(serve(root) == serve(twin),
      "mocks3 BM25 lifecycle diverged from the posix twin")
    assertMockShape(root, local)
  }

  test("a mocks3 root wiped and rebuilt between two reads serves the " +
      "rebuilt index, not the buffered decode of the wiped one (its " +
      "prefixes have no mtime)") {
    val (root, _) = mockRoot("wipe")
    def build(lo: Int): Unit = {
      val docs = (lo until lo + 30).map { i =>
        (i.toLong, s"w$i apple shared${i % 5} " +
          (if (i % 3 == 0) "banana" else "cherry"))
      }.toDF("doc_id", "text")
      withCopyRename(root) {
        Vocabulary.writeBm25Index(docs, "doc_id", "text", root, buckets = 4)
      }
    }
    def serve() =
      Vocabulary.bm25Disk(spark, root, Seq("apple", "banana"), topK = 10,
          buckets = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    build(0)
    val before = serve()
    val version = IndexManifest.current(root)
    IndexManifest.ioFor(root).rmTree(root)
    build(100)
    assert(IndexManifest.current(root) == version,
      "the rebuild did not reuse the wiped root's version name")
    val after = serve()
    assert(after.map(_._1).forall(_ >= 100),
      s"the rebuilt root served the wiped root's ids: $after (was $before)")
    assert(after == Vocabulary.bm25DiskPlan(spark, root, version.get,
        Seq("apple", "banana"), topK = 10, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("reader pins hold versions across mutation chains on mocks3, " +
      "and a released pin frees them for expiry") {
    val (root, _) = mockRoot("pin")
    val (v1, d1) = IndexManifest.stage(root)
    HadoopManifestIo.writeString(s"$d1/data", "pinned")
    IndexManifest.commit(root, v1): Unit
    val pin = IndexManifest.pinCurrent(root)
    (0 until 3).foreach { i =>
      val (v, d) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d/data", s"after-$i")
      IndexManifest.commit(root, v): Unit // default retain drops v1
    }
    assert(!IndexManifest.history(root).contains(pin.version),
      "chain too short to test the pin")
    assert(HadoopManifestIo.exists(s"$root/${pin.version}"),
      "mocks3 GC reaped a reader-pinned version")
    assert(HadoopManifestIo.readString(
      s"$root/${pin.version}/data") == "pinned")
    pin.release()
    IndexManifest.expireVersions(root, keep = 1)
    assert(!HadoopManifestIo.exists(s"$root/${pin.version}"),
      "a released pin still held its version")
  }

  // ---- cross-JVM storms: separate processes contending through the
  // shared backing store, with the opt-in passed as a system property

  private def spawnStorm(root: String, tag: String, rounds: Int,
      extraArgs: Seq[String]): (Process, java.io.File) = {
    val mainClasses = IndexManifest.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val testClasses = classOf[MockS3FileSystem].getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$mainClasses:$testClasses:/opt/spark/jars/*"
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val logFile = java.nio.file.Files
      .createTempFile(s"mstorm$tag", ".log").toFile
    val cmd = Seq(javaBin, "-cp", cp,
      s"-D${HadoopManifestIo.TrustConditionalCreateConf}=true",
      s"-Dmocks3.backing=$backingBase",
      "graft.tools.CommitStorm", root, tag, rounds.toString) ++ extraArgs
    val p = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(logFile).start()
    (p, logFile)
  }

  private def await(p: Process, logFile: java.io.File,
      seconds: Int): String = {
    val finished = p.waitFor(seconds.toLong,
      java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly(): Unit
    val out = java.nio.file.Files.readString(logFile.toPath)
    assert(finished, s"mocks3 storm JVM hung (killed)\n$out")
    assert(p.exitValue() == 0, s"mocks3 storm JVM failed\n$out")
    out
  }

  private def assertLineageComplete(root: String, writers: Int,
      rounds: Int, tagPrefix: String, logs: Seq[String]): Unit = {
    val lineage = IndexManifest.history(root)
    assert(lineage.size == writers * rounds,
      s"a cross-process race on mocks3 dropped a commit: " +
        s"${lineage.size} of ${writers * rounds}\n${logs.mkString("\n")}")
    val markers = lineage.map(v =>
      HadoopManifestIo.readString(s"$root/$v/data"))
    assert(markers.distinct.size == markers.size,
      s"duplicate markers: $markers")
    for (w <- 0 until writers; j <- 0 until rounds)
      assert(markers.contains(s"$tagPrefix$w-round-$j"),
        s"lost $tagPrefix$w-round-$j: $markers")
    assert(!logs.exists(_.contains("renumbered")),
      "a mocks3 commit renumbered a claimed version")
  }

  test("cross-PROCESS storm on mocks3: three JVMs race the " +
      "generation lease and conditional-PUT commit files through the " +
      "shared store; every version lands exactly once") {
    val (root, local) = mockRoot("storm")
    val writers = 3
    val rounds = 4
    val procs = (0 until writers).map(w =>
      spawnStorm(root, s"mproc$w", rounds, Seq.empty))
    val logs = procs.map { case (p, f) => await(p, f, 180) }
    assertLineageComplete(root, writers, rounds, "mproc", logs)
    assertMockShape(root, local)
  }

  test("HOSTILE cross-process storm on mocks3: shrunken lease TTL + " +
      "injected zombie publish-stalls — every stalled commit loses " +
      "loudly and rebases, no committed version is ever lost, on " +
      "pure conditional-PUT semantics") {
    val (root, local) = mockRoot("zstorm")
    val writers = 3
    val rounds = 8
    val procs = (0 until writers).map(w =>
      spawnStorm(root, s"mz$w", rounds, Seq("700", "5")))
    val logs = procs.map { case (p, f) => await(p, f, 240) }
    assert(logs.exists(_.contains("stalling past the lease TTL")),
      "no zombie stall was injected — the hostile path went unexercised")
    assert(logs.exists(_.contains("rebasing")),
      "no stalled commit lost loudly — the publish fence never fired")
    assertLineageComplete(root, writers, rounds, "mz", logs)
    assertMockShape(root, local)
  }

  test("SIGKILL mid-commit on mocks3: a writer killed dead never " +
      "loses an acknowledged commit, survivors finish, the root " +
      "heals from a cold process, and the bucket holds no partial " +
      "objects (an interrupted PUT leaves nothing)") {
    val (root, local) = mockRoot("kill")
    val writers = 3
    val rounds = 40
    val procs = (0 until writers).map(w =>
      spawnStorm(root, s"mk$w", rounds, Seq("700")))
    Thread.sleep(1500) // let the storm get mid-flight before the kill
    val victim = procs.head._1
    victim.destroyForcibly(): Unit
    victim.waitFor(): Unit
    val logs = procs.map { case (p, f) =>
      if (p ne victim) await(p, f, 240): Unit
      java.nio.file.Files.readString(f.toPath)
    }
    val Committed = "committed (v\\d+)".r
    val victimAck = Committed.findAllMatchIn(logs.head)
      .map(_.group(1)).toSeq
    assert(victimAck.size < rounds,
      "the victim finished before the kill — kill earlier")
    val lineage = IndexManifest.history(root)
    logs.flatMap(l => Committed.findAllMatchIn(l).map(_.group(1)))
      .foreach { v =>
        assert(lineage.contains(v),
          s"acknowledged commit $v vanished after a SIGKILL on mocks3")
        assert(HadoopManifestIo.readString(s"$root/$v/data").nonEmpty,
          s"acknowledged commit $v lost its content")
      }
    for (w <- 1 until writers; j <- 0 until rounds) {
      val marker = s"mk$w-round-$j"
      assert(lineage.exists(v => scala.util.Try(
        HadoopManifestIo.readString(s"$root/$v/data"))
        .toOption.contains(marker)), s"survivor round $marker lost")
    }
    // the root HEALS from a cold process (the victim's orphaned lease
    // is read from its file and waited out)
    val (vh, dh) = IndexManifest.stage(root)
    HadoopManifestIo.writeString(s"$dh/data", "heal")
    assert(IndexManifest.commit(root, vh, retain = 1000) == vh)
    assert(IndexManifest.current(root).contains(vh))
    // no partial objects anywhere: every content-bearing protocol
    // object is complete (conditional PUTs that never finished left
    // nothing; inflight temps live OUTSIDE the listing namespace).
    // Heartbeat/marker files (STAGE_ACTIVITY) are legitimately empty.
    def walk(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(local))
      .filter(f => f.getName.startsWith("MANIFEST") ||
        f.getName.startsWith(IndexManifest.LockFile) ||
        f.getName == "data")
      .foreach { f =>
        assert(f.length() > 0, s"zero-byte partial object: $f")
      }
    assertMockShape(root, local)
  }

  test("GC leak contract on an mtime-less store: a killed " +
      "PRE-HEARTBEAT writer's stage (no readable signal anywhere) " +
      "survives only the UnknownMtimeGraceMs window, then is reaped; " +
      "a STAMPED stage is governed by its content heartbeat — stale " +
      "stamp reaped at StageTtlMs, fresh stamp survives") {
    val (root, local) = mockRoot("gcleak")
    val io = HadoopManifestIo
    withClock {
      // a committed version so gc has a lineage to keep
      val (v1, d1) = IndexManifest.stage(root)
      io.writeString(s"$d1/data", "base")
      IndexManifest.commit(root, v1): Unit

      // zero every object mtime a walk could read — the mtime-less
      // store shape (real S3 exposes Last-Modified, but the hostile
      // contract here is "no readable mtime channel at all")
      def zeroMtimes(stageLocal: String): Unit = {
        def walk(f: java.io.File): Unit = {
          if (f.isFile)
            java.nio.file.Files.setLastModifiedTime(f.toPath,
              java.nio.file.attribute.FileTime.fromMillis(0)): Unit
          Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        }
        walk(new java.io.File(stageLocal))
      }

      // CASE A: killed pre-heartbeat — STAGE marker only, no
      // STAGE_ACTIVITY (the reservation-to-first-touch kill window)
      assert(io.reserveStage(root, "v00090"))
      zeroMtimes(s"$local/v00090")
      // past the stage TTL; only the grace rule holds it
      ManifestClock.advance(IndexManifest.StageTtlMs + 30)
      IndexManifest.gc(root)
      assert(new java.io.File(s"$local/v00090").exists(),
        "a no-signal stage was reaped INSIDE its grace window")
      // past the grace window
      ManifestClock.advance(IndexManifest.UnknownMtimeGraceMs + 50)
      IndexManifest.gc(root)
      assert(!new java.io.File(s"$local/v00090").exists(),
        "a killed pre-heartbeat writer's stage leaked past the " +
          "grace window — the unknown-mtime leak is back")

      // CASE B: stamped stage — content heartbeat authoritative on
      // the mtime-less store. Fresh stamp survives even with zero
      // mtimes; once the stamp goes stale the stage is reaped at the
      // NEXT pass, no grace needed
      val (v9, d9) = IndexManifest.stage(root) // touchStage stamps it
      io.writeString(s"$d9/data", "half-built")
      zeroMtimes(s"$local/$v9") // mtimes gone; the content stamp remains
      IndexManifest.gc(root)
      assert(new java.io.File(s"$local/$v9").exists(),
        "a freshly content-stamped stage was reaped on a store with " +
          "zero mtimes")
      // the content stamp is now past StageTtlMs
      ManifestClock.advance(IndexManifest.StageTtlMs + 80)
      IndexManifest.gc(root)
      assert(!new java.io.File(s"$local/$v9").exists(),
        "a stamped stage with a stale heartbeat leaked on the " +
          "mtime-less store — the heartbeat is not authoritative")

      // the committed lineage was never touched
      assert(IndexManifest.current(root).contains(v1))
      assert(new java.io.File(s"$local/$v1/data").exists())
      assertMockShape(root, local)
    }
  }

  test("DURABLE grace clock: the no-signal window's first " +
      "observation persists as a GC_FIRST_SEEN marker, so a FRESH " +
      "driver (new JVM — simulated by dropping the in-process " +
      "survival map) ages the stage from the ORIGINAL sighting: " +
      "inside the window it still survives, past it the fresh driver " +
      "reaps it in ONE gc pass — one-JVM-per-job deployments no " +
      "longer restart the 7-day window forever") {
    val (root, local) = mockRoot("gcdurable")
    val io = HadoopManifestIo
    withClock {
      val (v1, d1) = IndexManifest.stage(root)
      io.writeString(s"$d1/data", "base")
      IndexManifest.commit(root, v1): Unit

      def zeroMtimes(stageLocal: String): Unit = {
        def walk(f: java.io.File): Unit = {
          if (f.isFile)
            java.nio.file.Files.setLastModifiedTime(f.toPath,
              java.nio.file.attribute.FileTime.fromMillis(0)): Unit
          Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        }
        walk(new java.io.File(stageLocal))
      }

      // killed pre-heartbeat: STAGE marker only, no STAGE_ACTIVITY,
      // on a store exposing no readable mtimes
      assert(io.reserveStage(root, "v00080"))
      zeroMtimes(s"$local/v00080")
      // past the stage TTL; only the grace rule holds
      ManifestClock.advance(IndexManifest.StageTtlMs + 30)
      IndexManifest.gc(root) // FIRST observation — persists the marker
      val marker = new java.io.File(
        s"$local/v00080/${IndexManifest.FirstSeenFile}")
      assert(marker.isFile, "first observation was not persisted")
      val stamped =
        java.nio.file.Files.readString(marker.toPath).trim.toLong
      assert(stamped > 0L, s"unparseable first-seen stamp: $stamped")
      // keep the store mtime-less: the marker's CONTENT is the
      // channel, its own mtime must not become a liveness signal here
      zeroMtimes(s"$local/v00080")

      // FRESH DRIVER inside the window: survives (ages from the
      // marker, which also proves the read path tolerates re-reads)
      IndexManifest.forgetUnknownSurvivalsForTest()
      IndexManifest.gc(root)
      assert(new java.io.File(s"$local/v00080").exists(),
        "a fresh driver reaped a no-signal stage INSIDE its window")

      // FRESH DRIVER past the window: reaps within ONE pass. The
      // pre-fix in-memory clock restarted the window per driver, so
      // this stage would have leaked forever under short-lived drivers
      ManifestClock.advance(IndexManifest.UnknownMtimeGraceMs + 50)
      IndexManifest.forgetUnknownSurvivalsForTest()
      IndexManifest.gc(root)
      assert(!new java.io.File(s"$local/v00080").exists(),
        "a fresh driver restarted the grace window — the no-signal " +
          "leak is unbounded again for one-JVM-per-job deployments")

      assert(IndexManifest.current(root).contains(v1))
      assertMockShape(root, local)
    }
  }
}
