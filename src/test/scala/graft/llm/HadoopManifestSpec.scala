package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

import ManifestHooks.{LockWaits, stagedArtifacts, withClock, withFailpoint}

/** Object-store certification of the manifest: index roots addressed
  * by SCHEME (`file://…` here, the same code path as `hdfs://`/
  * `s3a://`) run the REAL verbs end-to-end through
  * [[HadoopManifestIo]] — sequenced immutable `MANIFEST-<seq>` commit
  * files instead of a renamed pointer, stage-into-final-dir claims
  * instead of directory renames, a TTL lease instead of a
  * `FileChannel` lock, and the `listing` carry layout auto-pinned
  * (hard links poisoned throughout to prove the posix primitive is
  * never reached). Each lifecycle is value-compared against a plain
  * posix root built by the identical verbs.
  */
class HadoopManifestSpec extends SparkSpec {
  import spark.implicits._

  /** A schemed twin of a fresh temp dir: `file:///…/idx`. */
  private def schemedTemp(tag: String): (String, String) = {
    val plain = java.nio.file.Files.createTempDirectory(tag).toString
    (s"file://$plain/idx", s"$plain/idx")
  }

  private def poisonLinks[T](body: => T): T = {
    val prev = IndexManifest.linkFn
    IndexManifest.linkFn = (to, _) => throw new java.io.IOException(
      s"hard link attempted on an object-store root: $to")
    try body finally IndexManifest.linkFn = prev
  }

  /** The object-store shape invariants every lifecycle must hold:
    * no mutable `MANIFEST` pointer, no `stage-v*` dir ever left
    * behind, no multi-linked file, `listing` layout pinned, and a
    * bounded commit-file tail.
    */
  private def assertObjectStoreShape(local: String): Unit = {
    val names = new java.io.File(local).list().toSeq
    assert(!names.contains(IndexManifest.PointerFile),
      s"a mutable MANIFEST pointer appeared on a schemed root: $names")
    assert(names.exists(_.startsWith("MANIFEST-")),
      s"no sequenced commit files on a schemed root: $names")
    assert(!names.exists(_.startsWith("stage-")),
      s"a posix stage dir appeared on a schemed root: $names")
    assert(names.count(_.startsWith("MANIFEST-")) <=
      HadoopManifestIo.KeepCommitFiles,
      s"commit-file tail unbounded: ${names.filter(_.startsWith("MANIFEST-"))}")
    assert(IndexManifest.layoutOf(s"file://$local") ==
      IndexManifest.ListingLayout,
      "schemed root did not auto-pin the listing layout")
    def linked(f: java.io.File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).exists(linked)
      else java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
        .asInstanceOf[Number].intValue() > 1
    assert(!linked(new java.io.File(local)),
      "a hard-linked file appeared on a schemed root")
  }

  private def corpus = (0 until 60).map { i =>
    (i.toLong, s"w$i apple shared${i % 5} " +
      (if (i % 3 == 0) "banana" else "cherry"))
  }.toDF("doc_id", "text")

  private def bm25Serve(path: String) =
    Vocabulary.bm25Disk(spark, path, Seq("apple", "banana"),
        topK = 10, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("BM25 lifecycle (build/append/delete/compact/serve) on a " +
      "file:// root matches the posix root verbatim, link-free, " +
      "with sequenced commit files and no stage-dir renames") {
    val (root, local) = schemedTemp("hfs_bm25")
    val twin = java.nio.file.Files
      .createTempDirectory("hfs_bm25_twin").toString + "/idx"
    val docs = corpus
    poisonLinks {
      // the schemed root pins listing on its first stage (links don't
      // exist on object stores)
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
    assert(bm25Serve(root) == bm25Serve(twin),
      "schemed-root BM25 lifecycle diverged from the posix twin")
    assertObjectStoreShape(local)
  }

  private def vecs = (0 until 240).map { i =>
    val a = i % 3
    val base = Array.tabulate(8)(j => if (j == a) 1.0 else 0.0)
    (i.toLong, base.map(_ + 0.01 * ((i * 7 + a) % 5)).toSeq)
  }.toDF("id", "vec")

  private def annServe(path: String) = {
    val query = Array.tabulate(8)(j => if (j == 0) 1.0 else 0.05)
    Similarity.topKAnnDisk(spark, path, query, dim = 8, bits = 4,
        tables = 4, k = 5, groups = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("LSH ANN lifecycle on a file:// root matches the posix root " +
      "verbatim and keeps the object-store shape invariants") {
    val (root, local) = schemedTemp("hfs_lsh")
    val twin = java.nio.file.Files
      .createTempDirectory("hfs_lsh_twin").toString + "/idx"
    val df = vecs
    def lifecycle(path: String): Unit = {
      Similarity.writeLshIndex(Similarity.multiTableIndex(
        df.filter(col("id") % 10 =!= 0), "vec", "id",
        dim = 8, bits = 4, tables = 4), path, groups = 8)
      Similarity.appendLshIndex(df.filter(col("id") % 10 === 0),
        "vec", "id", path, dim = 8, bits = 4, tables = 4, groups = 8)
      Similarity.deleteFromLshIndex(df.filter(col("id") < 3), "id", path)
      Similarity.compactLshIndex(spark, path)
    }
    poisonLinks { lifecycle(root) }
    IndexManifest.pinLayout(twin, IndexManifest.ListingLayout)
    lifecycle(twin)
    assert(annServe(root) == annServe(twin),
      "schemed-root LSH lifecycle diverged from the posix twin")
    assertObjectStoreShape(local)
  }

  test("a crash before the pointer publish leaves the old version " +
      "serving bit-identically; the retry lands; commit files stay " +
      "immutable and bounded") {
    val (root, local) = schemedTemp("hfs_crash")
    val docs = corpus
    poisonLinks {
      Vocabulary.writeBm25Index(docs, "doc_id", "text", root, buckets = 4)
      val pre = bm25Serve(root)
      val preManifest = new java.io.File(local).list()
        .filter(_.startsWith("MANIFEST-")).sorted.toSeq
      val preContent = preManifest
        .map(n => java.nio.file.Files.readString(
          java.nio.file.Paths.get(local, n)))
      // crash as the commit enters: the append has staged everything
      @volatile var staged = Map.empty[String, Set[String]]
      withFailpoint { msg =>
        if (msg == s"commit:$root") {
          staged = stagedArtifacts(root, Seq("postings", "stats",
            "tombstones"))
          throw new RuntimeException(
            s"injected crash before commit-file create: $msg")
        }
      } {
        intercept[RuntimeException] {
          Vocabulary.appendBm25Index(docs.limit(0), "doc_id", "text",
            root, buckets = 4)
        }
      }
      assert(staged.values.toSeq == Seq(Set("postings", "stats")),
        s"the crash did not land between staging and commit: $staged")
      assert(bm25Serve(root) == pre,
        "a crashed append changed the served index on a schemed root")
      // already-published commit files are IMMUTABLE: the crash must
      // not have touched them
      preManifest.zip(preContent).foreach { case (n, c) =>
        assert(java.nio.file.Files.readString(
          java.nio.file.Paths.get(local, n)) == c,
          s"published commit file $n was mutated")
      }
      // the retry lands the delta on top
      Vocabulary.appendBm25Index(docs.filter(col("doc_id") === 0L),
        "doc_id", "text", root, buckets = 4)
      assert(IndexManifest.history(root).size == 2)
      assertObjectStoreShape(local)
    }
  }

  test("a crash at publish: or at publish-pre-create: (the version " +
      "finalized, its commit file not yet created) leaves the old " +
      "version serving; a fresh writer's retry lands and its gc reaps " +
      "the crashed version") {
    Seq("publish", "publish-pre-create").foreach { point =>
      val (root, local) = schemedTemp("hfs_pubcrash")
      val docs = corpus
      poisonLinks {
        Vocabulary.writeBm25Index(docs.filter(col("doc_id") < 40),
          "doc_id", "text", root, buckets = 4)
        val pre = bm25Serve(root)
        val v1 = IndexManifest.current(root).get
        @volatile var crashed: Option[String] = None
        withFailpoint { msg =>
          if (msg == s"$point:$root") {
            // the crashing commit's version is finalized: it carries
            // the COMMITTED sentinel but no commit file names it
            crashed = HadoopManifestIo.listVersionDirNames(root)
              .filterNot(IndexManifest.history(root).contains).headOption
            throw new RuntimeException(s"injected crash at $msg")
          }
        } {
          intercept[RuntimeException] {
            Vocabulary.appendBm25Index(docs.filter(col("doc_id") >= 40),
              "doc_id", "text", root, buckets = 4)
          }
        }
        assert(crashed.isDefined,
          s"$point: the crashed version was not finalized")
        assert(IndexManifest.history(root) == Seq(v1),
          s"$point: the crash moved the pointer")
        assert(bm25Serve(root) == pre, s"$point: the crash changed the serve")
        assert(new java.io.File(s"$local/${crashed.get}").isDirectory)
        assertLeasesReleased(local)
        // a fresh writer: the retry takes the lease at once, lands on
        // top of v1, and its gc reaps the unreferenced crashed version
        Vocabulary.appendBm25Index(docs.filter(col("doc_id") >= 40),
          "doc_id", "text", root, buckets = 4)
        val h = IndexManifest.history(root)
        assert(h.size == 2 && h(1) == v1 && !h.contains(crashed.get),
          s"$point: the retry did not land on v1: $h")
        assert(!new java.io.File(s"$local/${crashed.get}").exists(),
          s"$point: the crashed version survived the next commit's gc")
        val full = java.nio.file.Files
          .createTempDirectory("hfs_pubcrash_full").toString + "/idx"
        Vocabulary.writeBm25Index(docs, "doc_id", "text", full, buckets = 4)
        assert(bm25Serve(root) == bm25Serve(full),
          s"$point: the recovered index diverged from a full build")
        assertObjectStoreShape(local)
      }
    }
  }

  /** Conditional-create a foreign lease at the next free generation
    * (the head slot — generations are monotonic, so a foreign holder
    * is whoever owns the highest number).
    */
  private def seedForeignLease(local: String, content: String)
      : java.nio.file.Path = {
    val gens = new java.io.File(local).list().toSeq
      .collect { case n if n.startsWith(s"${IndexManifest.LockFile}-") =>
        n.stripPrefix(s"${IndexManifest.LockFile}-").toLong
      }
    val next = (0L +: gens).max + 1
    val p = java.nio.file.Paths.get(local,
      f"${IndexManifest.LockFile}-$next%09d")
    java.nio.file.Files.writeString(p, content): Unit
    p
  }

  test("the commit lease blocks a racing commit while held, is taken " +
      "over once expired, and a released root commits normally") {
    val (root, local) = schemedTemp("hfs_lease")
    poisonLinks {
      val (v1, d1) = IndexManifest.stage(root)
      spark.range(1).write.parquet(s"$d1/data")
      IndexManifest.commit(root, v1): Unit

      // a LIVE foreign lease (deadline in the future) at the HEAD
      // generation blocks commit
      val lease = seedForeignLease(local,
        s"foreign-holder\t${ManifestClock.now() + 60000}")
      val (v2, d2) = IndexManifest.stage(root)
      spark.range(1).write.parquet(s"$d2/data")
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var err: Throwable = null
      val waits = new LockWaits(root)
      withFailpoint(waits.hook) {
        val t = new Thread(() => {
          try IndexManifest.commit(root, v2): Unit
          catch { case x: Throwable => err = x }
          finally done.countDown()
        })
        t.start()
        assert(waits.await(), "the racing commit never waited on the lease")
      }
      assert(done.getCount == 1,
        "commit proceeded while a live foreign lease was held")
      assert(err == null, s"commit threw instead of waiting: $err")
      java.nio.file.Files.delete(lease) // holder releases
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "commit never acquired the lease after release")
      assert(err == null, s"commit failed after lease release: $err")
      assert(IndexManifest.history(root).head == v2)

      // an EXPIRED lease (crashed holder) is taken over without help
      val dead = seedForeignLease(local,
        s"dead-holder\t${ManifestClock.now() - 1000}")
      val (v3, d3) = IndexManifest.stage(root)
      spark.range(1).write.parquet(s"$d3/data")
      IndexManifest.commit(root, v3): Unit
      assert(IndexManifest.history(root).head == v3,
        "commit did not take over an expired lease")
      assert(!java.nio.file.Files.exists(dead) ||
        !java.nio.file.Files.readString(dead).startsWith("dead-holder"),
        "the expired lease survived takeover")
      assertObjectStoreShape(local)
    }
  }

  test("a committed version name can NEVER be re-claimed: the claim " +
      "marker persists past commit, so a lagging stager that computed " +
      "the same number takes the next one instead of clobbering a " +
      "live version") {
    val (root, local) = schemedTemp("hfs_reclaim")
    poisonLinks {
      val (v1, d1) = IndexManifest.stage(root)
      spark.range(3).write.parquet(s"$d1/data")
      IndexManifest.commit(root, v1): Unit
      // the lagging stager's exact call: reserve the number a racer
      // already committed. Pre-fix this returned TRUE (the commit had
      // deleted the STAGE marker), handing the stager a live
      // pointer-referenced dir to write into — and its CAS-rebase
      // rmTree would then DELETE the current version
      assert(!HadoopManifestIo.reserveStage(root, v1),
        s"a committed version dir ($v1) was re-claimed as a stage")
      // the committed dir holds both markers and enumerates as a
      // VERSION, never a stage
      assert(new java.io.File(s"$local/$v1",
        HadoopManifestIo.StageMarkerFile).exists())
      assert(new java.io.File(s"$local/$v1",
        HadoopManifestIo.CommittedMarkerFile).exists())
      assert(HadoopManifestIo.listVersionDirNames(root) == Seq(v1))
      assert(HadoopManifestIo.listStageDirNames(root).isEmpty)
      // a real stager just moves on to the next free number
      val (v2, _) = IndexManifest.stage(root)
      assert(v2 != v1, s"stage() re-allocated the committed number $v1")
      // a LEGACY dir (pre-sentinel protocol: claim marker deleted at
      // commit) still counts as a version — once past the fresh-dir
      // grace window (a FRESH marker-less dir is a reservation
      // mid-claim and counts as a stage, so GC can't reap it between
      // reserveStage's mkdirs and its marker create; legacy dirs are
      // old by definition)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$local/$v1",
          HadoopManifestIo.StageMarkerFile))
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$local/$v1",
          HadoopManifestIo.CommittedMarkerFile))
      assert(HadoopManifestIo.listStageDirNames(root).contains(v1),
        "a fresh marker-less dir must count as a mid-claim stage")
      assert(new java.io.File(s"$local/$v1").setLastModified(
        System.currentTimeMillis() - IndexManifest.StageTtlMs - 60000))
      assert(HadoopManifestIo.listVersionDirNames(root).contains(v1),
        "a legacy committed dir (no markers) stopped counting as a version")
    }
  }

  test("lease takeover admits exactly one holder: contenders racing " +
      "over an expired lease from DIFFERENT in-process monitors " +
      "(alias roots) never overlap inside the critical section") {
    // two spellings of one root take different in-process monitors but
    // share the underlying lease files — mutual exclusion rests
    // entirely on the lease protocol, as it would across processes.
    // The pre-fix protocol took over by delete-then-recreate of ONE
    // shared name: contender B's delete could land on contender A's
    // fresh lease and admit both. Generation-numbered conditional
    // creates make any interleaving single-holder.
    val (root, local) = schemedTemp("hfs_alias")
    HadoopManifestIo.mkdirs(root)
    // trailing slash: a different in-process monitor key, the same
    // files (Hadoop Path collapses the duplicate separator)
    val alias = s"$root/"
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    for (_ <- 0 until 25) {
      // seed a crashed holder's expired lease at the head generation —
      // both contenders see a takeover opportunity at once
      seedForeignLease(local,
        s"dead-holder\t${ManifestClock.now() - 1000}"): Unit
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val ts = Seq(root, alias).map { r =>
        val t = new Thread(() => {
          barrier.await()
          HadoopManifestIo.withLock(r) {
            if (inside.incrementAndGet() > 1) overlaps.incrementAndGet()
            // hold the lease a moment inside the critical section, so
            // an overlapping second holder would be seen
            Thread.sleep(15)
            inside.decrementAndGet()
          }
        })
        t.start(); t
      }
      ts.foreach(_.join(30000))
      assert(overlaps.get() == 0,
        "two contenders held the commit lease simultaneously")
    }
    // released cleanly: whatever lease files survive are RELEASED
    // stubs (release OVERWRITES the holder's own file — the surviving
    // head generation is the monotonic high-water mark; a live or
    // expired holder token here would be a leak)
    assertLeasesReleased(local)
  }

  /** Every surviving `COMMIT_LOCK*` file must be a RELEASED stub —
    * the monotonic-generation high-water mark, never a live/expired
    * holder token leaked past its critical section.
    */
  private def assertLeasesReleased(local: String): Unit =
    new java.io.File(local).list().toSeq
      .filter(_.startsWith(IndexManifest.LockFile))
      .foreach { n =>
        val content = java.nio.file.Files.readString(
          java.nio.file.Paths.get(local, n))
        assert(content.startsWith("RELEASED"),
          s"lease $n leaked past release with holder content: $content")
      }

  test("a ZOMBIE lease holder cannot drop its successor's commit: " +
      "publish is pinned to the token read at CAS time, so a holder " +
      "that outlives its lease loses loudly instead of publishing a " +
      "lineage missing the takeover's version") {
    val (root, local) = schemedTemp("hfs_zombie")
    poisonLinks {
      val (v1, d1) = IndexManifest.stage(root)
      spark.range(1).write.parquet(s"$d1/data")
      IndexManifest.commit(root, v1): Unit

      // token-level pin first (deterministic, no timing): a zombie's
      // read → a successor's commit → the zombie's publish. Pre-fix,
      // publishPointer re-listed and took the NEXT free sequence, so
      // the zombie's lineage (missing the successor's version)
      // published cleanly — the successor's commit silently vanished.
      val (histZ, tokenZ) = HadoopManifestIo.readPointerForCommit(root)
      val (v2, d2) = IndexManifest.stage(root)
      spark.range(1).write.parquet(s"$d2/data")
      IndexManifest.commit(root, v2): Unit
      intercept[ConcurrentCommitException] {
        HadoopManifestIo.publishPointer(root, "v99999" +: histZ, tokenZ)
      }
      assert(IndexManifest.current(root).contains(v2),
        "the zombie's stale publish displaced the successor's commit")

      // end-to-end: a commit stalled inside the critical section past
      // the lease TTL, a successor taking over and committing, then
      // the zombie waking to publish — it must throw, and the
      // successor's version must survive as current
      val stalled = new java.util.concurrent.CountDownLatch(1)
      val resume = new java.util.concurrent.CountDownLatch(1)
      val once = new java.util.concurrent.atomic.AtomicBoolean(false)
      withClock {
        withFailpoint { msg =>
          if (msg == s"publish:$root" && once.compareAndSet(false, true)) {
            stalled.countDown()
            resume.await()
          }
        } {
          try {
            val (vz, dz) = IndexManifest.stage(root)
            spark.range(1).write.parquet(s"$dz/data")
            @volatile var zombieErr: Throwable = null
            val zombie = new Thread(() => {
              try IndexManifest.commit(root, vz): Unit
              catch { case t: Throwable => zombieErr = t }
            })
            zombie.start()
            // once the zombie is stalled INSIDE the lock, its lease
            // lapses and this thread commits over it. The zombie holds
            // the in-process monitor for `root`, so the successor
            // commits through an ALIAS spelling (same files, different
            // monitor key) — mutual exclusion rests on the lease
            // alone, as it would across processes
            assert(stalled.await(30, java.util.concurrent.TimeUnit.SECONDS),
              "the commit never reached its publish failpoint")
            ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 500)
            val (vs, ds) = IndexManifest.stage(s"$root/")
            spark.range(1).write.parquet(s"$ds/data")
            IndexManifest.commit(s"$root/", vs): Unit
            resume.countDown()
            zombie.join(30000)
            assert(zombieErr != null &&
              zombieErr.isInstanceOf[ConcurrentCommitException],
              s"the zombie commit did not lose loudly: $zombieErr")
            assert(IndexManifest.current(root).contains(vs),
              "the zombie displaced the successor's commit")
            assert(IndexManifest.history(root).contains(vs))
          } finally resume.countDown()
        }
      }
      assertObjectStoreShape(local)
    }
  }

  test("gc's reaps are lease-fenced: a holder that outlived its lease " +
      "skips every delete (a zombie's stale keep-set must never reap " +
      "a successor's freshly-committed version); a live holder reaps") {
    val (root, local) = schemedTemp("hfs_gcfence")
    poisonLinks {
      val (v1, d1) = IndexManifest.stage(root)
      spark.range(1).write.parquet(s"$d1/data")
      IndexManifest.commit(root, v1): Unit
      // an unreferenced version-shaped dir (crash between finalize and
      // publish): normally reaped by the very next gc
      val orphan = new java.io.File(s"$local/v00099")
      assert(orphan.mkdir())
      java.nio.file.Files.writeString(
        orphan.toPath.resolve(HadoopManifestIo.StageMarkerFile), "1"): Unit
      java.nio.file.Files.writeString(
        orphan.toPath.resolve(HadoopManifestIo.CommittedMarkerFile),
        "1"): Unit
      java.nio.file.Files.writeString(
        orphan.toPath.resolve("junk"), "x"): Unit
      withClock {
        HadoopManifestIo.withLock(root) {
          // outlive our own lease: we are the zombie
          ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 300)
          IndexManifest.gc(root)
        }
        assert(orphan.isDirectory,
          "a zombie holder's gc reaped past its lapsed lease")
      }
      // a live holder's gc reaps it
      HadoopManifestIo.withLock(root)(IndexManifest.gc(root))
      assert(!orphan.exists(),
        "a live holder's gc failed to reap an unreferenced version")
      assertObjectStoreShape(local)
    }
  }

  test("cross-PROCESS committers on a file:// root: three JVMs race " +
      "the generation lease and conditional-create commit files; " +
      "every version lands exactly once, no renumbering") {
    // the in-process monitor cannot serialize separate processes —
    // this contends the actual object-store primitives across JVMs:
    // lease takeover/acquire (generation conditional creates), stage
    // claims (persistent STAGE markers), and MANIFEST-<seq> publishes
    val (root, local) = schemedTemp("hfs_storm")
    val mainClasses = IndexManifest.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$mainClasses:/opt/spark/jars/*"
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val writers = 3
    val rounds = 4
    val procs = (0 until writers).map { w =>
      val logFile = java.nio.file.Files
        .createTempFile(s"hstorm$w", ".log").toFile
      val p = new ProcessBuilder(javaBin, "-cp", cp,
          "graft.tools.CommitStorm", root, s"proc$w", rounds.toString)
        .redirectErrorStream(true)
        .redirectOutput(logFile).start()
      (p, logFile)
    }
    val logs = procs.map { case (p, logFile) =>
      val finished =
        p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) p.destroyForcibly(): Unit
      val out = java.nio.file.Files.readString(logFile.toPath)
      assert(finished, s"hadoop storm JVM hung (killed)\n$out")
      assert(p.exitValue() == 0, s"hadoop storm JVM failed\n$out")
      out
    }
    val lineage = IndexManifest.history(root)
    assert(lineage.size == writers * rounds,
      s"a cross-process commit race dropped a committed version: " +
        s"${lineage.size} of ${writers * rounds} retained\n" +
        logs.mkString("\n"))
    // every (writer, round) landed exactly once, content intact, and
    // hadoop names NEVER renumber (claimed exactly once)
    assert(!logs.exists(_.contains("renumbered")),
      s"an object-store commit renumbered a claimed version:\n" +
        logs.mkString("\n"))
    val markers = lineage.map(v => java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$local/$v", "data")))
    assert(markers.distinct.size == markers.size)
    for (w <- 0 until writers; j <- 0 until rounds)
      assert(markers.contains(s"proc$w-round-$j"),
        s"lost proc$w-round-$j: $markers")
    // protocol shape held under cross-process contention: every dir
    // carries both markers, the commit tail is bounded, no lease leaks
    assertObjectStoreShape(local)
    lineage.foreach { v =>
      assert(new java.io.File(s"$local/$v",
        HadoopManifestIo.StageMarkerFile).exists(), s"$v lost its claim")
      assert(new java.io.File(s"$local/$v",
        HadoopManifestIo.CommittedMarkerFile).exists(),
        s"$v lost its commit sentinel")
    }
    assertLeasesReleased(local)
  }

  test("the commit protocol REFUSES schemes without an atomic claim " +
      "primitive (s3a/gs/abfs) with an actionable error, BEFORE any " +
      "store access; the documented conf opts back in") {
    // the gate must fire before FileSystem resolution: no s3a
    // connector exists in this container, so reaching the store would
    // fail with a classpath error instead of the actionable refusal
    val e = intercept[UnsupportedOperationException] {
      HadoopManifestIo.writeExclusive(
        "s3a://bucket/idx/COMMIT_LOCK-000000001", "x")
    }
    assert(e.getMessage.contains("'s3a'") &&
      e.getMessage.contains(HadoopManifestIo.TrustConditionalCreateConf) &&
      e.getMessage.contains("If-None-Match"),
      s"refusal not actionable: ${e.getMessage}")
    intercept[UnsupportedOperationException] {
      HadoopManifestIo.writeExclusive(
        "gs://bucket/idx/MANIFEST-000000001", "x")
    }
    intercept[UnsupportedOperationException] {
      HadoopManifestIo.writeExclusive(
        "abfs://c@a.dfs.example/idx/MANIFEST-000000001", "x")
    }
    // opt-in (deployment fronted a native conditional put) lifts the
    // gate: the call proceeds to the connector — whose ABSENCE here
    // proves the gate no longer fired (any classpath error, never the
    // refusal)
    val key = HadoopManifestIo.TrustConditionalCreateConf
    val prev = sys.props.get(key)
    sys.props(key) = "true"
    try {
      val past = intercept[Exception] {
        HadoopManifestIo.writeExclusive(
          "fakestore://bucket/idx/MANIFEST-000000001", "x")
      }
      assert(!past.isInstanceOf[UnsupportedOperationException],
        s"opt-in did not lift the refusal: $past")
    } finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key: Unit
    }
    // the Spark-conf spelling opts in too
    spark.conf.set(key, "true")
    try {
      val past = intercept[Exception] {
        HadoopManifestIo.writeExclusive(
          "fakestore://bucket/idx/MANIFEST-000000001", "x")
      }
      assert(!past.isInstanceOf[UnsupportedOperationException])
    } finally spark.conf.unset(key)
    // file:// (kernel link(2)) and the refusal-after-unset both hold
    intercept[UnsupportedOperationException] {
      HadoopManifestIo.writeExclusive(
        "fakestore://bucket/idx/MANIFEST-000000001", "x")
    }
  }

  test("lease generations are MONOTONIC across acquire/release " +
      "cycles — release keeps the head file as a RELEASED high-water " +
      "stub, so a generation name is never a lease twice (the " +
      "delete-cycle ABA regression)") {
    val (root, local) = schemedTemp("hfs_gen")
    HadoopManifestIo.mkdirs(root)
    def lockFiles: Seq[String] = new java.io.File(local).list().toSeq
      .filter(_.startsWith(IndexManifest.LockFile)).sorted
    def headGen: Long = lockFiles
      .collect { case n if n.startsWith(s"${IndexManifest.LockFile}-") =>
        n.stripPrefix(s"${IndexManifest.LockFile}-").toLong }
      .foldLeft(0L)(math.max)
    (1 to 7).foreach { i =>
      HadoopManifestIo.withLock(root) {}
      assert(headGen == i,
        s"generation restarted or skipped after cycle $i: $lockFiles " +
          "(the pre-fix release DELETED its file, emptying the listing " +
          "and re-admitting generation 1 — the ABA the advice flagged)")
    }
    // steady state: exactly the head survives, as a RELEASED stub
    assert(lockFiles == Seq(f"${IndexManifest.LockFile}-${7L}%09d"),
      s"superseded generations not pruned: $lockFiles")
    assertLeasesReleased(local)
    // a zombie's DELAYED release re-materializing its superseded
    // generation (an overwrite of its own old name) must not disturb
    // a LIVE head holder: contenders key on the highest generation
    java.nio.file.Files.writeString(java.nio.file.Paths.get(local,
      f"${IndexManifest.LockFile}-${3L}%09d"), "RELEASED\tzombie"): Unit
    val live = seedForeignLease(local,
      s"foreign\t${ManifestClock.now() + 60000}")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val waits = new LockWaits(root)
    val t = new Thread(() =>
      HadoopManifestIo.withLock(root)(entered.countDown()))
    withFailpoint(waits.hook) {
      t.start()
      assert(waits.await(), "the contender never waited on the head lease")
    }
    assert(entered.getCount == 1,
      "a contender ignored a live head lease (stale low-generation " +
        "stubs confused the head selection)")
    java.nio.file.Files.delete(live)
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "contender never acquired after the live head released")
    t.join(30000)
  }

  test("a TRANSIENT unreadable head lease is retried, not treated as " +
      "lapsed: takeover waits out a FULL lease TTL from the first " +
      "failed read — the only bound that provably outlives any live " +
      "holder's deadline (FileNotFound — a pruned lease — still " +
      "lapses fast)") {
    val (root, local) = schemedTemp("hfs_ioretry")
    HadoopManifestIo.mkdirs(root)
    // a LIVE foreign head lease written through raw LocalFileSystem
    // (checksummed), so it records a .crc sidecar...
    val name = f"${IndexManifest.LockFile}-${1L}%09d"
    val lfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val lout = lfs.create(
      new org.apache.hadoop.fs.Path(s"$root/$name"), true)
    lout.write(s"foreign\t${ManifestClock.now() + 3600000}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    lout.close()
    // ...then corrupt the content bytes behind its back: every read
    // now throws ChecksumException — an IOException that is NOT
    // FileNotFound, the S3-throttling/HDFS-blip shape. Pre-fix, a
    // short burst of failed reads classified a live lease as lapsed
    // and took over inside the holder's deadline (re-admitting
    // concurrent fenced GC reaps); post-fix the contender waits out a
    // full TTL from the first failure, past any live deadline. The
    // patience is read on the manifest clock, which the spec advances
    // instead of waiting five minutes.
    val raw = java.nio.file.Paths.get(local, name)
    val bytes = java.nio.file.Files.readAllBytes(raw)
    bytes(0) = (bytes(0) ^ 0x5a).toByte
    java.nio.file.Files.write(raw, bytes): Unit
    val ttl = HadoopManifestIo.LeaseTtlMs
    val waits = new LockWaits(root)
    val entered = new java.util.concurrent.CountDownLatch(1)
    @volatile var ms = -1L
    withClock {
      withFailpoint(waits.hook) {
        val t0 = ManifestClock.now()
        val t = new Thread(() =>
          HadoopManifestIo.withLock(root) {
            ms = ManifestClock.now() - t0
            entered.countDown()
          })
        t.start()
        assert(waits.await(2), "the contender never re-polled the head")
        // a minute short of the patience: still waiting
        ManifestClock.advance(ttl - 60000)
        assert(waits.await(2), "the contender stopped polling the head")
        assert(entered.getCount == 1,
          "an unreadable live head was usurped inside the TTL patience")
        ManifestClock.advance(60000 + 1000)
        assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "the contender never took over once the patience ran out")
        t.join(30000)
      }
    }
    assert(ms >= ttl - 100,
      s"takeover after ${ms}ms — an unreadable live head was usurped " +
        s"inside the ${ttl}ms TTL patience")
    assert(headGenOf(local) == 2L,
      "takeover did not use the next generation")
    assertLeasesReleased(local)
  }

  private def headGenOf(local: String): Long =
    new java.io.File(local).list().toSeq
      .collect { case n if n.startsWith(s"${IndexManifest.LockFile}-") =>
        n.stripPrefix(s"${IndexManifest.LockFile}-").toLong }
      .foldLeft(0L)(math.max)

  test("the holder's fence gives up a skew allowance EARLY while " +
      "takeover honors the full deadline — the no-destructor gap that " +
      "absorbs cross-process clock skew") {
    val (root, _) = schemedTemp("hfs_skew")
    HadoopManifestIo.mkdirs(root)
    // the allowance is capped at a quarter of the TTL, so a short
    // storm lease keeps a usable window; at the 5-minute TTL it is 5 s
    assert(HadoopManifestIo.fenceMarginFor(4000) == 1000)
    assert(HadoopManifestIo.fenceMarginMs ==
      HadoopManifestIo.LeaseSkewAllowanceMs)
    withClock {
      HadoopManifestIo.withLock(root) {
        assert(HadoopManifestIo.lockStillHeld(root),
          "a fresh lease must pass its own fence")
        // inside the deadline, inside the margin
        ManifestClock.advance(HadoopManifestIo.LeaseTtlMs -
          HadoopManifestIo.fenceMarginMs + 300)
        assert(!HadoopManifestIo.lockStillHeld(root),
          "the fence trusted the lease inside the skew-allowance window")
        // ...while a CONTENDER at the same instant still honors the
        // full stamped deadline: the lease file is live to it, so no
        // successor can be acting while we merely stopped destructing
        val head = new java.io.File(
          root.stripPrefix("file://")).list().toSeq
          .filter(_.startsWith(s"${IndexManifest.LockFile}-")).sorted.last
        val deadline = java.nio.file.Files.readString(
          java.nio.file.Paths.get(root.stripPrefix("file://"), head))
          .split("\t", 2)(1).trim.toLong
        assert(deadline > ManifestClock.now(),
          "no gap: the contender-visible deadline had already passed " +
            "when the holder's fence gave up")
      }
    }
  }

  test("HOSTILE cross-process storm: three JVMs, a shrunken lease " +
      "TTL and injected zombie publish-stalls — every stalled commit " +
      "loses LOUDLY and rebases, no committed version is ever lost") {
    val (root, local) = schemedTemp("hfs_zstorm")
    val mainClasses = IndexManifest.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$mainClasses:/opt/spark/jars/*"
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val writers = 3
    val rounds = 8
    val ttlMs = 700
    val stallEvery = 5
    val procs = (0 until writers).map { w =>
      val logFile = java.nio.file.Files
        .createTempFile(s"hzstorm$w", ".log").toFile
      val p = new ProcessBuilder(javaBin, "-cp", cp,
          "graft.tools.CommitStorm", root, s"zproc$w", rounds.toString,
          ttlMs.toString, stallEvery.toString)
        .redirectErrorStream(true)
        .redirectOutput(logFile).start()
      (p, logFile)
    }
    val logs = procs.map { case (p, logFile) =>
      val finished =
        p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) p.destroyForcibly(): Unit
      val out = java.nio.file.Files.readString(logFile.toPath)
      assert(finished, s"hostile storm JVM hung (killed)\n$out")
      assert(p.exitValue() == 0, s"hostile storm JVM failed\n$out")
      out
    }
    // the hostile machinery actually fired: zombies stalled past the
    // TTL and their commits lost loudly, then rebased to completion
    assert(logs.exists(_.contains("stalling past the lease TTL")),
      "no zombie stall was injected — the hostile path went unexercised")
    assert(logs.exists(_.contains("rebasing")),
      "no stalled commit lost loudly — the publish fence never fired")
    val lineage = IndexManifest.history(root)
    assert(lineage.size == writers * rounds,
      s"a takeover interleaving dropped a committed version: " +
        s"${lineage.size} of ${writers * rounds} retained\n" +
        logs.mkString("\n"))
    assert(!logs.exists(_.contains("renumbered")),
      "an object-store commit renumbered a claimed version")
    val markers = lineage.map(v => java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$local/$v", "data")))
    assert(markers.distinct.size == markers.size,
      s"duplicate markers in lineage: $markers")
    for (w <- 0 until writers; j <- 0 until rounds)
      assert(markers.contains(s"zproc$w-round-$j"),
        s"lost zproc$w-round-$j: $markers")
    assertObjectStoreShape(local)
    assertLeasesReleased(local)
  }

  test("the trustConditionalCreate opt-in is visible on threads with " +
      "NO active SparkSession: the global default session's conf " +
      "counts, so background/executor threads get the opted-in path, " +
      "not a spurious refusal") {
    val key = HadoopManifestIo.TrustConditionalCreateConf
    spark.conf.set(key, "true")
    try {
      @volatile var res: Throwable = null
      val t = new Thread(() => {
        // threads INHERIT the active session (InheritableThreadLocal);
        // clear it so this thread models an executor/background
        // thread that only has the global default session
        org.apache.spark.sql.SparkSession.clearActiveSession()
        try HadoopManifestIo.writeExclusive(
          "fakestore://bucket/idx/MANIFEST-000000001", "x"): Unit
        catch { case x: Throwable => res = x }
      })
      t.start(); t.join(30000)
      assert(res != null, "fakestore resolved — the probe is broken")
      assert(!res.isInstanceOf[UnsupportedOperationException],
        s"a session-less thread got the refusal despite the default " +
          s"session's opt-in: $res")
    } finally spark.conf.unset(key)
  }

  test("writeString on a file:// root auto-creates missing parent " +
      "directories — contract-equal with fs.create and the schemed " +
      "branch, not a latent scheme-dependent divergence") {
    val (root, local) = schemedTemp("hfs_wsparent")
    HadoopManifestIo.writeString(s"$root/a/b/c.txt", "x")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(local, "a/b/c.txt")) == "x")
  }

  test("publish ambiguity window, landed-first leg: a commit whose " +
      "MANIFEST create LANDS, then stalls a TTL-scale pause while " +
      ">= KeepCommitFiles successors rebase past it, is SUCCESS — " +
      "the re-list reads the lineage back and sees the chain carries " +
      "it, so no disown, no rebase, no double-apply") {
    val (root, local) = schemedTemp("hfs_fp_carried")
    val stalled = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val (v1, d1) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d1/data", "base")
      IndexManifest.commit(root, v1, retain = 1000): Unit
      IndexManifest.failpoint = msg =>
        if (msg == s"publish-post-create:$root" &&
            once.compareAndSet(false, true)) {
          stalled.countDown()
          resume.await()
        }
      val (v2, d2) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d2/data", "stalled-commit")
      @volatile var err: Throwable = null
      val zombie = new Thread(() => {
        try IndexManifest.commit(root, v2, retain = 1000): Unit
        catch { case x: Throwable => err = x }
      })
      zombie.start()
      assert(stalled.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the publish never reached its post-create failpoint")
      // the zombie's MANIFEST file landed BEFORE the stall — let its
      // lease lapse, then drive KeepCommitFiles successors through an
      // alias spelling (same files, different in-process monitor);
      // each takes over the expired lease, resolves the zombie's
      // commit as head, and rebases on top of it
      ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 200)
      val successors = (1 to HadoopManifestIo.KeepCommitFiles).map { i =>
        val (vs, ds) = IndexManifest.stage(s"$root/")
        HadoopManifestIo.writeString(s"$ds/data", s"succ-$i")
        IndexManifest.commit(s"$root/", vs, retain = 1000)
      }
      resume.countDown()
      zombie.join(30000)
      assert(err == null,
        s"a landed-first commit overtaken inside the window was " +
          s"disowned instead of returned as success: $err")
      val lineage = IndexManifest.history(root)
      assert(lineage.contains(v2),
        "the landed-first commit vanished from the lineage")
      assert(successors.forall(lineage.contains),
        "a successor's commit was dropped")
      // exactly ONE copy of the stalled delta — the disown-then-rebase
      // path would have landed 'stalled-commit' twice
      val markers = lineage.map(v => java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$local/$v", "data")))
      assert(markers.count(_ == "stalled-commit") == 1,
        s"double-apply: $markers")
      assert(markers.distinct.size == markers.size)
    } finally {
      IndexManifest.failpoint = _ => ()
      ManifestClock.reset()
      resume.countDown()
    }
  }

  test("publish ambiguity window, invisible-recreate leg: a zombie " +
      "stalled BETWEEN the deadline fence and its MANIFEST create, " +
      "whose name is then published AND pruned by successors, " +
      "recreates a pruned name — the re-list disowns it (the chain " +
      "does not carry it), the file is deleted, and no reader could " +
      "ever have resolved it (it was never the max sequence)") {
    val (root, local) = schemedTemp("hfs_fp_invisible")
    val stalled = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val (v1, d1) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d1/data", "base")
      IndexManifest.commit(root, v1, retain = 1000): Unit
      IndexManifest.failpoint = msg =>
        if (msg == s"publish-pre-create:$root" &&
            once.compareAndSet(false, true)) {
          stalled.countDown()
          resume.await()
        }
      val (vz, dz) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$dz/data", "invisible-commit")
      @volatile var err: Throwable = null
      val zombie = new Thread(() => {
        try IndexManifest.commit(root, vz, retain = 1000): Unit
        catch { case x: Throwable => err = x }
      })
      zombie.start()
      assert(stalled.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the publish never reached its pre-create failpoint")
      // the zombie has NOT created its MANIFEST yet. Let its lease
      // lapse, then drive KeepCommitFiles+1 successors: the first
      // publishes the very sequence number the zombie computed, the
      // last one's prune drops that name — so the zombie's delayed
      // create RECREATES a pruned name and succeeds
      ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 200)
      val successors =
        (1 to HadoopManifestIo.KeepCommitFiles + 1).map { i =>
          val (vs, ds) = IndexManifest.stage(s"$root/")
          HadoopManifestIo.writeString(s"$ds/data", s"succ-$i")
          IndexManifest.commit(s"$root/", vs, retain = 1000)
        }
      resume.countDown()
      zombie.join(30000)
      assert(err != null && err.isInstanceOf[ConcurrentCommitException],
        s"an invisible recreate-of-a-pruned-name did not lose " +
          s"loudly: $err")
      // the disowned file is GONE, and the lineage never carried the
      // zombie's version — no silent drop, no phantom commit
      val lineage = IndexManifest.history(root)
      assert(!lineage.contains(vz),
        "a never-resolvable commit leaked into the lineage")
      assert(successors.forall(lineage.contains),
        "a successor's commit was dropped")
      val names = new java.io.File(local).list().toSeq
        .filter(_.startsWith("MANIFEST-")).sorted
      // every surviving commit file resolves to a lineage WITHOUT the
      // zombie's version: its disowned file really is unresolvable
      names.foreach { n =>
        val content = java.nio.file.Files.readString(
          java.nio.file.Paths.get(local, n))
        assert(!content.linesIterator.map(_.trim).contains(vz),
          s"disowned commit $vz still resolvable via $n")
      }
    } finally {
      IndexManifest.failpoint = _ => ()
      ManifestClock.reset()
      resume.countDown()
    }
  }

  test("publish ambiguity window, retention-TRIM leg: a zombie " +
      "expireVersions whose create recreates a pruned name must lose " +
      "LOUDLY — its head is a pre-existing version every successor " +
      "carries, so lineage containment proves nothing and reporting " +
      "the unresolvable trim as applied would be a silent no-op") {
    val (root, _) = schemedTemp("hfs_fp_trim")
    val stalled = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      (0 until 3).foreach { i =>
        val (v, d) = IndexManifest.stage(root)
        HadoopManifestIo.writeString(s"$d/data", s"base-$i")
        IndexManifest.commit(root, v, retain = 1000): Unit
      }
      IndexManifest.failpoint = msg =>
        if (msg == s"publish-pre-create:$root" &&
            once.compareAndSet(false, true)) {
          stalled.countDown()
          resume.await()
        }
      @volatile var err: Throwable = null
      val zombie = new Thread(() => {
        try IndexManifest.expireVersions(root, keep = 1)
        catch { case x: Throwable => err = x }
      })
      zombie.start()
      assert(stalled.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the trim never reached its pre-create failpoint")
      ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 200)
      // successors bury AND PRUNE the name the zombie trim computed
      val successors =
        (1 to HadoopManifestIo.KeepCommitFiles + 1).map { i =>
          val (vs, ds) = IndexManifest.stage(s"$root/")
          HadoopManifestIo.writeString(s"$ds/data", s"succ-$i")
          IndexManifest.commit(s"$root/", vs, retain = 1000)
        }
      resume.countDown()
      zombie.join(30000)
      assert(err != null && err.isInstanceOf[ConcurrentCommitException],
        s"a zombie trim that recreated a pruned name reported " +
          s"success — retention silently not applied: $err")
      // nothing was trimmed by the zombie: the full successor chain
      // is still the resolved lineage
      val lineage = IndexManifest.history(root)
      assert(successors.forall(lineage.contains),
        "a successor's commit was dropped by the zombie trim")
      // retention then applies cleanly from a healthy caller
      IndexManifest.expireVersions(root, keep = 1)
      assert(IndexManifest.history(root).size == 1)
    } finally {
      IndexManifest.failpoint = _ => ()
      ManifestClock.reset()
      resume.countDown()
    }
  }

  test("withLock is loudly NON-reentrant on both backends: a nested " +
      "acquisition fails fast instead of spinning forever on its own " +
      "live lease / file lock") {
    val (root, _) = schemedTemp("hfs_reent")
    HadoopManifestIo.mkdirs(root)
    val e = intercept[IllegalStateException] {
      HadoopManifestIo.withLock(root) {
        HadoopManifestIo.withLock(root) {}
      }
    }
    assert(e.getMessage.contains("reentrant"))
    // the outer lock released normally: a fresh acquisition works
    HadoopManifestIo.withLock(root) {}
    // posix twin (would busy-wait on OverlappingFileLockException)
    val plain = java.nio.file.Files
      .createTempDirectory("posix_reent").toString + "/idx"
    val e2 = intercept[IllegalStateException] {
      PosixManifestIo.withLock(plain) {
        PosixManifestIo.withLock(plain) {}
      }
    }
    assert(e2.getMessage.contains("reentrant"))
    PosixManifestIo.withLock(plain) {}
  }

  test("SIGKILL mid-commit: a writer killed dead never loses an " +
      "ACKNOWLEDGED commit, survivors wait out the orphaned lease, " +
      "the root heals with a fresh commit, and leaked claim temps " +
      "are swept once stale") {
    // in-process crash specs throw at failpoints; this one kills the
    // PROCESS (SIGKILL — no finally blocks, no lease release, no temp
    // cleanup) at a random point mid-storm. The durability contract
    // under test: every commit a writer REPORTED as committed (its
    // log line was flushed) must survive in the lineage with intact
    // content, no matter who dies when.
    val (root, local) = schemedTemp("hfs_kill")
    val mainClasses = IndexManifest.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cp = s"$mainClasses:/opt/spark/jars/*"
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val writers = 3
    val rounds = 40
    val ttlMs = 700
    val procs = (0 until writers).map { w =>
      val logFile = java.nio.file.Files
        .createTempFile(s"hkill$w", ".log").toFile
      val p = new ProcessBuilder(javaBin, "-cp", cp,
          "graft.tools.CommitStorm", root, s"kproc$w", rounds.toString,
          ttlMs.toString)
        .redirectErrorStream(true)
        .redirectOutput(logFile).start()
      (p, logFile)
    }
    Thread.sleep(1500) // mid-flight for a ~20 s 3-way storm
    val victim = procs.head._1
    victim.destroyForcibly(): Unit
    victim.waitFor()
    val logs = procs.map { case (p, logFile) =>
      if (p != victim) {
        val finished =
          p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
        if (!finished) p.destroyForcibly(): Unit
        val out = java.nio.file.Files.readString(logFile.toPath)
        assert(finished, s"survivor hung after the kill\n$out")
        assert(p.exitValue() == 0, s"survivor failed after the kill\n$out")
      }
      java.nio.file.Files.readString(logFile.toPath)
    }
    val Committed = "committed (v\\d+)".r
    val victimAck = Committed.findAllMatchIn(logs.head)
      .map(_.group(1)).toSeq
    assert(victimAck.size < rounds,
      "the victim finished before the kill — raise rounds or kill earlier")
    // 1. acknowledged durability: every commit ANY writer reported —
    // including the victim's flushed lines — is in the lineage with
    // its content intact
    val lineage = IndexManifest.history(root)
    val ack = logs.flatMap(l =>
      Committed.findAllMatchIn(l).map(_.group(1)))
    ack.foreach { v =>
      assert(lineage.contains(v),
        s"acknowledged commit $v vanished from the lineage after a kill")
      assert(new java.io.File(s"$local/$v", "data").isFile,
        s"acknowledged commit $v lost its content after a kill")
    }
    // survivors completed every round
    for (w <- 1 until writers; j <- 0 until rounds) {
      val marker = s"kproc$w-round-$j"
      assert(lineage.exists(v => scala.util.Try(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$local/$v", "data")))
        .toOption.contains(marker)), s"survivor round $marker lost")
    }
    // 2. the root HEALS: a fresh commit from this JVM succeeds (an
    // orphaned lease, if the victim died holding it, is read from its
    // file and waited out — the survivors already proved that by
    // finishing; this proves it again from a cold process)
    val (vh, dh) = IndexManifest.stage(root)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$local/$vh", "data"), "heal"): Unit
    assert(IndexManifest.commit(root, vh, retain = 1000) == vh)
    assert(IndexManifest.current(root).contains(vh))
    assertObjectStoreShape(local)
    // 3. leaked claim temps (a SIGKILL inside writeExclusive leaves
    // `.<name>.tmp-<uuid>` behind) are swept by GC once they age past
    // the stage TTL — seed one deterministically, age it, and commit
    java.nio.file.Files.writeString(java.nio.file.Paths.get(local,
      ".MANIFEST-000000099.tmp-deadbeef"), "orphan"): Unit
    val tmpPath = java.nio.file.Paths.get(local,
      ".MANIFEST-000000099.tmp-deadbeef")
    assert(new java.io.File(tmpPath.toString).setLastModified(
      System.currentTimeMillis() - IndexManifest.StageTtlMs - 60000))
    val (vs, _) = IndexManifest.stage(root)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$local/$vs", "data"), "sweep"): Unit
    IndexManifest.commit(root, vs, retain = 1000): Unit
    assert(!java.nio.file.Files.exists(tmpPath),
      "gc did not sweep a stale orphaned claim temp")
  }

  test("reader pins on a file:// root: a pinned lazy scan drains " +
      "intact across a 3-commit mutation chain, release + expiry " +
      "reclaims, and a leaked pin lapses by mtime") {
    val (root, local) = schemedTemp("hfs_pin")
    val df = vecs
    poisonLinks {
      Similarity.writeLshIndex(Similarity.multiTableIndex(
        df.filter(col("id") % 10 =!= 0), "vec", "id",
        dim = 8, bits = 4, tables = 4), root, groups = 8)
      def chain(): Unit = {
        Similarity.appendLshIndex(df.filter(col("id") % 10 === 0),
          "vec", "id", root, dim = 8, bits = 4, tables = 4, groups = 8)
        Similarity.deleteFromLshIndex(Seq(3L, 33L).toDF("id"), "id", root)
        Similarity.compactLshIndex(spark, root)
      }
      val pin = IndexManifest.pinCurrent(root)
      val expected = Similarity.readLshIndex(spark, root,
          Some(pin.version))
        .select("id").collect().map(_.getLong(0)).sorted
      val it = Similarity.readLshIndex(spark, root, Some(pin.version))
        .select("id").toLocalIterator()
      val drained = scala.collection.mutable.ArrayBuffer[Long]()
      drained += it.next().getLong(0)
      chain() // 3 commits land mid-drain — one past default retain
      assert(!IndexManifest.history(root).contains(pin.version),
        "chain too short: pinned version still in lineage, pin untested")
      assert(new java.io.File(s"$local/${pin.version}").isDirectory,
        "hadoop-backend GC reaped a reader-pinned version")
      while (it.hasNext) drained += it.next().getLong(0)
      assert(drained.toArray.sorted.sameElements(expected),
        "pinned drain lost or changed rows on the hadoop backend")
      pin.release()
      IndexManifest.expireVersions(root, keep = 1)
      assert(!new java.io.File(s"$local/${pin.version}").exists(),
        "released pin still held its version on the hadoop backend")

      // a LEAKED pin lapses by mtime (the hadoop liveness signal) and
      // stops blocking GC; deletes and expiry then reclaim normally
      val leaked = IndexManifest.pinCurrent(root)
      withClock {
        ManifestClock.advance(IndexManifest.ReaderPinTtlMs + 1000)
        chain()
        // expiry drops the carry-listing references too (on a listing
        // root a superseded version legitimately survives while a
        // retained FILES listing still points at it); with the pin
        // lapsed, nothing protects the dir — a LIVE pin would have
        IndexManifest.expireVersions(root, keep = 1)
        assert(!new java.io.File(s"$local/${leaked.version}").exists(),
          "a stale (leaked) pin still blocked hadoop-backend GC " +
            "past its TTL")
      }
      assertObjectStoreShape(local)
    }
  }

  test("concurrent content-dependent mutations COMPOSE on a schemed " +
      "root: CAS rebase lands both deltas, never silently drops one") {
    val (root, _) = schemedTemp("hfs_cas")
    val df = vecs
    poisonLinks {
      Similarity.writeLshIndex(Similarity.multiTableIndex(
        df.filter(col("id") >= 6), "vec", "id",
        dim = 8, bits = 4, tables = 4), root, groups = 8)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def run(body: => Unit): Thread = {
        val t = new Thread(() => {
          try { barrier.await(); body }
          catch { case x: Throwable => errs.add(x): Unit }
        })
        t.start(); t
      }
      // an append racing a tombstone delete: both must serve afterwards
      val tA = run(Similarity.appendLshIndex(
        df.filter(col("id") < 3), "vec", "id", root,
        dim = 8, bits = 4, tables = 4, groups = 8))
      val tB = run(Similarity.deleteFromLshIndex(
        Seq(33L, 42L).toDF("id"), "id", root))
      tA.join(120000); tB.join(120000)
      assert(errs.isEmpty, s"racing mutations failed: ${errs.peek()}")
      val served = annServe(root).map(_._1).toSet
      assert(Set(0L, 1L, 2L).subsetOf(
        Similarity.readLshIndex(spark, root,
            Some(IndexManifest.resolve(root))).select("id")
          .collect().map(_.getLong(0)).toSet),
        "the racing append's delta was dropped")
      assert(!served.contains(33L) && !served.contains(42L),
        "the racing delete's tombstones were dropped")
    }
  }

  test("PIN FENCE: a zombie pinner — stalled past its lease TTL " +
      "between resolving current and the pin write, while a takeover " +
      "commits and expires the version it resolved — must NOT hand " +
      "out a pin naming the reaped version; it deletes the landed pin " +
      "and retries against the fresh current") {
    val (root, local) = schemedTemp("hfs_pinfence")
    val stalled = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val (v1, d1) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d1/data", "v1")
      IndexManifest.commit(root, v1): Unit
      IndexManifest.failpoint = msg =>
        if (msg == s"pin-pre-write:$root" &&
            once.compareAndSet(false, true)) {
          stalled.countDown()
          resume.await()
        }
      @volatile var pin: IndexManifest.ReaderPin = null
      @volatile var err: Throwable = null
      val zombie = new Thread(() => {
        try pin = IndexManifest.pinCurrent(root)
        catch { case x: Throwable => err = x }
      })
      zombie.start()
      assert(stalled.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "pinCurrent never reached its pin-pre-write failpoint")
      // zombie holds current=v1 in hand; lapse its lease, then a
      // takeover (alias spelling: same files, different in-process
      // monitor) commits twice and expires history, reaping v1
      ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 200)
      val (v2, d2) = IndexManifest.stage(s"$root/")
      HadoopManifestIo.writeString(s"$d2/data", "v2")
      IndexManifest.commit(s"$root/", v2): Unit
      val (v3, d3) = IndexManifest.stage(s"$root/")
      HadoopManifestIo.writeString(s"$d3/data", "v3")
      IndexManifest.commit(s"$root/", v3): Unit
      IndexManifest.expireVersions(s"$root/", keep = 1)
      assert(!new java.io.File(s"$local/$v1").exists(),
        "setup failed: v1 was not reaped before the zombie resumed")
      resume.countDown()
      zombie.join(30000)
      assert(err == null, s"fenced pinCurrent threw instead of " +
        s"retrying: $err")
      assert(pin != null, "pinCurrent returned no pin")
      // the pin must name the takeover's surviving current, and its
      // dir must exist — NOT the reaped v1
      assert(pin.version != v1,
        "zombie pinner handed out a pin naming a reaped version")
      assert(IndexManifest.current(root).contains(pin.version))
      assert(new java.io.File(s"$local/${pin.version}").isDirectory,
        "the returned pin's version dir does not exist")
      // no orphan pin file naming v1 was left behind by the fence
      val pinContents = Option(new java.io.File(
        s"$local/${IndexManifest.PinsDir}").listFiles())
        .getOrElse(Array.empty).toSeq
        .map(f => java.nio.file.Files.readString(f.toPath).trim)
      assert(!pinContents.contains(v1),
        s"the fenced pin write leaked a pin naming reaped $v1")
      // and the pin actually protects across a further expiry
      val (v4, d4) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d4/data", "v4")
      IndexManifest.commit(root, v4): Unit
      IndexManifest.expireVersions(root, keep = 1)
      assert(new java.io.File(s"$local/${pin.version}").isDirectory,
        "the re-pinned version was reaped despite the live pin")
      pin.release()
    } finally {
      IndexManifest.failpoint = _ => ()
      ManifestClock.reset()
      resume.countDown()
    }
  }

  test("PIN-RETRY EXHAUSTION: a pinner whose lease lapses on EVERY " +
      "acquisition attempt (pathological scheduling, not contention) " +
      "fails loudly with ConcurrentCommitException after " +
      "PinAcquireAttempts fenced attempts — it never returns a pin " +
      "it cannot prove, and leaves no pin litter behind") {
    val (root, local) = schemedTemp("hfs_pinexhaust")
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    try {
      val (v1, d1) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d1/data", "v1")
      IndexManifest.commit(root, v1): Unit
      IndexManifest.failpoint = msg =>
        if (msg == s"pin-pre-write:$root") {
          hits.incrementAndGet(): Unit
          // stall past the lease TTL on EVERY attempt — the
          // post-write pin fence must fail each time, and the
          // bounded retry must exhaust rather than spin forever
          ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 150)
        }
      val err = intercept[ConcurrentCommitException] {
        IndexManifest.pinCurrent(root)
      }
      assert(hits.get() == IndexManifest.PinAcquireAttempts,
        s"expected ${IndexManifest.PinAcquireAttempts} fenced " +
          s"attempts, saw ${hits.get()} ($err)")
      // every failed attempt deleted its own pin file — exhaustion
      // leaves no litter naming a version it never protected
      val pins = Option(new java.io.File(
        s"$local/${IndexManifest.PinsDir}").listFiles())
        .getOrElse(Array.empty).toSeq
      assert(pins.isEmpty, s"exhausted pinCurrent leaked pins: $pins")
      // the root is healthy: with the stall gone, pinning succeeds
      IndexManifest.failpoint = _ => ()
      val pin = IndexManifest.pinCurrent(root)
      assert(pin.version == v1)
      pin.release()
    } finally {
      IndexManifest.failpoint = _ => ()
      ManifestClock.reset()
    }
  }

  test("BASE-PIN FENCE: a mutate() builder stalled past its lease TTL " +
      "inside the base-pin window — while a takeover commits and " +
      "expires the base it resolved — rebases loudly onto the fresh " +
      "current instead of silently carrying from a reaped dir") {
    val (root, local) = schemedTemp("hfs_basefence")
    val stalled = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val (v1, d1) = IndexManifest.stage(root)
      HadoopManifestIo.writeString(s"$d1/data", "v1")
      IndexManifest.commit(root, v1): Unit
      IndexManifest.failpoint = msg =>
        if (msg == s"base-pin:$root" &&
            once.compareAndSet(false, true)) {
          stalled.countDown()
          resume.await()
        }
      @volatile var seenBases: List[Option[String]] = Nil
      @volatile var err: Throwable = null
      val zombie = new Thread(() => {
        try IndexManifest.mutate(root) { m =>
          seenBases = seenBases :+ m.base
          HadoopManifestIo.writeString(s"${m.dir}/data", "delta")
        } catch { case x: Throwable => err = x }
      })
      zombie.start()
      assert(stalled.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "mutate never reached its base-pin failpoint")
      ManifestClock.advance(HadoopManifestIo.LeaseTtlMs + 200)
      val (v2, d2) = IndexManifest.stage(s"$root/")
      HadoopManifestIo.writeString(s"$d2/data", "v2")
      IndexManifest.commit(s"$root/", v2): Unit
      val (v3, d3) = IndexManifest.stage(s"$root/")
      HadoopManifestIo.writeString(s"$d3/data", "v3")
      IndexManifest.commit(s"$root/", v3): Unit
      IndexManifest.expireVersions(s"$root/", keep = 1)
      assert(!new java.io.File(s"$local/$v1").exists(),
        "setup failed: v1 was not reaped before the zombie resumed")
      resume.countDown()
      zombie.join(30000)
      assert(err == null, s"fenced mutate threw instead of rebasing: $err")
      // the FIRST attempt's stale base (v1) was fenced before the body
      // ever ran: the body only ever saw a base that still existed
      assert(seenBases.nonEmpty && !seenBases.contains(Some(v1)),
        s"mutate body ran against the reaped base $v1: $seenBases")
      assert(IndexManifest.history(root).nonEmpty)
      val cur = IndexManifest.currentDir(root)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(
          s"$local/${IndexManifest.current(root).get}", "data")) == "delta",
        s"the mutation's delta is not the current version at $cur")
    } finally {
      IndexManifest.failpoint = _ => ()
      ManifestClock.reset()
      resume.countDown()
    }
  }
}
