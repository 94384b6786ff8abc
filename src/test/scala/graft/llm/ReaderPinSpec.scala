package graft.llm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

import ManifestHooks.{LockWaits, withClock, withFailpoint}

/** Reader pins and commit hardening: the retain-N window is argued in
  * the manifest scaladoc; this spec RACES it. A lazy reader that must
  * outlive a mutation CHAIN (append → delete → compact = 3 commits,
  * one more than default retain covers) either pins its version —
  * safe by construction, GC holds the pinned dir — or, unpinned,
  * loses the dir and fails LOUDLY (missing files), never silently
  * serves a mixture. Plus the commit-replay guard: re-driving a
  * commit whose version dir no longer exists fails instead of
  * publishing a dangling pointer.
  */
class ReaderPinSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (0 until 240).map { i =>
    val a = i % 3
    val base = Array.tabulate(8)(j => if (j == a) 1.0 else 0.0)
    (i.toLong, base.map(_ + 0.01 * ((i * 7 + a) % 5)).toSeq)
  }.toDF("id", "vec")

  private val dim = 8
  private val bits = 4
  private val tables = 4
  private val groups = 8

  private def buildBase(dir: String): Unit =
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(corpus.filter(col("id") % 10 =!= 0),
        "vec", "id", dim = dim, bits = bits, tables = tables),
      dir, groups = groups)

  /** append → delete → compact: three commits, exceeding the default
    * retain=2 reader window by one.
    */
  private def mutationChain(dir: String): Unit = {
    Similarity.appendLshIndex(corpus.filter(col("id") % 10 === 0),
      "vec", "id", dir, dim = dim, bits = bits, tables = tables,
      groups = groups)
    Similarity.deleteFromLshIndex(Seq(3L, 33L).toDF("id"), "id", dir)
    Similarity.compactLshIndex(spark, dir)
  }

  test("a PINNED lazy scan drains intact across a 3-commit mutation " +
      "chain at default retain; release + expiry then reclaims") {
    val dir = Files.createTempDirectory("pin").toString + "/idx"
    buildBase(dir)
    val pin = IndexManifest.pinCurrent(dir)
    val expected = Similarity.readLshIndex(spark, dir,
      Some(pin.version)).select("id").collect().map(_.getLong(0)).sorted

    // the scan is OPEN (toLocalIterator: partitions fetched lazily as
    // the driver drains) while the whole chain lands
    val it = Similarity.readLshIndex(spark, dir, Some(pin.version))
      .select("id").toLocalIterator()
    val drained = scala.collection.mutable.ArrayBuffer[Long]()
    drained += it.next().getLong(0) // first partition fetched...
    mutationChain(dir) // ...3 commits land mid-drain
    assert(!IndexManifest.history(dir).contains(pin.version),
      "chain too short: pinned version still in lineage, pin untested")
    assert(new java.io.File(pin.dir).isDirectory,
      "GC reaped a reader-pinned version")
    while (it.hasNext) drained += it.next().getLong(0)
    assert(drained.toArray.sorted.sameElements(expected),
      "pinned drain lost or changed rows")

    // release: the pin no longer protects, expiry reclaims the dir
    pin.release()
    IndexManifest.expireVersions(dir, keep = 1)
    assert(!new java.io.File(pin.dir).exists(),
      "released pin still held its version")
  }

  test("UNPINNED, the same chain reaps the resolved version: a fresh " +
      "scan of the stale dir fails loudly, never serves silently") {
    val dir = Files.createTempDirectory("nopin").toString + "/idx"
    buildBase(dir)
    val resolved = IndexManifest.currentDir(dir) // reader resolves once
    mutationChain(dir)
    assert(!new java.io.File(resolved).exists(),
      "expected the 3-commit chain to outrun retain=2 and reap the dir")
    val e = intercept[Exception] {
      spark.read.parquet(s"$resolved/data").count()
    }
    assert(e.getMessage != null)
  }

  test("a leaked pin expires after ReaderPinTtlMs and stops blocking " +
      "GC; a refreshed pin keeps protecting") {
    val dir = Files.createTempDirectory("pinttl").toString + "/idx"
    buildBase(dir)
    val leaked = IndexManifest.pinCurrent(dir)
    withClock {
      // the leaked pin is now stale
      ManifestClock.advance(IndexManifest.ReaderPinTtlMs + 1000)
      mutationChain(dir)
      assert(!new java.io.File(leaked.dir).exists(),
        "a stale (leaked) pin still blocked GC past its TTL")
      // a refresh AFTER the lapse (pin file already reaped) must fail
      // LOUDLY — protection ended at the lapse, and silently
      // "refreshing" nothing would let the reader keep scanning a
      // version that is already gone
      val lapsed = intercept[IllegalStateException](leaked.refresh())
      assert(lapsed.getMessage.contains("no longer protected"))

      // a pin taken on the advanced clock is live at once: its mtime
      // is stamped from the manifest clock, not the filesystem's
      val live = IndexManifest.pinCurrent(dir)
      Similarity.appendLshIndex(corpus.filter(col("id") % 10 === 0),
        "vec", "id", dir, dim = dim, bits = bits, tables = tables,
        groups = groups)
      IndexManifest.expireVersions(dir, keep = 1)
      assert(new java.io.File(live.dir).isDirectory,
        "a pin taken on an advanced clock was reaped as stale")
      // refresh() keeps a long-lived scan protected past the TTL
      ManifestClock.advance(IndexManifest.ReaderPinTtlMs - 1000)
      live.refresh()
      ManifestClock.advance(2000)
      Similarity.deleteFromLshIndex(Seq(7L).toDF("id"), "id", dir)
      Similarity.compactLshIndex(spark, dir)
      IndexManifest.expireVersions(dir, keep = 1)
      assert(new java.io.File(live.dir).isDirectory,
        "a refreshed pin stopped protecting its version")
      live.release()
    }
  }

  test("withPin releases by construction: a body that THROWS mid-scan " +
      "leaves no pin file, and GC reclaims normally afterwards") {
    val dir = Files.createTempDirectory("withpin").toString + "/idx"
    buildBase(dir)
    def pinFiles = Option(new java.io.File(dir, IndexManifest.PinsDir)
      .listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".pin"))

    // happy path: pinned across the full chain, released at exit
    IndexManifest.withPin(dir) { pin =>
      val it = Similarity.readLshIndex(spark, dir, Some(pin.version))
        .select("id").toLocalIterator()
      val drained = scala.collection.mutable.ArrayBuffer[Long]()
      drained += it.next().getLong(0)
      mutationChain(dir)
      while (it.hasNext) drained += it.next().getLong(0)
      assert(drained.nonEmpty)
      assert(pinFiles == 1, "withPin body must run under exactly one pin")
    }
    assert(pinFiles == 0, "withPin leaked its pin on normal exit")

    // a throwing body must NOT leak the pin (raw pinCurrent would hold
    // the version's storage for ReaderPinTtlMs — 24h)
    intercept[RuntimeException] {
      IndexManifest.withPin(dir) { _ => throw new RuntimeException("scan died") }
    }
    assert(pinFiles == 0, "withPin leaked its pin when the body threw")
    IndexManifest.expireVersions(dir, keep = 1)
    assert(IndexManifest.history(dir).size == 1,
      "expiry blocked by a pin that should have been released")
  }

  test("replaying a commit whose version dir no longer exists fails " +
      "loudly instead of publishing a dangling pointer") {
    val root = Files.createTempDirectory("replay").toString + "/idx"
    val (v1, d1) = IndexManifest.stage(root)
    Files.writeString(Paths.get(d1, "data"), "v1"): Unit
    IndexManifest.commit(root, v1)
    // crash-recovery misuse: the driver replays commit(v9) but no
    // stage-v9 was ever (re)built and no v9 dir exists
    val e = intercept[IllegalStateException] {
      IndexManifest.commit(root, "v00009")
    }
    assert(e.getMessage.contains("missing version"))
    // the pointer still names the intact v1
    assert(IndexManifest.current(root).contains(v1))
    // the legitimate replay (crash BETWEEN rename and pointer write:
    // the v-dir exists, only the pointer is missing) still works
    val (v2, d2) = IndexManifest.stage(root)
    Files.writeString(Paths.get(d2, "data"), "v2"): Unit
    Files.move(Paths.get(root, s"stage-$v2"), Paths.get(root, v2))
    IndexManifest.commit(root, v2) // stage dir gone, v2 dir present
    assert(IndexManifest.current(root).contains(v2))
  }

  test("a foreign in-JVM FileLock on COMMIT_LOCK (root-alias monitor " +
      "miss) makes commit WAIT, not throw OverlappingFileLockException") {
    // two aliases of one root (symlink / canonicalization failure) take
    // different in-process monitors but the same OS file; the second
    // thread's lock() then throws OFLE. Simulate the alias holder
    // directly: hold the file lock through a separate channel.
    val root = Files.createTempDirectory("ofle").toString + "/idx"
    val (v1, d1) = IndexManifest.stage(root)
    Files.writeString(Paths.get(d1, "data"), "base"): Unit
    IndexManifest.commit(root, v1)
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(root, IndexManifest.LockFile),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val foreign = ch.lock()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var err: Throwable = null
    val (v2, d2) = IndexManifest.stage(root)
    Files.writeString(Paths.get(d2, "data"), "w2"): Unit
    val t = new Thread(() => {
      try IndexManifest.commit(root, v2, retain = 10): Unit
      catch { case x: Throwable => err = x }
      finally done.countDown()
    })
    val waits = new LockWaits(root)
    withFailpoint(waits.hook) {
      t.start()
      assert(waits.await(), "the commit never waited on the foreign lock")
    }
    assert(done.getCount == 1,
      "commit proceeded while a foreign process-level lock was held")
    assert(err == null, s"commit threw instead of waiting: $err")
    foreign.release(); ch.close()
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "commit never acquired the lock after the foreign holder released")
    assert(err == null, s"commit failed after lock release: $err")
    assert(IndexManifest.history(root) == Seq(v2, v1))
  }
}
