package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash-injection certification of the manifest-pointer commit: a
  * failure at ANY point of a mutating index verb leaves the index
  * serving bit-identically to either the pre-state or the post-state
  * — never a mixture. The specific windows the old layout had (BM25
  * compaction's stats-folded-while-tombstones-persist double
  * subtraction; the two-rename gap where the index path did not
  * exist; appended postings under stale stats) are each pinned
  * closed here.
  */
class IndexManifestSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (0 until 60).map { i =>
    (i.toLong, s"w$i apple shared${i % 5} " +
      (if (i % 3 == 0) "banana" else "cherry"))
  }.toDF("doc_id", "text")

  /** Arm the failpoint to throw on the next commit under `root`. */
  private def failNextCommit(root: String): Unit =
    IndexManifest.failpoint = msg =>
      if (msg.contains(root)) throw new RuntimeException(
        s"injected crash before pointer flip: $msg")

  private def disarm(): Unit = IndexManifest.failpoint = _ => ()

  /** The root's directories besides `pins/`, which holds no pin: a
    * read decodes its version under a reader pin, so a root that has
    * been read keeps an empty `pins/` beside its versions.
    */
  private def rootDirs(path: String): Set[String] = {
    val pins = Option(new java.io.File(path, IndexManifest.PinsDir).list())
      .toSeq.flatten
    assert(pins.isEmpty, s"leaked reader pins: $pins")
    new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName != IndexManifest.PinsDir)
      .map(_.getName).toSet
  }

  /** Age a whole tree past the stage TTL — GC's abandonment signal is
    * the NEWEST mtime anywhere in the stage tree, so every file must
    * look idle, not just the top dir. The heartbeat file carries its
    * stamp as CONTENT too (touchStage — the mtime-less-store channel),
    * so aging rewrites that as well: a crashed builder's heartbeat
    * goes stale on both channels in real time, and fast-forwarding
    * must match.
    */
  private def ageTree(f: java.io.File): Unit = {
    val old = System.currentTimeMillis() - IndexManifest.StageTtlMs - 60000
    if (f.getName == IndexManifest.ActivityFile)
      Files.writeString(f.toPath, old.toString): Unit
    assert(f.setLastModified(old))
    Option(f.listFiles()).getOrElse(Array.empty).foreach(ageTree)
  }

  private def bm25Serve(path: String) =
    Vocabulary.bm25Disk(spark, path, Seq("apple", "banana"),
        topK = 10, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("bm25 compaction crash leaves the tombstoned pre-state serving " +
      "bit-identically; the retry lands the exact post-state") {
    val docs = corpus
    val path = Files.createTempDirectory("mfst").toString + "/idx"
    Vocabulary.writeBm25Index(docs, "doc_id", "text", path, buckets = 4)
    Vocabulary.deleteBm25Index(spark, path,
      (0 until 60 by 4).map(_.toLong))
    val pre = bm25Serve(path)
    val preVersion = IndexManifest.current(path)

    failNextCommit(path)
    try {
      intercept[RuntimeException] {
        Vocabulary.compactBm25Index(spark, path, buckets = 4)
      }
    } finally disarm()
    // the crash died AFTER staging all artifacts, BEFORE the pointer
    // flip: the committed version must be untouched and the serve
    // bit-identical — in particular NO double subtraction of the
    // tombstoned stats (the old three-artifact window)
    assert(IndexManifest.current(path) == preVersion,
      "a failed commit moved the pointer")
    assert(bm25Serve(path) == pre,
      "serve changed after a crashed compaction")

    // the retry folds exactly once: equals a rebuild over survivors
    Vocabulary.compactBm25Index(spark, path, buckets = 4)
    val rebuilt = Files.createTempDirectory("mfst").toString + "/idx"
    Vocabulary.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", rebuilt, buckets = 4)
    assert(bm25Serve(path) == bm25Serve(rebuilt),
      "post-crash compaction diverged from a clean rebuild")
    // GC: the crashed commit's stage dir is TTL-protected while fresh
    // (it could be a concurrent builder mid-build); age it out and the
    // next GC reaps it, leaving exactly the retained lineage
    new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("stage-"))
      .foreach(ageTree)
    IndexManifest.gc(path)
    val vdirs = rootDirs(path)
    assert(vdirs == IndexManifest.history(path).toSet,
      s"GC left dirs outside the retained lineage: $vdirs")
  }

  test("bm25 append crash publishes neither delta postings nor merged " +
      "stats (no postings-under-stale-stats state)") {
    val docs = corpus
    val path = Files.createTempDirectory("mfst").toString + "/idx"
    Vocabulary.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", path, buckets = 4)
    val pre = bm25Serve(path)
    failNextCommit(path)
    try {
      intercept[RuntimeException] {
        Vocabulary.appendBm25Index(docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", path, buckets = 4)
      }
    } finally disarm()
    assert(bm25Serve(path) == pre,
      "a crashed append changed the served index")
    // the retry lands the full merge
    Vocabulary.appendBm25Index(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", path, buckets = 4)
    val full = Files.createTempDirectory("mfst").toString + "/idx"
    Vocabulary.writeBm25Index(docs, "doc_id", "text", full, buckets = 4)
    assert(bm25Serve(path) == bm25Serve(full))
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

  test("lsh compaction crash: the index path never stops serving and " +
      "never serves a mixture") {
    val df = vecs
    val path = Files.createTempDirectory("mfst").toString + "/idx"
    Similarity.writeLshIndex(Similarity.multiTableIndex(df, "vec", "id",
      dim = 8, bits = 4, tables = 4), path, groups = 8)
    Similarity.deleteFromLshIndex(df.filter(col("id") < 3), "id", path)
    val pre = annServe(path)
    failNextCommit(path)
    try {
      intercept[RuntimeException] {
        Similarity.compactLshIndex(spark, path)
      }
    } finally disarm()
    // under the old two-rename swap this window had NO index at
    // `path` at all; now the committed version serves throughout
    assert(annServe(path) == pre)
    Similarity.compactLshIndex(spark, path)
    val fresh = Files.createTempDirectory("mfst").toString + "/idx"
    Similarity.writeLshIndex(Similarity.multiTableIndex(
      df.filter(col("id") >= 3), "vec", "id", dim = 8, bits = 4,
      tables = 4), fresh, groups = 8)
    assert(annServe(path) == annServe(fresh))
  }

  test("a half-staged version dir is invisible to readers, protected " +
      "from GC while fresh, and reaped once abandoned past the TTL") {
    val df = vecs
    val path = Files.createTempDirectory("mfst").toString + "/idx"
    Similarity.writeLshIndex(Similarity.multiTableIndex(df, "vec", "id",
      dim = 8, bits = 4, tables = 4), path, groups = 8)
    val pre = annServe(path)
    // simulate a crash mid-staging: an abandoned stage dir with a
    // torn artifact inside
    val (_, staged) = IndexManifest.stage(path)
    Files.writeString(java.nio.file.Paths
      .get(staged, "data"), "torn bytes"): Unit
    assert(annServe(path) == pre, "a staged dir leaked into reads")
    val stageName = new java.io.File(staged).getName
    // a commit while the stage is FRESH must NOT reap it — it could be
    // a concurrent builder mid-build (the writer-concurrency contract)
    Similarity.deleteFromLshIndex(df.filter(col("id") === 0), "id", path)
    val midDirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(midDirs.contains(stageName),
      s"a fresh stage dir was reaped under a (possible) live builder: $midDirs")
    // age the whole stage tree past the TTL: the next commit reaps it
    ageTree(new java.io.File(staged))
    Similarity.deleteFromLshIndex(df.filter(col("id") === 1), "id", path)
    val vdirs = rootDirs(path)
    assert(!vdirs.contains(stageName),
      s"abandoned stage dir survived GC past its TTL: $vdirs")
    assert(vdirs == IndexManifest.history(path).toSet,
      s"GC left dirs outside the retained lineage: $vdirs")
  }

  test("gc with a STALE heartbeat falls back to the tree walk: a build " +
      "whose artifact writes outlast the TTL is not reaped mid-build") {
    val df = vecs
    val path = Files.createTempDirectory("hbstale").toString + "/idx"
    Similarity.writeLshIndex(Similarity.multiTableIndex(df, "vec", "id",
      dim = 8, bits = 4, tables = 4), path, groups = 8)
    val (_, staged) = IndexManifest.stage(path)
    val stageName = new java.io.File(staged).getName
    // the long build never called touchStage after stage(): age the
    // heartbeat — BOTH channels, the mtime and the wall-clock stamp
    // touchStage writes as content — and the dir past the TTL, but
    // keep one freshly-written artifact file — the tree walk must
    // find it and keep the stage
    val old = System.currentTimeMillis() - IndexManifest.StageTtlMs - 60000
    Files.writeString(java.nio.file.Paths.get(staged,
      IndexManifest.ActivityFile), old.toString): Unit
    assert(new java.io.File(staged, IndexManifest.ActivityFile)
      .setLastModified(old))
    assert(new java.io.File(staged).setLastModified(old))
    Files.writeString(java.nio.file.Paths.get(staged, "part-0"),
      "fresh artifact bytes"): Unit
    Similarity.deleteFromLshIndex(df.filter(col("id") === 0), "id", path)
    assert(new java.io.File(staged).isDirectory,
      "gc reaped a stage whose TREE was fresh but heartbeat stale")
    // once the whole tree is idle past the TTL, the next commit reaps
    ageTree(new java.io.File(staged))
    Similarity.deleteFromLshIndex(df.filter(col("id") === 1), "id", path)
    assert(!new java.io.File(staged).exists(),
      s"fully-idle stage $stageName survived GC past its TTL")
  }

  test("freshForLayout wipes a mismatched root even when no commit " +
      "ever landed (crashed first build leaves LAYOUT + stage dirs)") {
    val root = Files.createTempDirectory("orphan").toString + "/idx"
    // simulate a crashed first build under layout=listing: LAYOUT
    // pinned, a stage dir with bytes, but NO committed pointer
    IndexManifest.withLayout(IndexManifest.ListingLayout) {
      val (_, staged) = IndexManifest.stage(root)
      Files.writeString(java.nio.file.Paths.get(staged, "data"),
        "half-built"): Unit
    }
    assert(IndexManifest.layoutOf(root) == IndexManifest.ListingLayout)
    assert(!IndexManifest.exists(root))
    // a later session under the link default must NOT rebuild onto the
    // root and silently inherit the stale listing LAYOUT
    assert(!IndexManifest.freshForLayout(root))
    assert(!new java.io.File(root).exists(),
      "orphaned mismatched-layout root was not wiped")
    // the rebuild then pins the session layout
    val (v, d) = IndexManifest.stage(root)
    Files.writeString(java.nio.file.Paths.get(d, "data"), "rebuilt"): Unit
    IndexManifest.commit(root, v): Unit
    assert(IndexManifest.layoutOf(root) == IndexManifest.LinkLayout)
    assert(IndexManifest.freshForLayout(root))
  }

  test("withLayout is thread-scoped: a concurrent thread's stage() " +
      "inside another thread's listing window still pins the default") {
    val inWindow = new java.util.concurrent.CountDownLatch(1)
    val mainDone = new java.util.concurrent.CountDownLatch(1)
    val rootA = Files.createTempDirectory("tlayA").toString + "/idx"
    val rootB = Files.createTempDirectory("tlayB").toString + "/idx"
    @volatile var err: Throwable = null
    val t = new Thread(() => {
      try IndexManifest.withLayout(IndexManifest.ListingLayout) {
        IndexManifest.stage(rootA): Unit // pins listing for THIS thread
        inWindow.countDown()
        // hold the window open while the main thread stages rootB
        assert(mainDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      } catch { case x: Throwable => err = x }
    })
    t.start()
    assert(inWindow.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      // a global-mutable override would leak `listing` in here
      IndexManifest.stage(rootB): Unit
      assert(IndexManifest.layoutOf(rootB) == IndexManifest.LinkLayout,
        "another thread's withLayout window leaked into this thread")
      assert(IndexManifest.layoutOf(rootA) == IndexManifest.ListingLayout)
    } finally mainDone.countDown()
    t.join(30000)
    assert(err == null, s"listing-window thread failed: $err")
  }

  test("a reader resolved against the previous version completes " +
      "correctly after a concurrent commit") {
    val df = vecs
    val path = Files.createTempDirectory("mfst").toString + "/idx"
    Similarity.writeLshIndex(Similarity.multiTableIndex(df, "vec", "id",
      dim = 8, bits = 4, tables = 4), path, groups = 8)
    val expect = annServe(path)
    // the reader resolves the pointer NOW (readLshIndex is lazy — no
    // file is opened until the collect below) …
    val inFlight = Similarity.readLshIndex(spark, path)
    val resolvedAt = IndexManifest.current(path).get
    // … then a writer commits a new version underneath it
    Similarity.deleteFromLshIndex(df.filter(col("id") < 100), "id", path)
    assert(IndexManifest.current(path).get != resolvedAt)
    // the superseded version's files are retained, so the in-flight
    // scan completes against the snapshot it resolved — full pre-state
    // row count, none of the 100 deletions visible
    assert(inFlight.count() == df.count() * 4,
      "concurrent commit broke an in-flight reader (files GC'd)")
    // a FRESH read resolves the new version
    val fresh = annServe(path)
    assert(fresh.forall(_._1 >= 100), s"stale serve after commit: $fresh")
    assert(expect.nonEmpty)
  }

  test("expireVersions, not commit, reclaims superseded storage") {
    val df = vecs
    val path = Files.createTempDirectory("mfst").toString + "/idx"
    Similarity.writeLshIndex(Similarity.multiTableIndex(df, "vec", "id",
      dim = 8, bits = 4, tables = 4), path, groups = 8)
    Similarity.deleteFromLshIndex(df.filter(col("id") === 7), "id", path)
    val pre = annServe(path)
    val h = IndexManifest.history(path)
    assert(h.size == 2, s"commit should retain the superseded version: $h")
    def vdirs = rootDirs(path)
    assert(vdirs == h.toSet)
    IndexManifest.expireVersions(path, keep = 1)
    assert(IndexManifest.history(path) == Seq(h.head),
      "expiry must keep the current version")
    assert(vdirs == Set(h.head), s"expiry left superseded dirs: $vdirs")
    assert(annServe(path) == pre, "expiry changed the served index")
  }

  test("caller-chosen retain widens the reader window: three commits " +
      "at retain=3 keep all three generations; default keeps two") {
    val path = Files.createTempDirectory("mfst").toString + "/idx"
    def mutate(retain: Int): String = {
      val (v, dir) = IndexManifest.stage(path)
      Files.writeString(java.nio.file.Paths.get(dir, "data"), v)
      IndexManifest.commit(path, v, retain = retain)
      v
    }
    def vdirs = rootDirs(path)
    // a lazy reader that resolved v1 survives TWO subsequent commits
    // when the writer declares the wider window …
    val v1 = mutate(retain = 3); val v2 = mutate(retain = 3)
    val v3 = mutate(retain = 3)
    assert(IndexManifest.history(path) == Seq(v3, v2, v1),
      "retain=3 must keep all three generations, newest first")
    assert(vdirs == Set(v1, v2, v3), s"GC broke the widened window: $vdirs")
    assert(Files.readString(
      java.nio.file.Paths.get(path, v1, "data")) == v1,
      "the oldest retained generation's files must still be readable")
    // … and the next DEFAULT commit shrinks back to current + 1
    val v4 = mutate(retain = IndexManifest.RetainVersions)
    assert(IndexManifest.history(path) == Seq(v4, v3))
    assert(vdirs == Set(v3, v4), s"default retain left extras: $vdirs")
    // retain is floored at 1 (current must always survive)
    val v5 = mutate(retain = 0)
    assert(IndexManifest.history(path) == Seq(v5))
    assert(vdirs == Set(v5))
    assert(IndexManifest.currentDir(path).endsWith(v5))
  }
}
