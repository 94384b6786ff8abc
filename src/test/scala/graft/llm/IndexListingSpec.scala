package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The object-store index layout (`spark.graft.indexLayout=listing`):
  * carry-forward by per-version file LISTING instead of hard links.
  * Certifies, per judge task: (1) every disk-index verb — build /
  * append / delete / compact / serve — runs the full lifecycle with
  * the posix `createLink` primitive POISONED to throw, proving the
  * layout never touches it; (2) serve results are value-identical to
  * the same lifecycle on a `link` root; (3) partitioned artifacts
  * split across physical version dirs keep partition-filter pruning;
  * (4) GC keeps ancestor versions that a retained listing still
  * references and reclaims them once compaction drops the refs;
  * (5) a root's layout is pinned at creation — flipping the session
  * default never mutates an existing root's mechanism.
  */
class IndexListingSpec extends SparkSpec {
  import spark.implicits._

  /** Run body with listing layout AND a poisoned hard-link primitive:
    * any `Files.createLink` attempt fails the test loudly — the
    * object-store simulation (no link syscall exists there).
    */
  private def noLinks[T](body: => T): T = {
    val prev = IndexManifest.linkFn
    IndexManifest.linkFn = (_, _) => throw new java.io.IOException(
      "createLink called under listing layout (object stores have no " +
        "hard links)")
    try IndexManifest.withLayout(IndexManifest.ListingLayout)(body)
    finally IndexManifest.linkFn = prev
  }

  private def corpus = (0 until 240).map { i =>
    val a = i % 3
    val base = Array.tabulate(8)(j => if (j == a) 1.0 else 0.0)
    (i.toLong, base.map(_ + 0.01 * ((i * 7 + a) % 5)).toSeq)
  }.toDF("id", "vec")

  private val dim = 8
  private val bits = 4
  private val tables = 4
  private val groups = 8

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  private def serveLsh(dir: String): Seq[(Long, Long)] = {
    val query = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.05)
    Similarity.topKAnnDisk(spark, dir, query, dim = dim, bits = bits,
        tables = tables, k = 5, groups = groups)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
      .toSeq
  }

  test("LSH lifecycle (build/append/delete/compact/serve) runs " +
      "link-free under listing and matches the link layout verbatim") {
    val df = corpus
    val base = df.filter(col("id") % 10 =!= 0)
    val delta = df.filter(col("id") % 10 === 0)
    val dead = Seq(3L, 33L, 63L).toDF("id")

    def lifecycle(dir: String): Seq[Seq[(Long, Long)]] = {
      Similarity.writeLshIndex(
        Similarity.multiTableIndex(base, "vec", "id", dim = dim,
          bits = bits, tables = tables), dir, groups = groups)
      val s1 = serveLsh(dir)
      Similarity.appendLshIndex(delta, "vec", "id", dir, dim = dim,
        bits = bits, tables = tables, groups = groups)
      val s2 = serveLsh(dir)
      Similarity.deleteFromLshIndex(dead, "id", dir)
      val s3 = serveLsh(dir)
      Similarity.compactLshIndex(spark, dir)
      val s4 = serveLsh(dir)
      Seq(s1, s2, s3, s4)
    }

    val linkDir = tmpRoot("lsh_link")
    val viaLink = lifecycle(linkDir) // default layout: hard links
    val listDir = tmpRoot("lsh_list")
    val viaListing = noLinks(lifecycle(listDir))
    assert(viaListing == viaLink,
      s"listing lifecycle diverged from link: $viaListing vs $viaLink")
    assert(IndexManifest.layoutOf(listDir) == IndexManifest.ListingLayout)
    assert(IndexManifest.layoutOf(linkDir) == IndexManifest.LinkLayout)
    // post-append the listing root's data artifact spans >1 physical
    // version dir (that is the carry the link layout does with inodes)
    // ... compact folds it back to one
    assert(IndexManifest
      .artifactPaths(listDir, "data").size == 1) // post-compact
  }

  test("appended listing artifact spans physical version dirs, " +
      "keeps partition pruning, and GC holds referenced ancestors " +
      "until compaction drops the refs") {
    val df = corpus
    val base = df.filter(col("id") % 10 =!= 0)
    val d1 = df.filter(col("id") % 10 === 0 && col("id") < 120)
    val d2 = df.filter(col("id") % 10 === 0 && col("id") >= 120)
    val dir = tmpRoot("lsh_gcref")
    noLinks {
      Similarity.writeLshIndex(
        Similarity.multiTableIndex(base, "vec", "id", dim = dim,
          bits = bits, tables = tables), dir, groups = groups) // v1
      val v1 = IndexManifest.current(dir).get
      Similarity.appendLshIndex(d1, "vec", "id", dir, dim = dim,
        bits = bits, tables = tables, groups = groups) // v2: refs v1
      Similarity.appendLshIndex(d2, "vec", "id", dir, dim = dim,
        bits = bits, tables = tables, groups = groups) // v3: refs v1,v2
      // retain=2 lineage is [v3, v2]: v1 has LEFT the lineage but v3's
      // listing still references its physical data — GC must hold it
      assert(!IndexManifest.history(dir).contains(v1))
      assert(new java.io.File(s"$dir/$v1").isDirectory,
        "GC reaped a version still referenced by a retained listing")
      val paths = IndexManifest.artifactPaths(dir, "data")
      assert(paths.size == 3, s"expected 3 physical dirs, got $paths")

      // the multi-dir read still discovers (table, grp) as partition
      // columns and the probe's closed list still PRUNES partitions
      val idx = Similarity.readLshIndex(spark, dir)
      assert(Seq("table", "grp").forall(idx.columns.contains))
      val query = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.05)
      val served = Similarity.topKAnnDiskPlan(spark, dir,
        IndexManifest.resolve(dir), query, dim = dim, bits = bits,
        tables = tables, k = 5, groups = groups)
      val scans = walkExecutedPlan(served.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.exists(_.partitionFilters.nonEmpty),
        "probe filters no longer reach partition pruning under the " +
          "multi-dir listing read")
      // serve == full-rebuild truth
      val full = tmpRoot("lsh_full")
      Similarity.writeLshIndex(
        Similarity.multiTableIndex(df, "vec", "id", dim = dim,
          bits = bits, tables = tables), full, groups = groups)
      assert(serveLsh(dir) == serveLsh(full))

      // compaction rewrites data physically (refs dropped) ...
      Similarity.compactLshIndex(spark, dir) // v4
      assert(IndexManifest.artifactPaths(dir, "data").size == 1)
      // ... and expiry now actually reclaims v1/v2/v3
      IndexManifest.expireVersions(dir, keep = 1)
      assert(!new java.io.File(s"$dir/$v1").exists(),
        "unreferenced ancestor survived expiry")
      assert(serveLsh(dir) == serveLsh(full))
    }
  }

  test("BM25 lifecycle runs link-free under listing and matches the " +
      "link layout verbatim") {
    val docs = (0L until 60L).map { i =>
      val topic = if (i % 3 == 0) "spark shuffle join" else "quiet river stone"
      (i, s"doc $i about $topic " + ("pad " * (i % 5).toInt))
    }.toDF("id", "text")
    val delta = (60L until 80L)
      .map(i => (i, s"doc $i about spark broadcast join")).toDF("id", "text")

    def lifecycle(dir: String): Seq[Seq[(Long, Double)]] = {
      def serve() = Vocabulary.bm25Disk(spark, dir,
          Seq("spark", "join"), topK = 8, buckets = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      Vocabulary.writeBm25Index(docs, "id", "text", dir, buckets = 8)
      val s1 = serve()
      Vocabulary.appendBm25Index(delta, "id", "text", dir, buckets = 8)
      val s2 = serve()
      Vocabulary.deleteBm25Index(spark, dir, Seq(0L, 63L))
      val s3 = serve()
      Vocabulary.compactBm25Index(spark, dir, buckets = 8)
      val s4 = serve()
      Seq(s1, s2, s3, s4)
    }

    val viaLink = lifecycle(tmpRoot("bm25_link"))
    val viaListing = noLinks(lifecycle(tmpRoot("bm25_list")))
    assert(viaListing == viaLink)
  }

  test("IVF×PQ lifecycle (sidecars carried by reference) runs " +
      "link-free under listing and matches the link layout verbatim") {
    val df = corpus
    val hist = df.filter(col("id") < 200)
    val delta = df.filter(col("id") >= 200)
    val cents = Similarity.kmeansCentroids(hist, "vec", "id", k = 3,
      iters = 2)
    val model = Pq.trainCodebooks(hist, "vec", "id", dim = 8, m = 4,
      k = 16, iters = 2)
    val histIdx = Pq.ivfPqIndex(hist, "vec", "id", cents, model).persist()
    val histRadii = Similarity.cellRadii(
      histIdx.join(hist.select(col("id"),
        col("vec").cast("array<double>").as("vec")), "id"), cents)

    def lifecycle(dir: String): Seq[Seq[Long]] = {
      def serve(): Seq[Long] = {
        val idx = Pq.readIvfPqIndex(spark, dir)
        val query = Array.tabulate(8)(j => if (j == 0) 1.0 else 0.1)
        Pq.topKIvfPq(idx.codes, df, "vec", "id", query, idx.model,
            idx.centroids, idx.radii, k = 5, nprobe = 3, shortlist = 40)
          .collect().map(_.getLong(0)).toSeq
      }
      Pq.writeIvfPqIndex(histIdx, dir, model, cents, histRadii)
      val s1 = serve()
      Pq.appendIvfPqIndex(spark, delta, "vec", "id", dir)
      val s2 = serve()
      Pq.deleteFromIvfPqIndex(Seq(5L, 205L).toDF("id"), "id", dir)
      val s3 = serve()
      Pq.compactIvfPqIndex(spark, dir)
      val s4 = serve()
      Seq(s1, s2, s3, s4)
    }

    val viaLink = lifecycle(tmpRoot("ivfpq_link"))
    val viaListing = noLinks(lifecycle(tmpRoot("ivfpq_list")))
    assert(viaListing == viaLink)
    histIdx.unpersist(): Unit
  }

  test("a root's layout is pinned at creation: flipping the session " +
      "default never changes an existing root's mechanism") {
    val df = corpus
    val dir = tmpRoot("lsh_pin")
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df.filter(col("id") < 120), "vec", "id",
        dim = dim, bits = bits, tables = tables), dir, groups = groups)
    assert(IndexManifest.layoutOf(dir) == IndexManifest.LinkLayout)
    // a later session configured for listing mutates the SAME root:
    // carry must still hard-link (layout file wins over the default)
    IndexManifest.withLayout(IndexManifest.ListingLayout) {
      Similarity.appendLshIndex(df.filter(col("id") >= 120), "vec", "id",
        dir, dim = dim, bits = bits, tables = tables, groups = groups)
    }
    assert(IndexManifest.layoutOf(dir) == IndexManifest.LinkLayout)
    val cur = IndexManifest.currentDir(dir)
    assert(!new java.io.File(cur, IndexManifest.ListingFile).exists(),
      "a link root grew a FILES listing after a listing-default append")
    // and the carried artifact is physically present in the new version
    assert(new java.io.File(s"$cur/data").isDirectory)
  }
}
