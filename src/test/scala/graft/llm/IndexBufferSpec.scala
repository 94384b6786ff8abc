package graft.llm

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkSpec

import ManifestHooks.withFailpoint

/** The driver-side index buffer that serves small committed LSH and
  * BM25 versions without a Spark job:
  *
  *   - differential: over seeded random indexes taken through build →
  *     append → delete → compact, on both carry layouts, a buffered
  *     read returns the Spark plan's schema, ids and (bit-equal ANN,
  *     equal BM25) scores;
  *   - one version per read: a compaction, or an append and a delete,
  *     committed between a read's pointer resolution and its artifact
  *     reads never change what the read serves, on the buffer path and
  *     on the Spark plan;
  *   - heap bound: one decoded version per root, whatever the commit
  *     count;
  *   - pins: a decode that races two commits and GC still answers from
  *     the version it pinned, and a pinned version survives commits and
  *     an expiry at every failpoint of a read until its pin is released;
  *   - a read whose unpinned version two commits reap before the lookup
  *     resolves again, a bounded number of times;
  *   - keys: a root wiped and rebuilt (its version names restart) never
  *     serves the old root's decode;
  *   - budget: counted in decoded bytes, checked against the measured
  *     object graph, and a version near it decodes in a small heap.
  *
  * Interleavings come from the manifest's `failpoint` (its `resolve:`
  * and `decode:` points), never from sleeps.
  */
class IndexBufferSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val bits = 4
  private val tables = 4
  private val buildGroups = 4

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  /** Runs `body` once per carry layout, on a fresh root pinned to it. */
  private def layouts[T](tag: String)(body: String => T): Unit =
    Seq(IndexManifest.LinkLayout, IndexManifest.ListingLayout).foreach { l =>
      val dir = tmpRoot(tag)
      IndexManifest.pinLayout(dir, l)
      body(dir)
    }

  /** Clustered random vectors; the first id gets the zero vector. */
  private def vectors(seed: Long, ids: Range): DataFrame = {
    val r = new scala.util.Random(seed)
    val centres = Array.fill(4)(Array.fill(dim)(r.nextGaussian()))
    ids.map { i =>
      val v =
        if (i == ids.start) Seq.fill(dim)(0.0)
        else centres(r.nextInt(4)).toSeq.map(_ + 0.3 * r.nextGaussian())
      (i.toLong, v)
    }.toDF("id", "vec")
  }

  private def ann(dir: String, q: Array[Double], probe: Int = 1,
      groups: Int = buildGroups, k: Int = 10): DataFrame =
    Similarity.topKAnnDisk(spark, dir, q, dim, bits, tables, k, probe, groups)

  private def annPlan(dir: String, version: String, q: Array[Double],
      probe: Int = 1, groups: Int = buildGroups, k: Int = 10): DataFrame =
    Similarity.topKAnnDiskPlan(spark, dir, version, q, dim, bits, tables, k,
      probe, groups)

  /** Ids and raw score bits (None = null score), in served order. */
  private def annKey(df: DataFrame): Seq[(Long, Option[Long])] =
    df.collect().toSeq.map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    }

  private def assertBuffered(df: DataFrame, dir: String): Unit = {
    assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"not served from the buffer:\n${df.queryExecution.analyzed}")
    assert(IndexBuffer.versionsHeld(dir) == Seq(IndexManifest.current(dir).get))
  }

  private def checkAnn(dir: String, queries: Seq[Array[Double]]): Unit = {
    val v = IndexManifest.current(dir).get
    for (q <- queries; (probe, groups) <- Seq((0, buildGroups), (1, 8),
        (2, buildGroups))) {
      val served = ann(dir, q, probe, groups)
      val plan = annPlan(dir, v, q, probe, groups)
      assertBuffered(served, dir)
      assert(served.schema == plan.schema)
      assert(annKey(served) == annKey(plan),
        s"probe=$probe groups=$groups version=$v")
    }
  }

  test("differential: buffered ANN reads equal the Spark plan through " +
      "build, append, delete and compact, on both layouts") {
    Seq(11L, 12L).foreach { seed =>
      layouts("buf_lsh") { dir =>
        val r = new scala.util.Random(seed)
        val base = vectors(seed, 0 until 160)
        Similarity.writeLshIndex(Similarity.multiTableIndex(base, "vec",
          "id", dim, bits, tables), dir, buildGroups)
        val queries = Seq(Array.fill(dim)(r.nextGaussian()),
          base.filter($"id" === 7).head().getSeq[Double](1).toArray,
          Array.fill(dim)(0.0))
        checkAnn(dir, queries)
        Similarity.appendLshIndex(vectors(seed + 100, 160 until 200), "vec",
          "id", dir, dim, bits, tables, buildGroups)
        checkAnn(dir, queries)
        Similarity.deleteFromLshIndex(
          (Seq(0L, 7L, 170L) ++ Seq.fill(12)(r.nextInt(200).toLong)).toDF("id"),
          "id", dir)
        checkAnn(dir, queries)
        Similarity.compactLshIndex(spark, dir)
        checkAnn(dir, queries)
      }
    }
  }

  private val words = Vector.tabulate(30)(i => s"w$i")

  private def docs(seed: Long, ids: Range): DataFrame = {
    val r = new scala.util.Random(seed)
    ids.map { i =>
      // a heavy head of common words and a long tail
      (i.toLong, Seq.fill(4 + r.nextInt(10))(
        words(math.min((math.pow(30, r.nextDouble()) - 1).toInt, 29)))
        .mkString(" "))
    }.toDF("id", "text")
  }

  private def bm25Key(df: DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private def checkBm25(dir: String, termSets: Seq[Seq[String]]): Unit = {
    val v = IndexManifest.current(dir).get
    for (terms <- termSets; buckets <- Seq(4, 8)) {
      val served = Vocabulary.bm25Disk(spark, dir, terms, topK = 10,
        buckets = buckets)
      val plan = Vocabulary.bm25DiskPlan(spark, dir, v, terms, topK = 10,
        buckets = buckets)
      assertBuffered(served, dir)
      assert(served.schema == plan.schema)
      assert(bm25Key(served) == bm25Key(plan),
        s"terms=$terms buckets=$buckets version=$v")
    }
  }

  test("differential: buffered BM25 reads equal the Spark plan through " +
      "build, append, delete (down to every doc) and compact, on both " +
      "layouts") {
    layouts("buf_bm25") { dir =>
      val r = new scala.util.Random(5)
      val termSets = Seq(Seq("w0", "w3", "w17"), Seq("w1", "missing"),
        Seq.fill(3)(words(r.nextInt(30))), Seq("w2", "w2", "w9"))
      Vocabulary.writeBm25Index(docs(5, 0 until 80), "id", "text", dir, 4)
      checkBm25(dir, termSets)
      Vocabulary.appendBm25Index(docs(6, 80 until 100), "id", "text", dir, 4)
      checkBm25(dir, termSets)
      Vocabulary.deleteBm25Index(spark, dir,
        Seq(0L, 81L) ++ Seq.fill(10)(r.nextInt(100).toLong))
      checkBm25(dir, termSets)
      Vocabulary.compactBm25Index(spark, dir, 4)
      checkBm25(dir, termSets)
      Vocabulary.deleteBm25Index(spark, dir, (0L until 100L))
      checkBm25(dir, termSets)
      assert(Vocabulary.bm25Disk(spark, dir, Seq("w0")).isEmpty)
      Vocabulary.compactBm25Index(spark, dir, 4)
      checkBm25(dir, termSets)
    }
  }

  test("a compaction committed between a read's resolution and its " +
      "artifact reads never serves a deleted id, buffered or planned") {
    Seq(false, true).foreach { planned =>
      val dir = tmpRoot("buf_resolve")
      val base = vectors(21, 0 until 160)
      Similarity.writeLshIndex(Similarity.multiTableIndex(base, "vec", "id",
        dim, bits, tables), dir, buildGroups)
      val q = base.filter($"id" === 9).head().getSeq[Double](1).toArray
      // delete the query's own nearest neighbours: tombstones pending
      val dead = annKey(ann(dir, q)).map(_._1).take(5)
      Similarity.deleteFromLshIndex(dead.toDF("id"), "id", dir)
      val resolved = IndexManifest.current(dir).get
      var fired = false
      val served = withFailpoint { point =>
        if (point == s"resolve:$dir" && !fired) {
          fired = true
          Similarity.compactLshIndex(spark, dir)
        }
      } {
        // the plan builder reads the version this resolution returns,
        // as topKAnnDisk does when the version is over the budget
        if (planned) annPlan(dir, IndexManifest.resolve(dir), q)
        else ann(dir, q)
      }
      assert(fired)
      assert(IndexManifest.current(dir).get != resolved,
        "the compaction did not commit inside the read")
      assert(planned != served.queryExecution.analyzed
        .isInstanceOf[LocalRelation])
      val ids = annKey(served).map(_._1)
      assert(ids.nonEmpty && ids.intersect(dead).isEmpty,
        s"deleted ids served (planned=$planned): ${ids.intersect(dead)}")
    }
  }

  test("an append and a delete committed between a read's resolution " +
      "and its artifact reads leave the read serving exactly the " +
      "version it resolved, buffered or planned") {
    Seq(false, true).foreach { planned =>
      val dir = tmpRoot("buf_beside")
      val base = vectors(51, 0 until 160)
      Similarity.writeLshIndex(Similarity.multiTableIndex(base, "vec", "id",
        dim, bits, tables), dir, buildGroups)
      val q = base.filter($"id" === 5).head().getSeq[Double](1).toArray
      val v1 = IndexManifest.current(dir).get
      val expected = annKey(annPlan(dir, v1, q))
      // the append lands copies of the query (they would top the
      // answer); the delete tombstones the query's nearest neighbours
      // (they would leave it)
      val near = (1000L until 1005L).map(i => (i, q.toSeq)).toDF("id", "vec")
      val dead = expected.map(_._1).take(5)
      // two commits push v1 out of the retained lineage: the caller
      // holds a pin across the read, as a read beside a chain must
      val served = IndexManifest.withPin(dir) { pin =>
        assert(pin.version == v1)
        var fired = false
        withFailpoint { point =>
          if (point == s"resolve:$dir" && !fired) {
            fired = true
            Similarity.appendLshIndex(near, "vec", "id", dir, dim, bits,
              tables, buildGroups)
            Similarity.deleteFromLshIndex(dead.toDF("id"), "id", dir)
          }
        } {
          val df =
            if (planned) annPlan(dir, IndexManifest.resolve(dir), q)
            else ann(dir, q)
          assert(fired)
          assert(planned != df.queryExecution.analyzed
            .isInstanceOf[LocalRelation])
          annKey(df)
        }
      }
      assert(IndexManifest.history(dir).size == 2 &&
        !IndexManifest.history(dir).contains(v1),
        "the append and the delete did not both commit inside the read")
      assert(served == expected,
        s"the read did not serve the version it resolved (planned=$planned)")
      // the committed versions answer differently: the check has teeth
      assert(annKey(ann(dir, q)) != expected)
    }
  }

  test("a buffered read whose version an append and a delete reap " +
      "before the lookup, with no pin held, serves the new current; a " +
      "root that moves at every resolution fails with the lineage error") {
    val dir = tmpRoot("buf_reaped")
    val base = vectors(61, 0 until 160)
    Similarity.writeLshIndex(Similarity.multiTableIndex(base, "vec", "id",
      dim, bits, tables), dir, buildGroups)
    val q = base.filter($"id" === 5).head().getSeq[Double](1).toArray
    val v1 = IndexManifest.current(dir).get
    val near = (1000L until 1005L).map(i => (i, q.toSeq)).toDF("id", "vec")
    val dead = annKey(annPlan(dir, v1, q)).map(_._1).take(5)
    var resolves = 0
    val served = withFailpoint { point =>
      if (point == s"resolve:$dir") {
        resolves += 1
        if (resolves == 1) {
          Similarity.appendLshIndex(near, "vec", "id", dir, dim, bits,
            tables, buildGroups)
          Similarity.deleteFromLshIndex(dead.toDF("id"), "id", dir)
        }
      }
    } {
      ann(dir, q)
    }
    assert(!new java.io.File(s"$dir/$v1").exists(),
      "the append and the delete did not reap v1 inside the read")
    assert(resolves == 2, s"the read resolved $resolves times")
    assertBuffered(served, dir)
    assert(annKey(served) ==
      annKey(annPlan(dir, IndexManifest.current(dir).get, q)))
    // two empty commits at every resolution: the read gives up
    var moves = 0
    val err = intercept[IllegalStateException] {
      withFailpoint { point =>
        if (point == s"resolve:$dir") {
          moves += 1
          (0 until 2).foreach { _ =>
            IndexManifest.commit(dir, IndexManifest.stage(dir)._1): Unit
          }
        }
      } {
        ann(dir, q)
      }
    }
    assert(moves == IndexManifest.PinAcquireAttempts)
    assert(err.getMessage.contains("left the retained lineage"),
      err.getMessage)
  }

  test("GC under pins: two commits and an expiry at each failpoint of a " +
      "pinned read leave the pinned version readable until release, " +
      "and reaped after it") {
    Seq("resolve", "pin-pre-write", "decode").foreach { at =>
      val dir = tmpRoot("buf_gc_pin")
      val base = vectors(71, 0 until 160)
      Similarity.writeLshIndex(Similarity.multiTableIndex(base, "vec", "id",
        dim, bits, tables), dir, buildGroups)
      val q = base.filter($"id" === 7).head().getSeq[Double](1).toArray
      val v1 = IndexManifest.current(dir).get
      val expected = annKey(annPlan(dir, v1, q))
      val near = (1000L until 1005L).map(i => (i, q.toSeq)).toDF("id", "vec")
      // the writer runs on its own thread: at `pin-pre-write:` the read
      // holds the commit lock, so the commits land once the pin is
      // written, and the read waits for them at `decode:`
      @volatile var err: Throwable = null
      val writer = new Thread(() =>
        try {
          Similarity.appendLshIndex(near, "vec", "id", dir, dim, bits,
            tables, buildGroups)
          Similarity.deleteFromLshIndex(expected.take(5).map(_._1)
            .toDF("id"), "id", dir)
          IndexManifest.expireVersions(dir, keep = 1)
        } catch { case t: Throwable => err = t })
      val served = IndexManifest.withPin(dir) { pin =>
        assert(pin.version == v1)
        val got = withFailpoint { point =>
          if (point == s"$at:$dir" && writer.getState == Thread.State.NEW) {
            writer.start()
            if (at != "pin-pre-write") writer.join()
          }
          if (point == s"decode:$dir") writer.join()
        } {
          annKey(ann(dir, q))
        }
        assert(err == null, s"the writer failed at $at: $err")
        assert(!IndexManifest.history(dir).contains(v1),
          s"the commits at $at: left $v1 in the lineage")
        assert(new java.io.File(s"$dir/$v1").isDirectory,
          s"GC reaped the pinned $v1 at $at:")
        got
      }
      assert(served == expected, s"the read at $at: did not serve $v1")
      IndexManifest.expireVersions(dir, keep = 1)
      assert(!new java.io.File(s"$dir/$v1").exists(),
        s"$v1 outlived its pins at $at:")
    }
  }

  test("the buffer holds one decoded version per root across commits") {
    val lsh = tmpRoot("buf_heap_lsh")
    val bm = tmpRoot("buf_heap_bm25")
    Similarity.writeLshIndex(Similarity.multiTableIndex(
      vectors(31, 0 until 100), "vec", "id", dim, bits, tables), lsh,
      buildGroups)
    Vocabulary.writeBm25Index(docs(31, 0 until 40), "id", "text", bm, 4)
    val q = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.1)
    (0 until 4).foreach { i =>
      ann(lsh, q).collect()
      Vocabulary.bm25Disk(spark, bm, Seq("w0", "w1"), buckets = 4).collect()
      assert(IndexBuffer.versionsHeld(lsh) == Seq(IndexManifest.current(lsh).get))
      assert(IndexBuffer.versionsHeld(bm) == Seq(IndexManifest.current(bm).get))
      Similarity.appendLshIndex(vectors(32 + i, (100 + 10 * i) until (110 + 10 * i)),
        "vec", "id", lsh, dim, bits, tables, buildGroups)
      Vocabulary.appendBm25Index(docs(32 + i, (40 + 5 * i) until (45 + 5 * i)),
        "id", "text", bm, 4)
    }
    assert(IndexManifest.history(lsh).size == 2)
  }

  test("a decode racing two commits and GC answers from the version it " +
      "pinned") {
    val dir = tmpRoot("buf_pin")
    val base = vectors(41, 0 until 160)
    Similarity.writeLshIndex(Similarity.multiTableIndex(base, "vec", "id",
      dim, bits, tables), dir, buildGroups)
    val v1 = IndexManifest.current(dir).get
    val q = base.filter($"id" === 3).head().getSeq[Double](1).toArray
    val expected = annKey(annPlan(dir, v1, q))
    var fired = false
    val served = withFailpoint { point =>
      if (point == s"decode:$dir" && !fired) {
        assert(IndexManifest.pinnedVersions(dir) == Seq(v1))
        fired = true
        Similarity.appendLshIndex(vectors(42, 160 until 200), "vec", "id",
          dir, dim, bits, tables, buildGroups)
        Similarity.deleteFromLshIndex(expected.take(3).map(_._1).toDF("id"),
          "id", dir)
        IndexManifest.expireVersions(dir, keep = 1) // trims and runs gc
        assert(!IndexManifest.history(dir).contains(v1))
      }
    } {
      annKey(ann(dir, q))
    }
    assert(fired)
    assert(served == expected, "the decode did not answer from v1")
    // the pin was released: the next expiry reclaims v1
    IndexManifest.expireVersions(dir, keep = 1)
    assert(!new java.io.File(s"$dir/$v1").exists())
    assert(annKey(ann(dir, q)) != expected)
  }

  test("a root wiped and rebuilt between two reads serves the rebuilt " +
      "index, on posix and file:// roots") {
    Seq("", "file://").foreach { scheme =>
      val lsh = scheme + tmpRoot("buf_wipe_lsh")
      val bm = scheme + tmpRoot("buf_wipe_bm25")
      val q = Array.tabulate(dim)(j => if (j == 1) 1.0 else 0.2)
      def build(seed: Long): Unit = {
        Similarity.writeLshIndex(Similarity.multiTableIndex(
          vectors(seed, 0 until 120), "vec", "id", dim, bits, tables), lsh,
          buildGroups)
        Vocabulary.writeBm25Index(docs(seed, 0 until 60), "id", "text", bm, 4)
      }
      def read(): (Seq[(Long, Option[Long])], Seq[(Long, Double)]) = {
        val a = ann(lsh, q)
        val b = Vocabulary.bm25Disk(spark, bm, Seq("w0", "w4"), topK = 10,
          buckets = 4)
        assertBuffered(a, lsh)
        assertBuffered(b, bm)
        (annKey(a), bm25Key(b))
      }
      build(51)
      val before = read()
      val versions = (IndexManifest.current(lsh), IndexManifest.current(bm))
      Seq(lsh, bm).foreach(r => IndexManifest.ioFor(r).rmTree(r))
      build(52)
      // the rebuild reuses the wiped root's version names
      assert((IndexManifest.current(lsh), IndexManifest.current(bm)) == versions)
      val after = read()
      assert(after._1 == annKey(annPlan(lsh, versions._1.get, q)))
      assert(after._2 == bm25Key(Vocabulary.bm25DiskPlan(spark, bm,
        versions._2.get, Seq("w0", "w4"), topK = 10, buckets = 4)))
      assert(after._1 != before._1 && after._2 != before._2,
        s"the rebuilt $scheme roots served the wiped roots' decodes")
    }
  }

  test("the decode budget counts decoded bytes: a version decodes at " +
      "exactly its counted size and not one byte under") {
    import org.apache.spark.util.SizeEstimator
    val lsh = tmpRoot("buf_budget_lsh")
    val bm = tmpRoot("buf_budget_bm25")
    Similarity.writeLshIndex(Similarity.multiTableIndex(
      vectors(61, 0 until 150), "vec", "id", dim, bits, tables), lsh,
      buildGroups)
    Similarity.deleteFromLshIndex(Seq(3L, 4L).toDF("id"), "id", lsh)
    Vocabulary.writeBm25Index(docs(61, 0 until 70), "id", "text", bm, 4)
    Vocabulary.deleteBm25Index(spark, bm, Seq(5L, 6L))
    val lv = IndexManifest.current(lsh).get
    val bv = IndexManifest.current(bm).get
    val decoded: Seq[(IndexBuffer.Decoded, Long => Option[IndexBuffer.Decoded])] =
      Seq(IndexBuffer.decodeLsh(spark, lsh, lv, Long.MaxValue).get ->
          (b => IndexBuffer.decodeLsh(spark, lsh, lv, b)),
        IndexBuffer.decodeBm25(spark, bm, bv, Long.MaxValue).get ->
          (b => IndexBuffer.decodeBm25(spark, bm, bv, b)))
    decoded.foreach { case (d, decode) =>
      // the count covers what the decode holds: never below the
      // measured object graph, and within a small factor of it
      val measured = SizeEstimator.estimate(d)
      assert(d.bytes >= measured && d.bytes <= 3 * measured,
        s"counted ${d.bytes} bytes, measured $measured")
      assert(decode(d.bytes).map(_.bytes).contains(d.bytes))
      assert(decode(d.bytes - 1).isEmpty)
      // a budget below the footers' lower bound is turned away
      assert(decode(64).isEmpty)
    }
  }

  test("a version near the budget decodes in a 384 MB heap") {
    // a separate JVM, so the heap and with it the budget are small:
    // the decode must stream into its arrays, not hold every row
    val root = tmpRoot("buf_small_heap")
    val jar = (c: Class[_]) =>
      c.getProtectionDomain.getCodeSource.getLocation.getPath
    // main and test classes, and every jar beside Spark's own
    val sparkJars = new java.io.File(
      jar(classOf[org.apache.spark.sql.SparkSession])).getParent + "/*"
    val cp = Seq(classOf[IndexBufferSpec], IndexManifest.getClass)
      .map(jar).distinct :+ sparkJars
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val log = Files.createTempFile("buffer_heap_probe", ".log").toFile
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java",
      "-Xmx384m", "-XX:+ExitOnOutOfMemoryError") ++ opens ++
      Seq("-cp", cp.mkString(java.io.File.pathSeparator),
        "graft.llm.BufferHeapProbe", root, "0.9")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    val finished = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly(): Unit
    val out = Files.readString(log.toPath)
    assert(finished && p.exitValue() == 0, s"probe JVM failed:\n$out")
    val m = "decoded=(\\d+) budget=(\\d+)".r.findFirstMatchIn(out)
    assert(m.isDefined, out)
    val (decoded, budget) = (m.get.group(1).toDouble, m.get.group(2).toDouble)
    assert(decoded > 0.8 * budget && decoded <= budget,
      s"decoded $decoded bytes against a budget of $budget")
  }
}
