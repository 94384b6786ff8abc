package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the disk-served LSH index: disk serve ≡ in-memory multiprobe
  * answer, and the closed probe list reaches the scan as PARTITION
  * pruning on (table, grp) — only probed directories are read.
  */
class LshDiskSpec extends SparkSpec {
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

  test("disk serve equals the in-memory multiprobe top-k exactly") {
    val df = corpus
    val index = Similarity.multiTableIndex(df, "vec", "id", dim = dim,
      bits = bits, tables = tables)
    val dir = Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(index, dir, groups = groups)
    val query = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.05)

    def key(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getLong(0), math.round(x.getDouble(1) * 1e9))).toSeq
    val mem = key(Similarity.topKAnnMultiTable(index, query, dim = dim,
      bits = bits, tables = tables, k = 5))
    val disk = key(Similarity.topKAnnDisk(spark, dir, query, dim = dim,
      bits = bits, tables = tables, k = 5, groups = groups))
    assert(disk == mem, s"disk=$disk mem=$mem")
  }

  test("append serves base+delta identically to a full rebuild, " +
      "without touching base files") {
    val df = corpus
    val base = df.filter(col("id") % 10 =!= 0)
    val delta = df.filter(col("id") % 10 === 0)
    val dir = Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(base, "vec", "id", dim = dim, bits = bits,
        tables = tables), dir, groups = groups)
    // versions carry base files forward as hard links: names and
    // mtimes (inode metadata) are preserved exactly, so a name-keyed
    // map identifies a base file across version dirs
    def dataFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map(f => f.getName -> f.lastModified).toMap
    }
    val before = dataFiles
    Similarity.appendLshIndex(delta, "vec", "id", dir, dim = dim,
      bits = bits, tables = tables, groups = groups)
    val after = dataFiles
    // append only ADDS files: every base file survives byte-identical
    assert(before.toSet.subsetOf(after.toSet),
      "append rewrote or removed base files")
    assert(after.size > before.size, "append wrote no new files")

    val full = Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df, "vec", "id", dim = dim, bits = bits,
        tables = tables), full, groups = groups)
    val query = Array.tabulate(dim)(j => if (j == 2) 1.0 else 0.05)
    def key(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getLong(0), math.round(x.getDouble(1) * 1e9))).toSeq
    val appended = key(Similarity.topKAnnDisk(spark, dir, query, dim = dim,
      bits = bits, tables = tables, k = 5, groups = groups))
    val rebuilt = key(Similarity.topKAnnDisk(spark, full, query, dim = dim,
      bits = bits, tables = tables, k = 5, groups = groups))
    assert(appended == rebuilt, s"appended=$appended rebuilt=$rebuilt")
    // the delta is genuinely served: delta ids appear in the index read
    val served = Similarity.readLshIndex(spark, dir,
      Some(IndexManifest.resolve(dir)))
      .filter(col("id") % 10 === 0).count()
    assert(served > 0, "no delta rows served from the appended index")
  }

  test("compaction collapses appended files to one per directory, " +
      "serving unchanged") {
    val df = corpus
    val dir = Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df.filter(col("id") % 4 === 0), "vec",
        "id", dim = dim, bits = bits, tables = tables), dir,
      groups = groups)
    (1 until 4).foreach { r =>
      Similarity.appendLshIndex(df.filter(col("id") % 4 === r), "vec",
        "id", dir, dim = dim, bits = bits, tables = tables,
        groups = groups)
    }
    // walk the COMMITTED version only: commit retains the superseded
    // version (reader overlap), so the root also holds the old layout
    // until expireVersions
    def files = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(IndexManifest.currentDir(dir)))
    }
    def dirsOf(fs: Seq[java.io.File]) = fs.map(_.getParent).distinct
    val query = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.03)
    def key(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getLong(0), math.round(x.getDouble(1) * 1e9))).toSeq
    val before = files
    val servedBefore = key(Similarity.topKAnnDisk(spark, dir, query,
      dim = dim, bits = bits, tables = tables, k = 5, groups = groups))
    assert(before.size > dirsOf(before).size,
      "appends did not fragment (test premise)")
    Similarity.compactLshIndex(spark, dir)
    val after = files
    assert(after.size == dirsOf(after).size,
      s"expected one file per directory, got ${after.size} files in " +
        s"${dirsOf(after).size} dirs")
    assert(after.size < before.size, "compaction did not shrink files")
    val servedAfter = key(Similarity.topKAnnDisk(spark, dir, query,
      dim = dim, bits = bits, tables = tables, k = 5, groups = groups))
    assert(servedAfter == servedBefore,
      s"before=$servedBefore after=$servedAfter")
  }

  test("delete tombstones serve immediately and fold at compaction") {
    val df = corpus
    val dir = Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df, "vec", "id", dim = dim, bits = bits,
        tables = tables), dir, groups = groups)
    val query = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.05)
    def key(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getLong(0), math.round(x.getDouble(1) * 1e9))).toSeq
    val full = key(Similarity.topKAnnDisk(spark, dir, query, dim = dim,
      bits = bits, tables = tables, k = 5, groups = groups))
    // take down the top hit plus a mid-ranked one
    val dead = Set(full.head._1, full(2)._1)
    Similarity.deleteFromLshIndex(
      df.filter(col("id").isin(dead.toSeq: _*)), "id", dir)
    // LSH signatures are pure per-row functions, so an index built
    // WITHOUT the deleted rows is the exact expectation for the
    // tombstoned serve
    val fresh = Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df.filter(!col("id").isin(
        dead.toSeq: _*)), "vec", "id", dim = dim, bits = bits,
        tables = tables), fresh, groups = groups)
    val expect = key(Similarity.topKAnnDisk(spark, fresh, query, dim = dim,
      bits = bits, tables = tables, k = 5, groups = groups))
    val served = key(Similarity.topKAnnDisk(spark, dir, query, dim = dim,
      bits = bits, tables = tables, k = 5, groups = groups))
    assert(served == expect, s"served=$served expect=$expect")
    assert(served.map(_._1).toSet.intersect(dead).isEmpty)
    // compaction folds: rows physically gone, tombstone set cleared,
    // serve unchanged
    Similarity.compactLshIndex(spark, dir)
    assert(!new java.io.File(
        s"${IndexManifest.currentDir(dir)}/tombstones").exists(),
      "compaction left the tombstone set behind")
    assert(Similarity.readLshIndex(spark, dir,
      Some(IndexManifest.resolve(dir)))
      .filter(col("id").isin(dead.toSeq: _*)).count() == 0,
      "compaction kept tombstoned rows")
    val afterCompact = key(Similarity.topKAnnDisk(spark, dir, query,
      dim = dim, bits = bits, tables = tables, k = 5, groups = groups))
    assert(afterCompact == expect, s"post-compact=$afterCompact")
  }

  test("probe list prunes (table, grp) directories at file level") {
    val df = corpus
    val dir = Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df, "vec", "id", dim = dim, bits = bits,
        tables = tables), dir, groups = groups)
    val query = Array.tabulate(dim)(j => if (j == 1) 1.0 else 0.05)
    // the Spark plan: the path of versions over the driver-side
    // buffer's budget
    val served = Similarity.topKAnnDiskPlan(spark, dir,
      IndexManifest.resolve(dir), query, dim = dim, bits = bits,
      tables = tables, k = 5, probeHamming = 1, groups = groups)
    served.collect()
    val scan = walkExecutedPlan(served.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scan.nonEmpty, "no file scan found")
    assert(scan.head.partitionFilters.nonEmpty,
      s"probe list did not reach partition pruning:\n${scan.head}")
    // the probed (table, grp) set — recompute the closed list the
    // serve path derives and check the actual file listing stays
    // inside it
    val allowed = (0 until tables).flatMap { t =>
      val qSig = Similarity.signatureOf(query,
        Similarity.hyperplanes(dim, bits, s"lsh/t$t"))
      Similarity.probeSignatures(qSig, bits, r = 1)
        .map(sg => (t, java.lang.Math.floorMod(sg, groups.toLong)))
    }.toSet
    // partition values infer as the narrowest integral type (int)
    val listed = scan.head.relation.location
      .listFiles(scan.head.partitionFilters, Nil)
      .map(p => (p.values.getInt(0), p.values.getInt(1).toLong)).toSet
    assert(listed.nonEmpty && listed.subsetOf(allowed),
      s"listed $listed outside probed set $allowed")
    // pruning is real: fewer directories than the full index
    assert(listed.size < tables * groups,
      s"no pruning: read all ${tables * groups} partitions")
  }
}
