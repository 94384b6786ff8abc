package graft.llm

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.CosineKernel

/** Driver-side buffer of committed disk-index versions: the serve path
  * of small LSH ([[Similarity.topKAnnDisk]]) and BM25
  * ([[Vocabulary.bm25Disk]]) indexes without a Spark job per read.
  *
  * A committed version is immutable, so it is decoded ONCE into
  * primitive arrays and every later read of that version is answered
  * from memory (an index buffer, not a result cache: the key is the
  * version, never the query). The decode runs under a reader pin on
  * the exact version the read resolved
  * ([[IndexManifest.withVersionPin]]), so neither a second pointer
  * resolution nor a concurrent commit's GC can change what it reads.
  * A read resolves once, in [[atCurrent]], and again only when its
  * version was reaped before the buffer could pin it.
  * Pending tombstones fold at decode: the anti-join is applied once
  * per version, not per read.
  *
  * Budget. A version is decoded only while its decoded size stays
  * within 1/32 of the driver's max heap ([[versionBudgetBytes]]); all
  * roots together are capped at 1/8, least recently read out. Sizes
  * are counted in decoded bytes (the arrays, vectors and maps the
  * decode builds, at the JVM object sizes below), never in file
  * bytes. Before reading any data, a lower bound on the decoded size
  * from the artifacts' parquet footers (row and value counts) turns
  * away a version that cannot fit; the decode itself streams the rows
  * a bounded chunk at a time (`toLocalIterator`) straight into the
  * arrays and gives up the moment its count passes the budget. One
  * decode runs at a time per JVM. A version that does not fit is
  * served by the partition-pruned Spark plan. The two fractions are
  * not measured by a workload: the benchmark's one index size decodes
  * to a few MB, far below either.
  *
  * The buffer keeps only the most recently decoded version per root,
  * so its heap follows the live index, not the commit count. The key
  * also carries `ManifestIo.versionStamp`, which each commit writes
  * afresh, so a root that is wiped and rebuilt (its version names
  * restart) never serves the old root's decode.
  *
  * Reads answer with exactly the Spark plan's semantics: the same
  * probe predicate (including the stored `grp`/`bkt` test against the
  * read's own `groups`/`buckets`), the same tombstone anti-join, cosine
  * from the shared [[graft.functions.CosineKernel]], the same BM25
  * arithmetic and `round(…, 4)`, the same `score desc, id` order with
  * null scores last, and a local `DataFrame` with the plan's schema.
  * Versions whose ids are not integral or include nulls are left to
  * the Spark plan.
  */
private[graft] object IndexBuffer {

  /** Largest decoded version, in bytes. */
  def versionBudgetBytes: Long = Runtime.getRuntime.maxMemory / 32

  private def totalBudgetBytes: Long = Runtime.getRuntime.maxMemory / 8

  // Decoded sizes in bytes, for a 64-bit JVM with compressed references
  // (12-byte object headers, 4-byte references, 16-byte array headers).
  /** Per decoded version: the decoded object, its frame schema, the
    * hash tables of its maps.
    */
  private val VersionBytes = 4096L
  /** LSH index row: its `grp` (long), id slot (int) and bucket entry (int). */
  private val LshRowBytes = 16L
  /** LSH id: its `ids` entry and `vecs` reference, plus the id → slot
    * map entry the decode holds (node, boxed key and value).
    */
  private val LshIdBytes = 12L + 72L
  /** LSH `(table, sig)` bucket: map node, tuple key with boxed fields,
    * row-array header.
    */
  private val LshBucketBytes = 112L
  /** A vector of `n` doubles: the array object plus its backing bytes. */
  private def vectorBytes(n: Int, hasNull: Boolean): Long =
    if (hasNull) 48L + 20L * n else 72L + 8L * n
  /** BM25 posting: its id, dl, tf and bkt (longs). */
  private val PostingBytes = 32L
  /** BM25 term: map node, string, postings object, four array headers. */
  private def termBytes(term: String): Long = 176L + 2L * term.length
  /** A tombstone in the decode's dead-id set. */
  private val TombstoneBytes = 64L

  private[llm] sealed trait Decoded { def bytes: Long }

  /** One LSH version. Each live id is stored once (`ids`, `vecs`); an
    * index row is its `(table, sig)` bucket, its stored `grp` and the
    * slot of its id.
    */
  private[llm] final class Lsh(schema: StructType, ids: Array[Long],
      vecs: Array[ArrayData],
      buckets: java.util.HashMap[(Int, Long), Array[Int]],
      rowGrp: Array[Long], rowSlot: Array[Int], val bytes: Long)
      extends Decoded {

    /** Top-k over the rows that pass `probes` (per table: the probed
      * signatures and their groups).
      */
    def topK(spark: SparkSession, probes: IndexedSeq[(Seq[Long], Seq[Long])],
        query: Array[Double], k: Int): DataFrame = {
      val q = UnsafeArrayData.fromPrimitiveArray(query)
      val seen = new java.util.BitSet(ids.length)
      val hits = ArrayBuffer.empty[(Long, java.lang.Double)]
      probes.indices.foreach { t =>
        val (sigs, grps) = probes(t)
        val grpSet = grps.toSet
        sigs.distinct.foreach { s =>
          val rows = buckets.get((t, s))
          if (rows != null) rows.foreach { r =>
            val slot = rowSlot(r)
            if (grpSet(rowGrp(r)) && !seen.get(slot)) {
              seen.set(slot)
              hits += ids(slot) -> cosine(vecs(slot), q)
            }
          }
        }
      }
      local(spark, schema, hits.toSeq, k)
    }
  }

  /** `graft_cosine(v, q)`: null when undefined, NaN kept. */
  private def cosine(v: ArrayData, q: ArrayData): java.lang.Double =
    if (v == null) null
    else {
      val c = CosineKernel.cosine(v, q)
      if (c.isNaN && CosineKernel.undefined(v, q)) null else c
    }

  private final class Postings(val id: Array[Long], val dl: Array[Long],
      val tf: Array[Long], val bkt: Array[Long])

  /** One BM25 version: surviving postings by term, and the stats the
    * Spark plan would score with (recombined from the tombstones).
    */
  private[llm] final class Bm25(schema: StructType,
      postings: java.util.HashMap[String, Postings], nDocs: Long,
      avgdl: Double, val bytes: Long) extends Decoded {

    def topK(spark: SparkSession, queryTerms: Seq[String], k1: Double,
        b: Double, topK: Int, buckets: Int): DataFrame = {
      val bkts = queryTerms.map(Vocabulary.termBucket(_, buckets)).toSet
      val score = mutable.LinkedHashMap.empty[Long, Double]
      queryTerms.distinct.foreach { t =>
        val p = postings.get(t)
        if (p != null) {
          val live = p.id.indices.filter(i => bkts(p.bkt(i)))
          val df = live.length.toLong
          // df <= n_docs by construction, so the log argument is > 1
          val idf = StrictMath.log(
            1.0 + ((nDocs - df).toDouble + 0.5) / (df.toDouble + 0.5))
          live.foreach { i =>
            val tf = p.tf(i).toDouble
            val c = idf * (tf * (k1 + 1.0)) /
              (tf + k1 * ((1.0 - b) + b * p.dl(i).toDouble / avgdl))
            score(p.id(i)) = score.getOrElse(p.id(i), 0.0) + c
          }
        }
      }
      local(spark, schema, score.iterator.map { case (id, s) =>
        id -> java.lang.Double.valueOf(round4(s)) }.toSeq, topK)
    }
  }

  /** Spark's `round(x, 4)` on a double (HALF_UP on its decimal string). */
  private def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** The k best `(id, score)` pairs by `score desc, id`, null scores
    * last, as a local frame of `schema`.
    */
  private def local(spark: SparkSession, schema: StructType,
      hits: Seq[(Long, java.lang.Double)], k: Int): DataFrame = {
    val order = Ordering.fromLessThan[(Long, java.lang.Double)] {
      case ((ia, a), (ib, b)) =>
        val c =
          if (a == null || b == null)
            java.lang.Boolean.compare(a == null, b == null)
          else -SQLOrderingUtil.compareDoubles(a, b)
        if (c != 0) c < 0 else ia < ib
    }
    val intIds = schema.head.dataType == IntegerType
    val rows = hits.sorted(order).take(k).map { case (id, s) =>
      Row(if (intIds) id.toInt else id, s)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  // ---------------------------------------------------------------- slots

  private final class Slot(val version: String, val stamp: String) {
    @volatile var used = 0L
    @volatile private var result: Option[Decoded] = null
    def get(decode: => Option[Decoded]): Option[Decoded] = {
      val r = result
      if (r != null) r
      else synchronized {
        if (result == null) result = decode
        result
      }
    }
    def decoded: Boolean = Option(result).exists(_.isDefined)
    def bytes: Long = Option(result).flatten.fold(0L)(_.bytes)
  }

  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()
  private val clock = new java.util.concurrent.atomic.AtomicLong()

  /** Run `read` on the version `root` resolves to: the one pointer
    * resolution of every buffered read. If that version left the
    * retained lineage before the buffer could look it up or pin it
    * (`RetainVersions` commits landed after the resolve), the read
    * resolves again and serves the new current, at most
    * [[IndexManifest.PinAcquireAttempts]] times; then the "left the
    * retained lineage" error is thrown.
    */
  private[llm] def atCurrent[T](root: String)(read: String => T): T = {
    var gone: IndexManifest.LeftLineage = null
    var i = 0
    while (i < IndexManifest.PinAcquireAttempts) {
      try return read(IndexManifest.resolve(root))
      catch { case e: IndexManifest.LeftLineage => gone = e; i += 1 }
    }
    throw gone
  }

  private def lookup(kind: String, root: String, version: String)(
      decode: => Option[Decoded]): Option[Decoded] =
    IndexManifest.ioFor(root).versionStamp(root, version) match {
      // no stamp: GC reaped the version, or it was committed before
      // stamps existed (still retained; the Spark plan serves it)
      case None =>
        if (IndexManifest.retained(root, version)) None
        else throw new IndexManifest.LeftLineage(root, version)
      case Some(stamp) =>
        val key = s"$kind|$root"
        var fresh = false
        val slot = slots.compute(key, (_, old) =>
          if (old != null && old.version == version && old.stamp == stamp) old
          else { fresh = true; new Slot(version, stamp) })
        slot.used = clock.incrementAndGet()
        val got =
          try slot.get(decode)
          catch { case e: Throwable => slots.remove(key, slot); throw e }
        if (fresh) trim()
        got
    }

  /** Drop the least recently read roots until the total fits. */
  private def trim(): Unit = {
    val all = slots.asScala.toSeq.sortBy(_._2.used)
    var total = all.map(_._2.bytes).sum
    all.iterator.takeWhile(_ => total > totalBudgetBytes).foreach {
      case (key, s) => if (slots.remove(key, s)) total -= s.bytes
    }
  }

  /** Versions currently decoded for `root` (at most one per index kind). */
  private[graft] def versionsHeld(root: String): Seq[String] =
    slots.asScala.collect {
      case (key, s) if key.endsWith(s"|$root") && s.decoded => s.version
    }.toSeq

  // --------------------------------------------------------------- decode

  private val decodeLock = new Object

  /** Run `body` under a pin on `version`, one decode per JVM at a time. */
  private def pinned[D](root: String, version: String)(body: => Option[D])
      : Option[D] =
    decodeLock.synchronized {
      IndexManifest.withVersionPin(root, version) { _ =>
        IndexManifest.failpoint(s"decode:$root")
        body
      }
    }

  /** What the parquet footers of one artifact say, read without
    * touching its data: files, rows, compressed bytes, leaf values per
    * top-level column, and the distinct `table=` directories.
    */
  private final case class Footers(files: Int, rows: Long, bytes: Long,
      values: Map[String, Long], tableDirs: Int)

  private val TableDir = "/table=([^/]+)/".r

  private def footers(spark: SparkSession, root: String, version: String,
      name: String): Footers = {
    val io = IndexManifest.ioFor(root)
    val conf = spark.sparkContext.hadoopConfiguration
    // one set of read options for every file: building the default
    // options per file cost ~10 ms a file on a 4-vCPU x86 VM
    val options = HadoopReadOptions.builder(conf).build()
    val files = IndexManifest.artifactPaths(root, name, Some(version))
      .flatMap(io.parquetFiles)
    var rows = 0L
    var bytes = 0L
    val values = mutable.Map.empty[String, Long].withDefaultValue(0L)
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        if (io == PosixManifestIo) new LocalInputFile(java.nio.file.Paths.get(f))
        else HadoopInputFile.fromPath(new Path(f), conf), options)
      try reader.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        bytes += b.getCompressedSize
        b.getColumns.asScala.foreach { c =>
          values(c.getPath.toArray.head) += c.getValueCount
        }
      } finally reader.close()
    }
    Footers(files.size, rows, bytes, values.toMap,
      files.flatMap(TableDir.findFirstMatchIn(_).map(_.group(1))).distinct.size)
  }

  /** Rows of `df`, streamed a chunk at a time: `fileBytes` of input is
    * split so that each fetched chunk stays near a quarter of `budget`.
    */
  private def stream(df: DataFrame, fileBytes: Long, budget: Long)
      : Iterator[Row] = {
    val chunks = math.max(1L, 4L * fileBytes / math.max(budget, 1L) + 1L)
    df.coalesce(math.min(chunks, Int.MaxValue.toLong).toInt)
      .toLocalIterator().asScala
  }

  private def integral(t: DataType): Boolean = t == IntegerType || t == LongType

  private def scoreSchema(id: StructField): StructType =
    StructType(Seq(id, StructField("score", DoubleType, nullable = true)))

  private def arrayData(v: Any): ArrayData = v match {
    case null => null
    case s: scala.collection.Seq[_] =>
      if (s.contains(null)) new GenericArrayData(s.toArray[Any])
      else UnsafeArrayData.fromPrimitiveArray(
        s.iterator.map(_.asInstanceOf[Double]).toArray)
  }

  /** The decoded LSH version `version` of `root`, or None when the
    * Spark plan must serve it. Throws `IndexManifest.LeftLineage` when
    * the version left the retained lineage.
    */
  private[llm] def lsh(spark: SparkSession, root: String,
      version: String): Option[Lsh] =
    lookup("lsh", root, version)(decodeLsh(spark, root, version,
      versionBudgetBytes)).map(_.asInstanceOf[Lsh])

  /** Decode LSH `version` of `root` within `budget` decoded bytes. */
  private[llm] def decodeLsh(spark: SparkSession, root: String,
      version: String, budget: Long): Option[Lsh] =
    pinned(root, version) {
      val data = IndexManifest.readArtifact(spark, root, "data", Some(version))
      val idField = data.schema("id")
      val foot = footers(spark, root, version, "data")
      val tombFoot = footers(spark, root, version, "tombstones")
      // lower bound: an id has at most one row per table, so the
      // footers count each decoded vector at most once per table
      // directory (rows a pending tombstone drops are still counted)
      val floor = VersionBytes + foot.rows * LshRowBytes +
        tombFoot.rows * TombstoneBytes +
        8L * foot.values.getOrElse("vec", 0L) / math.max(foot.tableDirs, 1)
      if (!integral(idField.dataType) || floor > budget) None
      else {
        var used = VersionBytes
        val dead = mutable.HashSet.empty[Long]
        if (tombFoot.rows > 0)
          stream(IndexManifest.readArtifact(spark, root, "tombstones",
              Some(version)).select(col("graft_dead_id").cast("long")),
            tombFoot.bytes, budget)
            .filterNot(_.isNullAt(0))
            .foreach(r => if (dead.add(r.getLong(0))) used += TombstoneBytes)
        val slotOf = new java.util.HashMap[Long, Integer]()
        val ids = new mutable.ArrayBuilder.ofLong
        val vecs = ArrayBuffer.empty[ArrayData]
        val byKey = new java.util.HashMap[(Int, Long), mutable.ArrayBuilder.ofInt]()
        val rowGrp = new mutable.ArrayBuilder.ofLong
        val rowSlot = new mutable.ArrayBuilder.ofInt
        var rows = 0
        var ok = used <= budget
        val it = stream(data.select(col("table").cast("int"),
          col("grp").cast("long"), col("sig").cast("long"),
          col("id").cast("long"), col("vec").cast("array<double>")),
          foot.bytes, budget)
        while (ok && it.hasNext) {
          val r = it.next()
          // a null id is left to the Spark plan; a row with a null
          // table, grp or sig never passes the probe
          if (r.isNullAt(3)) ok = false
          else if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
              !dead(r.getLong(3))) {
            val id = r.getLong(3)
            var slot = slotOf.get(id)
            if (slot == null) {
              val v = arrayData(r.get(4))
              slot = vecs.length
              slotOf.put(id, slot)
              ids += id
              vecs += v
              used += LshIdBytes + (if (v == null) 0L
                else vectorBytes(v.numElements(), v.isInstanceOf[GenericArrayData]))
            }
            val key = (r.getInt(0), r.getLong(2))
            var bucket = byKey.get(key)
            if (bucket == null) {
              bucket = new mutable.ArrayBuilder.ofInt
              byKey.put(key, bucket)
              used += LshBucketBytes
            }
            bucket += rows
            rowGrp += r.getLong(1)
            rowSlot += slot
            rows += 1
            used += LshRowBytes
            ok = used <= budget
          }
        }
        if (!ok) None
        else {
          val buckets = new java.util.HashMap[(Int, Long), Array[Int]]()
          byKey.forEach((key, rs) => buckets.put(key, rs.result()))
          Some(new Lsh(scoreSchema(idField), ids.result(), vecs.toArray,
            buckets, rowGrp.result(), rowSlot.result(), used))
        }
      }
    }

  /** [[lsh]] for BM25. */
  private[llm] def bm25(spark: SparkSession, root: String,
      version: String): Option[Bm25] =
    lookup("bm25", root, version)(decodeBm25(spark, root, version,
      versionBudgetBytes)).map(_.asInstanceOf[Bm25])

  private final class PostingsBuilder {
    val id, dl, tf, bkt = new mutable.ArrayBuilder.ofLong
    def result(): Postings =
      new Postings(id.result(), dl.result(), tf.result(), bkt.result())
  }

  /** Decode BM25 `version` of `root` within `budget` decoded bytes. */
  private[llm] def decodeBm25(spark: SparkSession, root: String,
      version: String, budget: Long): Option[Bm25] =
    pinned(root, version) {
      val post = IndexManifest.readArtifact(spark, root, "postings",
        Some(version))
      val idField = post.schema("id")
      val foot = footers(spark, root, version, "postings")
      val tombFoot = footers(spark, root, version, "tombstones")
      // lower bound (postings a pending tombstone drops still counted)
      val floor = VersionBytes + foot.rows * PostingBytes +
        tombFoot.rows * TombstoneBytes
      lazy val stats = IndexManifest.readArtifact(spark, root, "stats",
          Some(version))
        .select(col("n_docs").cast("long"), col("avgdl").cast("double"),
          col("sum_dl").cast("long"))
        .collect()
      if (!integral(idField.dataType) || floor > budget ||
          stats.length != 1 || stats.head.anyNull) None
      else {
        var used = VersionBytes
        // the distinct (id, dl) tombstone rows, as the plan counts them
        val tomb = mutable.HashSet.empty[(Option[Long], Option[Long])]
        if (tombFoot.rows > 0)
          stream(IndexManifest.readArtifact(spark, root, "tombstones",
              Some(version)).select(col("id").cast("long"),
              col("dl").cast("long")), tombFoot.bytes, budget)
            .foreach { r =>
              val key = (Option(r.get(0)).map(_.asInstanceOf[Long]),
                Option(r.get(1)).map(_.asInstanceOf[Long]))
              if (tomb.add(key)) used += TombstoneBytes
            }
        val dead = tomb.iterator.flatMap(_._1).toSet
        val s = stats.head
        val (nDocs, avgdl) =
          if (tombFoot.files == 0) (s.getLong(0), s.getDouble(1))
          else {
            val n = s.getLong(0) - tomb.size
            val sumDl = s.getLong(2) - tomb.iterator.flatMap(_._2).sum
            (n, if (n == 0) 0.0 else sumDl.toDouble / n)
          }
        val byTerm = new java.util.HashMap[String, PostingsBuilder]()
        var ok = used <= budget
        val it = stream(post.select(col("term"), col("id").cast("long"),
          col("dl").cast("long"), col("tf").cast("long"),
          col("bkt").cast("long")), foot.bytes, budget)
        while (ok && it.hasNext) {
          val r = it.next()
          // a null id, dl or tf is left to the Spark plan; a null term
          // or bkt never passes the term/bucket filter
          if (r.isNullAt(1) || r.isNullAt(2) || r.isNullAt(3)) ok = false
          else if (!r.isNullAt(0) && !r.isNullAt(4) && !dead(r.getLong(1))) {
            val term = r.getString(0)
            var p = byTerm.get(term)
            if (p == null) {
              p = new PostingsBuilder
              byTerm.put(term, p)
              used += termBytes(term)
            }
            p.id += r.getLong(1); p.dl += r.getLong(2)
            p.tf += r.getLong(3); p.bkt += r.getLong(4)
            used += PostingBytes
            ok = used <= budget
          }
        }
        if (!ok) None
        else {
          val postings = new java.util.HashMap[String, Postings]()
          byTerm.forEach((t, p) => postings.put(t, p.result()))
          Some(new Bm25(scoreSchema(idField), postings, nDocs, avgdl, used))
        }
      }
    }
}
