package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array, col, lit, randn}

/** Child-JVM body of [[IndexBufferSpec]]'s small-heap check: builds a
  * disk LSH index sized to decode to about `fill` of this JVM's
  * per-version budget, serves one read and prints
  * `decoded=<bytes> budget=<bytes>` (exit 0), or exits 3 when the read
  * was not served from the buffer.
  *
  * Usage: `BufferHeapProbe <root> <fill>`.
  */
object BufferHeapProbe {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val fill = args(1).toDouble
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("buffer-heap-probe")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      // Spark refuses heaps under 450 MB unless told otherwise
      .config("spark.testing.memory", (512L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (dim, bits, tables, groups) = (64, 8, 4, 4)
    val budget = IndexBuffer.versionBudgetBytes
    // counted bytes per id: id entry and map entry, the vector, one row
    // per table; plus every (table, sig) bucket and the version itself
    val perId = 84L + 72L + 8L * dim + 16L * tables
    val fixed = 4096L + 112L * tables * (1L << bits)
    val n = ((fill * budget - fixed) / perId).toLong
    val vecs = spark.range(n).select(col("id"),
      array((0 until dim).map(j => randn(j.toLong) + lit(j % 3)): _*)
        .as("vec"))
    Similarity.writeLshIndex(Similarity.multiTableIndex(vecs, "vec", "id",
      dim, bits, tables), root, groups)
    val q = Array.tabulate(dim)(j => (j % 3).toDouble)
    val top = Similarity.topKAnnDisk(spark, root, q, dim, bits, tables, 10,
      1, groups).collect()
    val version = IndexManifest.current(root).get
    IndexBuffer.lsh(spark, root, version) match {
      case Some(d) if top.nonEmpty &&
          IndexBuffer.versionsHeld(root) == Seq(version) =>
        println(s"decoded=${d.bytes} budget=$budget")
        spark.stop()
      case other =>
        println(s"not served from the buffer: $other, ${top.length} rows")
        sys.exit(3)
    }
  }
}
