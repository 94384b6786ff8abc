package graft.llm

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the batch k-NN join: exact per-query top-k (equal to the
  * window-sort formulation), deterministic tie handling, and the plan
  * contract — candidates fold into bounded aggregator partials, no
  * WindowExec anywhere (the per-group sort-shuffle anti-shape the
  * operator exists to avoid).
  */
class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  // 3 tight direction families + noise: known neighbors per family
  private def corpus = (0 until 120).map { i =>
    val a = i % 3
    val base = Array.tabulate(6)(j => if (j == a) 1.0 else 0.0)
    (i.toLong, base.map(_ + 0.005 * ((i * 13 + a) % 7)).toSeq)
  }.toDF("id", "vec")

  test("knn join equals the window formulation exactly") {
    val df = corpus
    val queries = df.filter(col("id") < 6)
    val got = Similarity.knnJoinBrute(queries, df, "vec", "id", k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet

    val q = queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qv"))
    val scored = df.select(col("id"), col("vec").cast("array<double>").as("cv"))
      .crossJoin(q)
      .select(col("query_id"), col("id"),
        graft.functions.GraftFunctions.cosine(col("cv"), col("qv"))
          .as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id"))
    val expect = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    assert(got == expect)
    assert(got.size == 6 * 4)
  }

  test("plan has no WindowExec and the query side is broadcast") {
    val df = corpus
    val joined = Similarity.knnJoinBrute(df.filter(col("id") < 6), df,
      "vec", "id", k = 4)
    joined.collect()
    val plans = walkExecutedPlan(joined.queryExecution.executedPlan)
    assert(!plans.exists(_.isInstanceOf[WindowExec]),
      "k-NN join planned a window sort")
    assert(plans.exists(_.getClass.getSimpleName
        .contains("BroadcastNestedLoopJoin")),
      s"query side not broadcast:\n${plans.map(_.nodeName).mkString("\n")}")
  }

  test("ANN knn join equals brute on the clustered corpus, without a window") {
    val df = corpus
    val queries = df.filter(col("id") < 6)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    val brute = key(Similarity.knnJoinBrute(queries, df, "vec", "id", k = 4)
      .collect())
    // 4 bits over dim 6; tight families make same-family signatures
    // nearly identical, so Hamming-2 probes across 8 tables recover the
    // full neighbor sets
    val ann = Similarity.knnJoinAnn(queries, df, "vec", "id", k = 4,
      dim = 6, bits = 4, tables = 8, probeHamming = 2)
    val got = key(ann.collect())
    assert(got == brute,
      s"ANN missed neighbors: brute-only=${brute -- got}, ann-only=${got -- brute}")
    val plans = walkExecutedPlan(ann.queryExecution.executedPlan)
    assert(!plans.exists(_.isInstanceOf[WindowExec]),
      "ANN k-NN join planned a window sort")
  }

  test("disk ANN knn join equals brute and prunes partitions dynamically") {
    val df = corpus
    val dim = 6; val bits = 4; val tables = 4; val groups = 8
    val dir = java.nio.file.Files.createTempDirectory("lsh").toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df, "vec", "id", dim = dim, bits = bits,
        tables = tables), dir, groups = groups)
    // the query side must be a REAL scan with a surviving selective
    // filter: a LocalRelation query side constant-folds its filter
    // away and DPP's hasSelectivePredicate check then vetoes pruning
    val qDir = java.nio.file.Files.createTempDirectory("knnq").toString
    df.write.mode("overwrite").parquet(qDir)
    val queries = spark.read.parquet(qDir).filter(col("id") < 6)
    val served = Similarity.knnJoinAnnDisk(spark, dir, queries, "vec",
      "id", k = 4, dim = dim, bits = bits, tables = tables,
      probeHamming = 2, groups = groups)
    val got = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    val brute = Similarity.knnJoinBrute(queries, df, "vec", "id", k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    assert(got == brute, s"disk ANN missed neighbors: ${brute -- got}")
    // the probe join prunes the partitioned scan at RUNTIME: the scan's
    // PartitionFilters must carry a dynamicpruning expression
    val scans = walkExecutedPlan(served.queryExecution.executedPlan)
      .collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.nonEmpty, "no file scan of the disk index found")
    val dpp = scans.exists(_.partitionFilters.exists(
      _.toString.contains("dynamicpruning")))
    assert(dpp, "no dynamicpruning PartitionFilter on the index scan:\n" +
      scans.map(_.partitionFilters.mkString(", ")).mkString("\n"))
  }

  test("disk ANN knn join never serves deleted ids and equals brute " +
      "over the survivors") {
    val df = corpus
    val dim = 6; val bits = 4; val tables = 4; val groups = 8
    val dir = java.nio.file.Files.createTempDirectory("lshdel").toString +
      "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(df, "vec", "id", dim = dim, bits = bits,
        tables = tables), dir, groups = groups)
    // delete a third of every family, the query ids' own rows included,
    // and serve with the tombstones still pending (no compaction)
    val dead = (0L until 120L).filter(_ % 3 == 1).toSet ++ Set(0L, 2L)
    Similarity.deleteFromLshIndex(dead.toSeq.toDF("id"), "id", dir)
    val qDir = java.nio.file.Files.createTempDirectory("knnqdel").toString
    df.write.mode("overwrite").parquet(qDir)
    val queries = spark.read.parquet(qDir).filter(col("id") < 6)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    val got = key(Similarity.knnJoinAnnDisk(spark, dir, queries, "vec",
      "id", k = 4, dim = dim, bits = bits, tables = tables,
      probeHamming = 2, groups = groups).collect())
    val served = got.map(_._2)
    assert((served & dead).isEmpty,
      s"deleted ids served: ${(served & dead).toSeq.sorted}")
    val survivors = df.filter(!col("id").isin(dead.toSeq: _*))
    val brute = key(Similarity.knnJoinBrute(queries, survivors, "vec", "id",
      k = 4).collect())
    assert(got == brute,
      s"brute-only=${brute -- got}, served-only=${got -- brute}")
  }

  test("aggregator buffer stays bounded at k and orders deterministically") {
    val agg = new graft.functions.TopKMaxByScore(3)
    var buf = agg.zero
    // feed 1000 candidates in adversarial (ascending) order
    (0 until 1000).foreach { i =>
      buf = agg.reduce(buf, (i / 1000.0, i.toLong))
    }
    assert(buf.items.length == 3)
    assert(agg.finish(buf).map(_.id) == Seq(999L, 998L, 997L))
    // ties break by ascending id; NaN never ranks
    var b2 = agg.zero
    b2 = agg.reduce(b2, (0.5, 7L))
    b2 = agg.reduce(b2, (0.5, 3L))
    b2 = agg.reduce(b2, (Double.NaN, 1L))
    assert(agg.finish(b2).map(_.id) == Seq(3L, 7L))
  }
}
