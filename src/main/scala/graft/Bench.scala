package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A failing query is reported under "errors" with
  * its exception — never silently folded into a timing (a crash must not
  * look like a fast run).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER: see Verify — multi-JVM certification sweeps
    // run the registry under local-cluster with graft's classes on the
    // executor classpath
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.LocalFsConf)
      .config(graft.core.GraftSession.executorClassPathConf(master))
      .config(graft.core.GraftSession.envConf)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

    // JIT/codegen warmup so the alphabetically-first query doesn't absorb
    // first-job overhead into its timing: one scan-agg query, plus the
    // shingle-UDF path over a 100-row slice (JIT only — a LIMIT cannot
    // cache or precompute anything the timed queries reuse)
    try {
      SparkEntry.queries.get("q1_pricing_summary")
        .foreach(fn => fn(spark, sfDir).count())
      // the heaviest codegen/JIT paths, each over a tiny LIMIT slice:
      // nothing here caches data or precomputes results a timed query
      // could reuse — it only compiles the generated code once
      val docSlice = graft.sources.Tables.documents(spark, sfDir).limit(50)
      graft.llm.Dedup.jaccardJoinExact(docSlice, "doc_id", "text")
        .count(): Unit
    } catch { case _: Throwable => () }

    // optional positional args restrict the run to the named queries
    // (iteration aid; the driver passes none and times everything)
    val only = args.toSet
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // SPARK_GRAFT_MARK=1: print a stderr marker before each query so
    // scheduler warnings (TaskSetManager large-task, WindowExec
    // single-partition) in the captured log attribute to a query by
    // position — the attribution harness for scale-signal triage.
    val mark = sys.env.get("SPARK_GRAFT_MARK").contains("1")
    selected.foreach { case (name, fn) =>
      if (mark) System.err.println(s"[bench] >>> $name")
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors(name) = e.toString.take(300)
          // the JSON line keeps errors short; the full stack goes to
          // stderr so a failure is diagnosable from the run log
          System.err.println(s"[bench] $name FAILED:")
          e.printStackTrace()
      }
    }

    // De-noise the heavy tail: single-pass timings of the slow queries
    // carry most of the run-to-run spread (JIT/GC/transient-load spikes
    // — r6 ranged 128→186 s on an unchanged binary). Re-time every
    // query over `retimeFloor` once more and keep the per-query MIN.
    // Memoized shared artifacts (component frames, centroids, PQ
    // codebooks, purchase graph) are reset first, so the second pass
    // pays the same build jobs the first did — the min strips transient
    // noise, never amortized work. Cheap queries are stable and not
    // worth the wall-clock.
    val retimeFloor = sys.env.getOrElse("SPARK_GRAFT_RETIME_FLOOR", "1.5")
      .toDouble
    val retimed =
      if (retimeFloor <= 0) 0
      else {
        graft.queries.Catalog.resetSharedArtifacts()
        val slow = selected.filter { case (name, _) =>
          timings.get(name).exists(_ > retimeFloor) }
        slow.foreach { case (name, fn) =>
          if (mark) System.err.println(s"[bench] >>> retime $name")
          spark.sparkContext.setJobDescription(s"retime $name")
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val t = (System.nanoTime() - t0) / 1e9
            if (t < timings(name)) timings(name) = t
          } catch { case _: Throwable => () } // first-pass timing stands
        }
        slow.size
      }
    val total = timings.values.sum

    // Full per-query breakdown: printed FIRST (iteration aid — scroll up
    // or redirect to capture it). The driver only retains the final
    // ~2000 chars of output, and with 100+ registered queries the full
    // map is ~4 KB — a single line carrying it gets its head truncated
    // away and the driver records parse failure (this happened in round
    // 5). So the LAST line, the one the driver parses, is a compact
    // summary: total, query count, a fixed headline subset spanning the
    // operator families (stable across rounds for BASELINE.md
    // comparability), the slowest five, and error count.
    val qsFull = timings.map { case (k, v) => s""""${esc(k)}":$v""" }
      .mkString("{", ",", "}")
    println(s"""{"bench_full":$qsFull}""")

    def r3(v: Double): String = f"$v%.3f"
    val headline = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q7_volume_shipping", "q10_returned_items", "q18_large_volume",
      "join_multiway", "window_topn_per_group", "dedup_pairs",
      "dedup_jaccard_exact", "dedup_components", "sim_topk_brute",
      "sim_topk_ivf", "sim_neardup_lsh", "streaming_hourly",
      "train_loop", "pipeline_e2e", "text_stats", "vocab_topk",
      "token_count")
    val qs = headline.flatMap(k => timings.get(k).map(v =>
      s""""${esc(k)}":${r3(v)}""")).mkString("{", ",", "}")
    val slowest = timings.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s""""${esc(k)}":${r3(v)}""" }
      .mkString("{", ",", "}")
    val errs = errors.take(5)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v.take(120))}"""" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${timings.size},"n_errors":${errors.size},"retimed":$retimed,"queries":$qs,"slowest":$slowest,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
