package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.sources.Tables

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  /** The fixture stores each table as a single parquet FILE; the
    * streaming file source requires a directory — stage a copy.
    */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  test("streaming hourly agg over events files equals the batch answer") {
    val dir = "/root/testdata/sf0.001"
    val raw = Streams.eventsStream(spark, eventsDir)
    val streamed = Streams.hourlyAgg(raw)
    val got = Streams.runAvailableNow(spark, streamed, "hourly_test")
      .orderBy("hour_start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))

    val batch = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("hour_start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))

    assert(got.toSeq == batch.toSeq,
      s"stream/batch divergence: ${got.take(3).toSeq} vs ${batch.take(3).toSeq}")
    assert(got.nonEmpty)
  }

  test("foreachBatch parquet sink writes per-batch dirs, rows preserved") {
    val out = java.nio.file.Files.createTempDirectory("stream_out").toString
    val ck = java.nio.file.Files.createTempDirectory("stream_ck").toString
    val raw = Streams.eventsStream(spark, eventsDir)
    Streams.resumableAttempt(raw, out, ck, s"sink_test_${System.nanoTime()}")
    val written = spark.read.parquet(out)
    val expected = Tables.events(spark, "/root/testdata/sf0.001")
    assert(written.count() == expected.count())
    // batch=<id> layout exists (the idempotence unit)
    val batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.nonEmpty)
    // re-writing the same batch dir is an overwrite, not a duplication
    val sample = spark.read.parquet(batchDirs.head.getPath)
    sample.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(batchDirs.head.getPath + "_retry")
    assert(spark.read.parquet(batchDirs.head.getPath + "_retry").count() ==
      sample.count())
  }

  test("sliding windows emit overlapping window starts") {
    val dir = "/root/testdata/sf0.001"
    val raw = Streams.eventsStream(spark, eventsDir)
    val got = Streams.runAvailableNow(spark,
      Streams.slidingTypeCounts(raw), "sliding_test")
    val starts = got.select("window_start").distinct().count()
    val hours = got.select(date_trunc("hour", col("window_start"))).distinct().count()
    assert(starts > hours, "sliding windows should outnumber tumbling hours")
  }

  test("sessionization closes sessions on event-time gap, keeps open ones") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SessionEvent]
    val sessions = Streams.sessionize(input.toDS(), gapMs = 60000)
    val q = sessions.writeStream
      .format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: two users, events inside the gap — nothing closes
      input.addData(
        Streams.SessionEvent(1L, new Timestamp(1000), 2.0),
        Streams.SessionEvent(1L, new Timestamp(5000), 3.0),
        Streams.SessionEvent(2L, new Timestamp(2000), 7.0))
      q.processAllAvailable()
      assert(spark.table("sessions_test").count() == 0)
      // batch 2: user 1 event far beyond the gap — closes the session
      input.addData(Streams.SessionEvent(1L, new Timestamp(500000), 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions_test").as[Streams.SessionResult]
        .collect()
      assert(closed.length == 1)
      assert(closed.head.user_id == 1L)
      assert(closed.head.n_events == 2 && closed.head.sum_value == 5.0)
      assert(closed.head.startMs == 1000 && closed.head.endMs == 5000)
    } finally q.stop()
  }

  test("dedup drops redelivered keys across batches within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val deduped = Streams.dedupByKey(
      input.toDS().toDF("event_id", "ts", "value"), "event_id", "1 hour")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val t0 = 100000000L
      input.addData((1L, new Timestamp(t0), 1.0), (2L, new Timestamp(t0 + 1000), 2.0))
      q.processAllAvailable()
      // batch 2 redelivers key 1 (same event time — within watermark) and
      // adds key 3
      input.addData((1L, new Timestamp(t0), 1.0),
        (3L, new Timestamp(t0 + 2000), 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"expected exactly-once ids, got $ids")
    } finally q.stop()
  }

  test("stream-stream interval join matches only in-window same-key pairs") {
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Timestamp)]
    val purchasesIn = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clicksIn.toDS().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val purchases = purchasesIn.toDS()
      .toDF("p_user_id", "purchase_id", "purchase_ts")
      .withWatermark("purchase_ts", "1 hour")
    val joined = Streams.intervalJoin(clicks, purchases,
      "user_id", "p_user_id", "click_ts", "purchase_ts", "1 hour")
    val q = joined.select("click_id", "purchase_id").writeStream
      .format("memory").queryName("interval_join_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val t0 = 200000000L
      clicksIn.addData((7L, 100L, new Timestamp(t0)))
      purchasesIn.addData(
        (7L, 200L, new Timestamp(t0 + 30 * 60 * 1000)), // +30 min: match
        (7L, 201L, new Timestamp(t0 + 2 * 3600 * 1000)), // +2 h: outside gap
        (7L, 202L, new Timestamp(t0 - 1000)),            // before click
        (8L, 203L, new Timestamp(t0 + 1000)))            // other user
      q.processAllAvailable()
      val got = spark.table("interval_join_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 200L)), s"unexpected matches: $got")
    } finally q.stop()
  }

  test("planted late rows are dropped by the watermark and counted in " +
      "lateDrops") {
    // two staged files, one per micro-batch: batch 1 advances the
    // watermark to 11:50; batch 2 plants an event BEHIND it — the
    // stateful aggregation must drop the row (no 07:00 window ever
    // appears) and the shared runner must account for the drop.
    // (Stream-stream INNER joins never drop late inputs — an in-state
    // partner may still match them — so the engine's
    // numRowsDroppedByWatermark lives on aggregation/dedup state ops;
    // the runner-level accounting covers every streaming query
    // uniformly, joins included, counting whatever the engine drops.)
    val dir = java.nio.file.Files.createTempDirectory("late_events")
    def ts(s: String) = Timestamp.valueOf(s)
    def stage(name: String, mtime: Long,
        rows: Seq[(Long, Long, Timestamp, String)]): Unit = {
      val tmp = dir.resolve(name + "_tmp")
      rows.toDF("user_id", "event_id", "ts", "event_type")
        .coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime): Unit
    }
    stage("part-0.parquet", 1000000L, Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "click"),
      (1L, 20L, ts("2024-01-01 10:30:00"), "click"),
      (2L, 11L, ts("2024-01-01 12:00:00"), "click")))
    stage("part-1.parquet", 2000000L, Seq(
      (4L, 13L, ts("2024-01-01 12:30:00"), "click")))
    // late-event filtering uses the watermark as of the END of the
    // batch BEFORE the previous one (eviction uses the current one) —
    // so the planted 07:00 row needs two prior batches to be judged
    // against 11:50 (batch 0's closing watermark) and dropped; the
    // 12:40 row rides the same batch on time
    stage("part-2.parquet", 3000000L, Seq(
      (3L, 12L, ts("2024-01-01 07:00:00"), "click"),
      (4L, 14L, ts("2024-01-01 12:40:00"), "click")))
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$dir/part-0.parquet").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val agg = raw.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
    val updates = Streams.runAvailableNow(spark, agg,
        "late_agg_test", OutputMode.Update())
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    // the late event's window never materializes...
    assert(!updates.exists(_._1 == ts("2024-01-01 07:00:00")),
      s"late row leaked into a window: ${updates.toSeq}")
    // ...the on-time events do: [12:00,13:00) re-emits per batch,
    // ending at n=3 (12:00 + 12:30 + 12:40) — so the same batch that
    // dropped the late row aggregated its on-time companion
    assert(updates.contains((ts("2024-01-01 12:00:00"), 3L)),
      s"on-time row missing: ${updates.toSeq}")
    // and the drop is accounted
    assert(Streams.lateDrops.get("late_agg_test") == 1L,
      s"expected 1 dropped row, got ${Streams.lateDrops.get("late_agg_test")}")
  }

  test("open-session snapshot tracks in-progress sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SessionEvent]
    val sessions = Streams.openSessions(input.toDS(), gapMs = 60000)
    val q = sessions.writeStream
      .format("memory").queryName("open_sessions_test")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        Streams.SessionEvent(1L, new Timestamp(1000), 2.0),
        Streams.SessionEvent(1L, new Timestamp(5000), 3.0),
        Streams.SessionEvent(2L, new Timestamp(2000), 7.0))
      q.processAllAvailable()
      val rows = spark.table("open_sessions_test").as[Streams.SessionResult]
        .collect().map(r => r.user_id -> r).toMap
      assert(rows(1L).n_events == 2 && rows(1L).sum_value == 5.0)
      assert(rows(2L).n_events == 1 && rows(2L).sum_value == 7.0)
    } finally q.stop()
  }
  test("restart from checkpoint resumes at recorded offsets: no reprocess, no loss") {
    val base = java.nio.file.Files.createTempDirectory("ck_restart")
    val srcDir = base.resolve("src"); java.nio.file.Files.createDirectory(srcDir)
    val out = base.toString + "/out"
    val ck = base.toString + "/ck"
    def stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType))))
      .parquet(srcDir.toString)

    (1 to 500).toDF("id").coalesce(1)
      .write.mode("append").parquet(srcDir.toString)
    Streams.resumableAttempt(stream, out, ck, "ck_run1")
    assert(spark.read.parquet(out).count() == 500)

    // new data lands while the query is DOWN; the original files are
    // still in the source dir on restart
    (501 to 1000).toDF("id").coalesce(1)
      .write.mode("append").parquet(srcDir.toString)
    Streams.resumableAttempt(stream, out, ck, "ck_run2")

    val ids = spark.read.parquet(out).select(col("id"))
      .collect().map(_.getInt(0))
    assert(ids.length == 1000,
      s"expected exactly 1000 rows (reprocess would give more, " +
        s"loss fewer); got ${ids.length}")
    assert(ids.toSet == (1 to 1000).toSet)
  }

  test("transformWithState carries state across micro-batches") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val dir = java.nio.file.Files.createTempDirectory("tws_src")
      // two files + maxFilesPerTrigger=1 => two micro-batches; the
      // second batch MUST see the first's state or totals reset
      Seq((1L, new Timestamp(1000L), 10.0), (2L, new Timestamp(2000L), 5.0))
        .toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(dir.toString)
      Seq((1L, new Timestamp(3000L), 7.0))
        .toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(dir.toString)
      val raw = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
        .as[Streams.SessionEvent]
      val got = Streams.runAvailableNow(spark,
          Streams.runningTotals(raw).toDF(),
          s"tws_test_${System.nanoTime()}", OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), max(col("total")).as("total"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got(1L) == ((2L, 17.0)), s"user 1: ${got(1L)}")
      assert(got(2L) == ((1L, 5.0)), s"user 2: ${got(2L)}")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming index append ingests per micro-batch and serves the full corpus") {
    import graft.llm.Similarity
    val dim = 8; val bits = 4; val tables = 4; val groups = 8
    val corpus = (0 until 120).map { i =>
      val a = i % 3
      (i.toLong, Array.tabulate(dim)(j =>
        if (j == a) 1.0 else 0.01 * ((i + j) % 4)).toSeq)
    }.toDF("vec_id", "embedding")
    val src = java.nio.file.Files.createTempDirectory("emb_src").toString
    corpus.write.mode("overwrite").parquet(src + "/embeddings.parquet")
    val stream = Streams.idParityStream(spark,
      src + "/embeddings.parquet", "vec_id", halves = 3)
    val path = java.nio.file.Files.createTempDirectory("idx_stream")
      .toString + "/idx"
    val n = Streams.appendIndexAvailableNow(spark, stream, "embedding",
      "vec_id", path, dim = dim, bits = bits, tables = tables,
      groups = groups)
    assert(n == 3, s"expected 3 micro-batches (one per staged file), got $n")
    // the streamed index serves exactly like a one-shot batch build
    val full = java.nio.file.Files.createTempDirectory("idx_full")
      .toString + "/idx"
    Similarity.writeLshIndex(
      Similarity.multiTableIndex(
        corpus.withColumnRenamed("vec_id", "id_"), "embedding", "id_",
        dim = dim, bits = bits, tables = tables), full, groups = groups)
    val query = Array.tabulate(dim)(j => if (j == 1) 1.0 else 0.02)
    def key(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getLong(0), math.round(x.getDouble(1) * 1e9))).toSeq
    val streamed = key(Similarity.topKAnnDisk(spark, path, query,
      dim = dim, bits = bits, tables = tables, k = 5, groups = groups))
    val batch = key(Similarity.topKAnnDisk(spark, full, query,
      dim = dim, bits = bits, tables = tables, k = 5, groups = groups))
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streaming bm25 append builds per micro-batch and serves like " +
      "a one-shot build") {
    import graft.llm.Vocabulary
    val corpus = (0 until 60).map { i =>
      (i.toLong, s"w$i apple shared${i % 5} " +
        (if (i % 3 == 0) "banana" else "cherry"))
    }.toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("bm25_stream_src")
    corpus.coalesce(1).write.mode("overwrite")
      .parquet(src.resolve("tbl").toString)
    val file = new java.io.File(src.resolve("tbl").toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getPath
    val stream = Streams.idParityStream(spark, file, "doc_id", halves = 3)
    val inc = java.nio.file.Files.createTempDirectory("bm25_stream")
      .toString + "/idx"
    val n = Streams.appendBm25AvailableNow(spark, stream, "doc_id",
      "text", inc, buckets = 8)
    assert(n == 3, s"expected 3 micro-batches, got $n")
    val full = java.nio.file.Files.createTempDirectory("bm25_full")
      .toString + "/idx"
    Vocabulary.writeBm25Index(corpus, "doc_id", "text", full, buckets = 8)
    def serve(p: String) = Vocabulary.bm25Disk(spark, p,
        Seq("apple", "banana"), topK = 10, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(serve(inc) == serve(full),
      s"streamed=${serve(inc)} full=${serve(full)}")
  }

  test("streaming minhash dedup: first arrival wins within and across epochs") {
    // planted duplicate groups {0,1,3} and {2,5}; texts across groups
    // share no tokens, so only exact twins collide. Parity staging
    // arrives evens (0,2,4,6) then odds (1,3,5).
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "unique prose about streaming watermark state stores"),
      (5L, "one two three four five six seven eight nine"),
      (6L, "different words describing catalyst physical planning")
    ).toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("doc_src").toString
    docs.write.mode("overwrite").parquet(src + "/docs.parquet")
    val stream = Streams.idParityStream(spark,
      src + "/docs.parquet", "doc_id", halves = 2)
    val base = java.nio.file.Files.createTempDirectory("dedup_stream")
      .toString
    val n = Streams.dedupMinhashAvailableNow(spark, stream, "doc_id",
      "text", s"$base/store", s"$base/out")
    assert(n == 2, s"expected 2 micro-batches, got $n")
    val survivors = spark.read.parquet(s"$base/out")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    // epoch 0 (evens): all distinct texts → 0,2,4,6 survive.
    // epoch 1 (odds): 1 collides with stored 0; 5 with stored 2; 3
    // with stored 0 (and with dropped 1's keys) → none survive.
    assert(survivors == Seq(0L, 2L, 4L, 6L), survivors.toString)
    // the store accumulated both epochs' keys in batch=<id> dirs
    val storeBatches = spark.read.parquet(s"$base/store")
      .select(col("batch")).distinct().collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(storeBatches == Seq(0, 1), storeBatches.toString)
  }

  test("streaming router partitions every row into accept XOR dead-letter") {
    val docs = (0 until 40).map(i =>
      (i.toLong, if (i % 3 == 0) "short" else
        "this document easily clears the minimum token count gate " +
          s"with content number $i")).toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("router_src")
      .toString
    docs.write.mode("overwrite").parquet(src + "/docs.parquet")
    val stream = Streams.idParityStream(spark,
      src + "/docs.parquet", "doc_id", halves = 2)
    val base = java.nio.file.Files.createTempDirectory("router_out")
      .toString
    val n = Streams.routeAvailableNow(spark, stream,
      graft.llm.TextAnalysis.tokenCount(col("text")) >= 5, "too_short",
      s"$base/ok", s"$base/dlq")
    assert(n == 2, s"expected 2 micro-batches, got $n")
    val ok = spark.read.parquet(s"$base/ok")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val dlq = spark.read.parquet(s"$base/dlq")
    val dlqIds = dlq.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // exact partition of the input: disjoint, and jointly exhaustive
    assert(ok.intersect(dlqIds).isEmpty)
    assert(ok.union(dlqIds) == (0L until 40L).toSet)
    assert(ok == (0L until 40L).filter(_ % 3 != 0).toSet)
    // the dead letter carries its audit reason
    assert(dlq.select(col("reject_reason")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("too_short"))
  }

  test("streaming router sends NULL-gated rows to the dead-letter sink") {
    // a NULL text makes the accept predicate evaluate to NULL (3VL):
    // such rows must land in the DLQ, not vanish from both sinks
    val docs = Seq((0L, "plenty of tokens in this document right here"),
      (1L, null.asInstanceOf[String]), (2L, "short"),
      (3L, "another document with enough words to pass the gate"))
      .toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("router_null_src")
      .toString
    docs.write.mode("overwrite").parquet(src + "/docs.parquet")
    val stream = Streams.idParityStream(spark,
      src + "/docs.parquet", "doc_id", halves = 1)
    val base = java.nio.file.Files.createTempDirectory("router_null_out")
      .toString
    Streams.routeAvailableNow(spark, stream,
      length(col("text")) >= 20, "gate_failed",
      s"$base/ok", s"$base/dlq"): Unit
    val ok = spark.read.parquet(s"$base/ok")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val dlq = spark.read.parquet(s"$base/dlq")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ok == Set(0L, 3L), ok.toString)
    // the NULL-text row routes to the DLQ alongside the short row
    assert(dlq == Set(1L, 2L), dlq.toString)
  }

  test("CDC fold keeps the latest version across batches; tombstones beat older updates") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val dir = java.nio.file.Files.createTempDirectory("cdc_src")
      // batch 1: key1 v1, key2 TOMBSTONE (late ts), key3 v1 at ts=4000
      Seq((1L, 1L, new Timestamp(1000L), "U", 10.0),
          (2L, 2L, new Timestamp(5000L), "D", 0.0),
          (3L, 5L, new Timestamp(4000L), "U", 1.0))
        .toDF("user_id", "event_id", "ts", "op", "value").coalesce(1)
        .write.mode("append").parquet(dir.toString)
      // batch 2: key1 newer update (wins), key2 OLDER update (must
      // lose to the tombstone), key3 same-ts higher id (tie-break wins)
      Seq((1L, 3L, new Timestamp(3000L), "U", 7.0),
          (2L, 4L, new Timestamp(2000L), "U", 5.0),
          (3L, 6L, new Timestamp(4000L), "U", 2.0))
        .toDF("user_id", "event_id", "ts", "op", "value").coalesce(1)
        .write.mode("append").parquet(dir.toString)
      import org.apache.spark.sql.types.{StructType, StructField, LongType, TimestampType, StringType, DoubleType}
      val raw = spark.readStream
        .schema(StructType(Seq(
          StructField("user_id", LongType), StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("op", StringType),
          StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
        .as[Streams.CdcEvent]
      val got = Streams.runAvailableNow(spark,
          Streams.cdcSnapshot(raw).toDF(),
          s"cdc_test_${System.nanoTime()}", OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("op"), col("value")), col("n_versions"))
          .as("last"), max(col("n_versions")).as("n"))
        .collect().map(r => r.getLong(0) ->
          ((r.getStruct(1).getString(0), r.getStruct(1).getDouble(1),
            r.getLong(2))))
        .toMap
      assert(got(1L) == (("U", 7.0, 2L)), s"key 1: ${got(1L)}")
      assert(got(2L) == (("D", 0.0, 2L)), s"key 2: ${got(2L)}")
      assert(got(3L) == (("U", 2.0, 2L)), s"key 3: ${got(3L)}")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Dirs named `prefix*` in the places a throwaway checkpoint can
    * land (tmpfs or the normal temp dir).
    */
  private def throwawayDirs(prefix: String): Seq[java.io.File] =
    Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
      .flatMap(d => Option(new java.io.File(d).listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith(prefix))

  test("the one-shot runner deletes its checkpoint after a clean run and " +
      "after a batch body throws") {
    val src = java.nio.file.Files.createTempDirectory("oneshot_src")
    (1 to 20).toDF("id").coalesce(1).write.parquet(src.resolve("t").toString)
    def stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType))))
      .parquet(src.resolve("t").toString)
    def run(prefix: String, fail: Boolean): Seq[Int] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      Streams.runOnce(stream.writeStream.foreachBatch {
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          seen.add(throwawayDirs(prefix).size)
          if (fail) throw new IllegalStateException("planted batch failure")
      }, prefix)
      seen.toArray(Array.empty[Integer]).toSeq.map(_.intValue)
    }
    val clean = s"oneshot_clean_${System.nanoTime()}_"
    assert(run(clean, fail = false) == Seq(1),
      "the batch body did not see exactly one live checkpoint")
    assert(throwawayDirs(clean).isEmpty,
      s"a clean run left its checkpoint: ${throwawayDirs(clean)}")
    val failing = s"oneshot_fail_${System.nanoTime()}_"
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(failing, fail = true)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "planted batch failure"), e.toString)
    assert(throwawayDirs(failing).isEmpty,
      s"a failed run left its checkpoint: ${throwawayDirs(failing)}")
  }

  test("the staging cache returns the same dir for an unchanged file and " +
      "stages again once its size or mtime changes") {
    val file = java.nio.file.Files.createTempFile("staged_src", ".bin")
    java.nio.file.Files.write(file, Array[Byte](1, 2, 3))
    val f = file.toFile
    f.setLastModified(1700000000000L)
    val stagings = new java.util.concurrent.atomic.AtomicInteger(0)
    def stage(param: Int): String =
      Streams.staged("staged_spec", f.toString, param) { _ =>
        stagings.incrementAndGet(): Unit
      }
    val first = stage(1)
    assert(stage(1) == first && stagings.get == 1,
      "an unchanged file was staged again")
    assert(stage(2) != first && stagings.get == 2,
      "a different parameter shared the staged dir")
    // same size, new mtime
    f.setLastModified(1700000060000L)
    val afterTouch = stage(1)
    assert(afterTouch != first && stagings.get == 3,
      "an mtime change served the stale staging")
    // new size, mtime pinned back to the previous value
    java.nio.file.Files.write(file, Array[Byte](1, 2, 3, 4))
    f.setLastModified(1700000060000L)
    val afterGrow = stage(1)
    assert(afterGrow != afterTouch && stagings.get == 4,
      "a size change served the stale staging")
    assert(stage(1) == afterGrow && stagings.get == 4)
  }
}
