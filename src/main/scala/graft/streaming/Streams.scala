package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (additive — the reference has no
  * streaming, SURVEY §1.3; the `events` fixture defines the shape).
  * Each operator is the streaming twin of a registered batch query so
  * correctness is checkable by equivalence: run the stream over the
  * same files with `availableNow` and compare to the batch answer.
  *
  * Scale notes: windowed aggregations carry watermark-bounded state;
  * sessionization state is per-key and evicted by timeout — both shapes
  * survive unbounded input. File sources at 100 TB should be replaced
  * by a replayable log source (same API surface).
  */
object Streams {

  /** The events schema as the stream sees it (ts already µs). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based event stream over a parquet directory. The fixture's
    * `ts` physical type has changed across generations (NANOS, then
    * MICROS NTZ), so the stream schema is derived from the staged
    * files' own footer (via a batch schema inference — footer-only IO)
    * rather than pinned. `Tables.normalizeEventsTs` then applies the
    * one shared conversion and FAILS LOUDLY on an unrecognized type —
    * a pinned-but-wrong schema here previously read µs values as nanos
    * and silently compressed every timestamp 1000×.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDiskSchema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(onDiskSchema).parquet(dir)
    graft.sources.Tables.normalizeEventsTs(spark, raw, dir)
  }

  /** Stage a single fixture parquet FILE into a fresh directory (the
    * streaming file source requires a directory) and open it as an
    * event stream. `copies > 1` stages the same file several times —
    * simulated at-least-once redelivery for the dedup operator. Nine
    * registered queries open this stream; the staged dir and its schema
    * are memoized ([[staged]], `stagedSchema`), so none of them re-copies
    * the file or re-runs the driver-side schema inference. Unpaced: the
    * redelivered copies must land in one batch.
    */
  def eventsStreamFromFile(spark: SparkSession, parquetFile: String,
      copies: Int = 1): DataFrame = {
    val dir = staged("events_stream", parquetFile, copies) { d =>
      (0 until copies).foreach { i =>
        Files.copy(Paths.get(parquetFile), d.resolve(s"part-$i.parquet"))
      }
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream.schema(stagedSchema(spark, dir)).parquet(dir)
    graft.sources.Tables.normalizeEventsTs(spark, raw, dir)
  }

  /** Exactly-once dedup under at-least-once delivery:
    * `dropDuplicatesWithinWatermark` keyed by `keyCol`, with state
    * evicted once the event-time watermark passes a key — bounded state
    * on an unbounded stream, the property a plain `dropDuplicates`
    * lacks. Duplicates are only guaranteed caught while the key is in
    * state (arriving within the watermark delay); an AvailableNow
    * replay without `maxFilesPerTrigger` processes all staged files in
    * one batch, so re-staged copies always fall inside it.
    */
  def dedupByKey(events: DataFrame, keyCol: String, watermark: String,
      tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Watermarked stream-stream interval join: right rows within
    * `[tLeft, tLeft + maxGap]` on an equi-key. Both inputs MUST carry
    * watermarks (caller's `withWatermark`) — that is what lets Spark
    * evict join state; without them state grows unboundedly. Inner
    * join: matches emit as soon as both sides arrive, so an
    * AvailableNow replay emits every match.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyLeft: String, keyRight: String,
      tLeft: String, tRight: String, maxGap: String): DataFrame =
    left.join(right,
      col(keyLeft) === col(keyRight) &&
        col(tRight) >= col(tLeft) &&
        col(tRight) <= col(tLeft) + expr(s"interval $maxGap"))

  /** Left-outer stream-stream interval join: matches emit eagerly; an
    * unmatched left row emits with nulls once the watermark passes
    * `tLeft + maxGap` (its state can no longer match). Rows whose
    * bound the final watermark never passes stay in state and never
    * emit — OUTER results are only as complete as the watermark is
    * advanced, which is the semantics any unbounded stream can offer.
    */
  def leftOuterIntervalJoin(left: DataFrame, right: DataFrame,
      keyLeft: String, keyRight: String,
      tLeft: String, tRight: String, maxGap: String): DataFrame =
    left.join(right,
      col(keyLeft) === col(keyRight) &&
        col(tRight) >= col(tLeft) &&
        col(tRight) <= col(tLeft) + expr(s"interval $maxGap"),
      "left_outer")

  /** Size+mtime stamp of a source file: an in-place fixture
    * regeneration within one JVM changes it, so [[staged]] re-stages
    * instead of serving a stale corpus (the same invalidation
    * discipline as the stamp-gated index builds).
    */
  private def fileStamp(p: String): String = {
    val f = new java.io.File(p)
    s"${f.length}:${f.lastModified}"
  }

  private val stagedDirs = new ConcurrentHashMap[String, String]()

  /** The staged fixture dir for (`kind`, `file`, `params`, the file's
    * stamp), written by `stage` into a fresh temp dir the first time
    * and memoized for the process. A staged dir is immutable once
    * written, so every query that opens the same staged stream pays the
    * staging once.
    */
  private[streaming] def staged(kind: String, file: String, params: Any*)(
      stage: Path => Unit): String =
    stagedDirs.computeIfAbsent(
      (Seq(kind, file) ++ params.map(_.toString) :+ fileStamp(file))
        .mkString("|"),
      _ => {
        val d = Files.createTempDirectory(kind)
        stage(d)
        d.toString
      })

  /** Throwaway dir for EPHEMERAL streaming state (one-shot checkpoints
    * and the `streaming_resume` work dir, all deleted when their run
    * ends): memory-backed tmpfs when the platform has one, else the
    * normal temp dir. The checkpoint exists only to satisfy the
    * engine's WAL within one run — durability across process death buys
    * nothing for a run whose own contract deletes it — and the r12
    * floor probe measured ~0.1 s/batch of commit-log fsync latency on
    * real disk. DURABLE streaming (a caller-supplied checkpoint, e.g.
    * [[resumableAttempt]]) is unaffected.
    */
  private def ephemeralCheckpointDir(prefix: String): String = {
    // tmpfs is RAM-capped (typically 50% of it) and full means ENOSPC,
    // not spill — so take the fast path only with real headroom left
    // (state-store files for these single-shot epochs are tens of MB;
    // 2 GiB free keeps us far from both the cap and page-cache
    // pressure). Low headroom → the normal disk temp dir, which
    // degrades to spill instead of failing.
    val shm = new java.io.File("/dev/shm")
    val MinFree = 2L << 30
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > MinFree)
      Files.createTempDirectory(shm.toPath, prefix).toString
    else Files.createTempDirectory(prefix).toString
  }

  /** Run `body` over a fresh [[ephemeralCheckpointDir]] named after
    * `prefix`, and delete the dir however `body` ends.
    */
  private[graft] def withThrowawayDir[A](prefix: String)(
      body: String => A): A = {
    val dir = ephemeralCheckpointDir(prefix)
    try body(dir)
    finally graft.llm.Similarity.rmTree(new java.io.File(dir))
  }

  /** Schema of a staged-stream dir, memoized per dir. Every stream
    * open re-ran a driver-side batch footer inference just to hand
    * `readStream.schema(...)` the staged files' own schema; staged
    * dirs are immutable once written (and their cache stamp-keyed),
    * so the probe result is metadata that can be pinned exactly like
    * [[graft.sources.Tables.table]]'s fixture schemas — the r20
    * schema-pinning discipline extended to the streaming sources.
    */
  private val stagedSchemaCache =
    new ConcurrentHashMap[String, StructType]()

  private def stagedSchema(spark: SparkSession, probePath: String): StructType =
    stagedSchemaCache.computeIfAbsent(probePath,
      p => spark.read.parquet(p).schema)

  /** Write `df` as ONE parquet file named `name` directly under `d` —
    * the staged-stream layout (each file = one paced micro-batch).
    */
  private def stageSingleFile(df: DataFrame, d: Path, name: String): Unit = {
    val tmp = d.resolve(name + "_tmp")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, d.resolve(name)): Unit
  }

  /** Stage the events fixture as TWO time-ordered files (split at
    * `splitTs`) read with [[pacedStream]] — two micro-batches, so the
    * second batch runs with the watermark advanced to
    * `max(ts in file 1) − delay`. That makes outer-join flush points
    * DERIVABLE: a batch oracle can compute exactly which unmatched
    * rows the stream must have emitted. The nanos→µs conversion is
    * applied at staging time, so the restaged files carry real
    * timestamps.
    */
  def eventsStreamTwoBatches(spark: SparkSession, parquetFile: String,
      splitTs: String): DataFrame =
    pacedStream(spark, staged("events_2b", parquetFile, splitTs) { d =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val full = graft.sources.Tables.normalizeEventsTs(spark,
        spark.read.parquet(parquetFile), parquetFile)
      val cut = col("ts") < lit(splitTs).cast("timestamp")
      stageSingleFile(full.filter(cut), d, "part-0.parquet")
      stageSingleFile(full.filter(!cut), d, "part-1.parquet")
    })

  /** Stage a parquet table into `halves` files split by `idCol` parity
    * and open it with [[pacedStream]], one file per micro-batch — the
    * ingest shape for streaming index maintenance and the
    * foreachBatch runners below (embeddings or documents alike).
    */
  def idParityStream(spark: SparkSession, parquetFile: String,
      idCol: String, halves: Int = 2): DataFrame =
    pacedStream(spark, staged("parity_stream", parquetFile, idCol, halves) {
      d =>
        val full = spark.read.parquet(parquetFile)
        (0 until halves).foreach { h =>
          stageSingleFile(full.filter(pmod(col(idCol), lit(halves)) === h),
            d, s"part-$h.parquet")
        }
    })

  /** Run an already configured `writer` once over all available input
    * (`AvailableNow`) on a throwaway checkpoint, wait for it, and drop
    * the checkpoint whether the run succeeded or threw. The checkpoint's
    * only job is this run's offset tracking; a resumable deployment
    * passes a durable location instead, as [[resumableAttempt]] does.
    * Returns the terminated query (its progress stays readable).
    */
  private[graft] def runOnce(writer: DataStreamWriter[Row],
      checkpointPrefix: String): StreamingQuery =
    withThrowawayDir(checkpointPrefix) { ckpt =>
      val q = writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      // no stop(): it cancels the query's job group, and a pool thread
      // that inherited that group may be running another query's job
      q.awaitTermination()
      q
    }

  /** [[runOnce]] over an append-mode `foreachBatch` sink running `body`
    * per micro-batch; returns the number of micro-batches run, so
    * callers can assert the ingest was actually incremental.
    */
  private def runBatches(stream: DataFrame, checkpointPrefix: String)(
      body: (Dataset[Row], Long) => Unit): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    runOnce(stream.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch, batchId)
        batches.incrementAndGet(): Unit
      }, checkpointPrefix)
    batches.get()
  }

  /** STREAMING ANN index maintenance: each micro-batch of arriving
    * vectors appends into the disk LSH index via
    * [[graft.llm.Similarity.appendLshIndex]] — new files only, in the
    * same (table, grp) layout, O(batch) per epoch — and the serve path
    * is completely unchanged. foreachBatch gives at-least-once batch
    * delivery; the serve path's `dropDuplicates(id)` makes a replayed
    * append harmless for top-k (idempotent SERVING rather than
    * idempotent output — the right trade for an index whose reader
    * dedups anyway). Returns the number of micro-batches run.
    */
  def appendIndexAvailableNow(spark: SparkSession, vecStream: DataFrame,
      vecCol: String, idCol: String, path: String, dim: Int, bits: Int,
      tables: Int = 8, groups: Int = 64,
      seedPrefix: String = "lsh"): Long =
    runBatches(vecStream, "idx_append_ckpt") { (batch, _) =>
      graft.llm.Similarity.appendLshIndex(batch, vecCol, idCol, path,
        dim = dim, bits = bits, tables = tables, groups = groups,
        seedPrefix = seedPrefix)
    }

  /** STREAMING BM25 index maintenance — the sparse-retrieval twin of
    * [[appendIndexAvailableNow]]: the FIRST micro-batch builds the
    * inverted index (postings + stats sidecar), every later batch
    * appends via [[graft.llm.Vocabulary.appendBm25Index]] — postings
    * land in the same md5-term-bucket layout, the stats sidecar merges
    * associatively from exact integer sums, O(batch) per epoch. The
    * serve path is completely unchanged. The first-batch/append split
    * matters: append needs an existing stats sidecar to merge into,
    * and a real deployment bootstraps the same way (initial bulk
    * build, then nightly stream). Returns the number of micro-batches.
    */
  def appendBm25AvailableNow(spark: SparkSession, docStream: DataFrame,
      idCol: String, textCol: String, path: String,
      buckets: Int = 64): Long =
    // the checkpoint is fresh, so the first micro-batch is batch 0
    runBatches(docStream, "bm25_append_ckpt") { (batch, batchId) =>
      if (batchId == 0L)
        graft.llm.Vocabulary.writeBm25Index(batch, idCol, textCol,
          path, buckets = buckets)
      else
        graft.llm.Vocabulary.appendBm25Index(batch, idCol, textCol,
          path, buckets = buckets)
    }

  /** STREAMING first-seen-wins near-dup dedup against a PERSISTENT
    * band-signature store — the online half of the MinHash-LSH dedup
    * family: each arriving micro-batch computes its documents'
    * portable LSH band keys ([[graft.llm.Dedup.bandKeysPortable]]),
    * drops every document that shares a band with the STORE (content
    * seen in any earlier epoch) or with a smaller-id document in the
    * SAME batch, then appends the batch's distinct keys to the store
    * and its survivors to the output — O(batch · bands) work per
    * epoch, never a rescan of history. This is the ingest-time shape
    * of web-crawl dedup: the store holds ~bands × 50 B per document
    * ever seen (dropped documents' keys included — "seen content"
    * semantics, so a near-dup of a dropped document is also dropped).
    *
    * At-least-once replay safety: both store and output write to
    * idempotent `batch=<id>` subdirectories (a replayed epoch
    * overwrites its own dirs), and the history read filters
    * `batch < currentBatchId` — a replayed batch never collides with
    * its own partially-appended keys. Returns the micro-batch count.
    */
  def dedupMinhashAvailableNow(spark: SparkSession, docStream: DataFrame,
      idCol: String, textCol: String, storeDir: String, outDir: String,
      numHashes: Int = 8, bands: Int = 4): Long =
    runBatches(docStream, "dedup_stream_ckpt") { (batch, batchId) =>
      val s2 = batch.sparkSession
      val keys = graft.llm.Dedup.bandKeysPortable(batch, idCol,
        textCol, numHashes, bands).persist()
      // window-min, not groupBy+self-join: one shuffle on band
      // instead of two (the minhashClusters idiom) — partition
      // size is the band bucket, bounded by collision rate
      val dupBatch = keys
        .withColumn("first_id", min(col("id")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"))))
        .filter(col("id") > col("first_id")).select(col("id"))
      // the HISTORY side stays a keyed semi join — the band store
      // is corpus-sized at scale (never broadcastable); only the
      // batch-bounded dup-id set below broadcasts
      val dups =
        (if (new java.io.File(storeDir).exists())
           keys.join(
             s2.read.parquet(storeDir)
               .filter(col("batch") < batchId).select(col("band")),
             Seq("band"), "left_semi").select(col("id"))
             .union(dupBatch)
         else dupBatch).distinct()
      // the survivor write and the store-key write are independent
      // actions on the persisted keys frame — overlap them (guide
      // §2.6); both land in idempotent batch=<id> dirs, and the
      // replay contract never orders one against the other (the
      // history read filters batch < current either way)
      val storeWrite = graft.core.Sessions.carryJobDescription(s2) {
        keys.select(col("band")).distinct()
          .write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
      }(ExecutionContext.global)
      batch.join(
          broadcast(dups.withColumnRenamed("id", idCol)), Seq(idCol),
          "left_anti")
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      Await.result(storeWrite, Duration.Inf)
      keys.unpersist(): Unit
    }

  /** STREAMING ROUTER with a dead-letter side output — the
    * quality-gate shape of a production ingest: each micro-batch is
    * split ONCE by a predicate, accepted rows land in the main sink
    * and rejected rows in the dead-letter sink WITH the batch id and
    * a reason column (an auditable DLQ, not a silent drop — the
    * streaming analogue of the batch observe() drop metrics this repo
    * pins on its candidate generators). Both sinks write idempotent
    * `batch=<id>` dirs, so an at-least-once replay overwrites its own
    * epoch on both sides and acceptance+rejection stays a partition
    * of the input. Returns the micro-batch count.
    */
  def routeAvailableNow(spark: SparkSession, stream: DataFrame,
      accept: org.apache.spark.sql.Column, reason: String,
      acceptDir: String, deadLetterDir: String): Long =
    runBatches(stream, "router_ckpt") { (batch, batchId) =>
      // NULL predicates (3VL) must route to the DLQ, not vanish
      // from both sinks: coalesce pins the gate to a real boolean
      // so acceptance+rejection stays a partition of the input
      val marked = batch
        .withColumn("__accept", coalesce(accept, lit(false))).persist()
      // the two sides of the router are independent writes over the
      // persisted gate frame — overlap them (guide §2.6); each is
      // idempotent in its own batch=<id> dir
      val dlq = graft.core.Sessions.carryJobDescription(batch.sparkSession) {
        marked.filter(!col("__accept")).drop("__accept")
          .withColumn("reject_reason", lit(reason))
          .write.mode("overwrite")
          .parquet(s"$deadLetterDir/batch=$batchId")
      }(ExecutionContext.global)
      marked.filter(col("__accept")).drop("__accept")
        .write.mode("overwrite").parquet(s"$acceptDir/batch=$batchId")
      Await.result(dlq, Duration.Inf)
      marked.unpersist(): Unit
    }

  /** STREAMING CDC UPSERT INTO A LAKEHOUSE TABLE — the canonical
    * stream-to-lakehouse pattern: each micro-batch of changelog rows
    * (op ∈ {U, D}, versioned by (ts, event_id)) first COLLAPSES to
    * its latest version per key (mandatory: MERGE's cardinality check
    * rejects multi-matching sources, and applying stale intra-batch
    * versions would be wasted writes anyway), then executes one SQL
    * `MERGE INTO` against the target table on the V2 catalog —
    * matched tombstones delete, matched updates overwrite, unmatched
    * non-tombstones insert (an unmatched tombstone is a no-op by
    * falling through the WHEN list). Batches staged in event-time
    * order make the unconditional UPDATE correct here; an
    * out-of-order deployment adds `AND (s.ts, s.event_id) >
    * (t.ts, t.event_id)` to the update clause — same plan shape.
    *
    * Each batch costs one copy-on-write MERGE (scan target + join
    * batch + rewrite group); at 100 TB on a file-format catalog this
    * is the standard foreachBatch-MERGE idiom, with per-file pruning
    * doing what the whole-table rewrite does here. Returns the
    * micro-batch count.
    */
  def cdcMergeAvailableNow(stream: DataFrame, targetTable: String): Long =
    runBatches(stream, "cdc_merge_ckpt") { (batch, _) =>
      val bs = batch.sparkSession
      bs.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      batch.groupBy(col("user_id"))
        .agg(max_by(
          struct(col("op"), col("value"), col("ts"), col("event_id")),
          struct(col("ts"), col("event_id"))).as("l"))
        .select(col("user_id"), col("l.op").as("op"),
          col("l.value").as("value"), col("l.ts").as("ts"),
          col("l.event_id").as("event_id"))
        .createOrReplaceTempView("graft_cdc_batch")
      bs.sql(s"""MERGE INTO $targetTable t USING graft_cdc_batch s
        ON t.user_id = s.user_id
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET value = s.value, ts = s.ts,
          event_id = s.event_id
        WHEN NOT MATCHED AND s.op <> 'D' THEN
          INSERT (user_id, value, ts, event_id)
          VALUES (s.user_id, s.value, s.ts, s.event_id)"""): Unit
    }

  /** Tumbling-window hourly aggregate with a watermark — the streaming
    * twin of the batch `events_hourly` catalog query.
    */
  def hourlyAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("n_events"), col("sum_value"))

  /** Hourly approximate distinct users: the sketch aggregation is the
    * ONLY distinct form streaming supports (exact count-distinct would
    * need unbounded per-window key state; HLL state is constant-size
    * per window) — the shape a 100 TB/day stream actually runs.
    * Accuracy is asserted against the batch exact twin by the
    * registered query's bound column.
    */
  def hourlyApproxUsers(events: DataFrame, watermark: String = "2 hours",
      rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("nd_approx"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour_start"), col("n_events"),
        col("nd_approx"))

  /** Sliding-window event rate per type. */
  def slidingTypeCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, n: Long, sum: Double)
  final case class SessionResult(user_id: Long, startMs: Long, endMs: Long,
      n_events: Long, sum_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState: per key, new
    * events either extend the open session or — when the event-time gap
    * exceeds `gapMs` — close it (emitting the closed session) and open a
    * new one. Event-time gap logic rather than a wall-clock timeout
    * keeps the operator deterministic and replayable; state is one open
    * session per active key. (Processing-time timeouts would also evict
    * idle keys, but the AvailableNow trigger used for batch-equivalence
    * testing does not support them in Spark 4.1.)
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long)
      : Dataset[SessionResult] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionResult](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val evs = rows.toSeq.sortBy(_.ts.getTime)
          var open = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionResult]
          evs.foreach { e =>
            val t = e.ts.getTime
            open match {
              case Some(s) if t - s.lastSeen > gapMs =>
                closed += SessionResult(userId, s.start, s.lastSeen, s.n, s.sum)
                open = Some(SessionState(t, t, 1L, e.value))
              case Some(s) =>
                open = Some(SessionState(s.start, math.max(s.lastSeen, t),
                  s.n + 1, s.sum + e.value))
              case None =>
                open = Some(SessionState(t, t, 1L, e.value))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Open (in-progress) sessions snapshot for tests/ops: the same
    * handler but emitting current state each batch (Update mode).
    */
  def openSessions(events: Dataset[SessionEvent], gapMs: Long)
      : Dataset[SessionResult] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionResult](
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val evs = rows.toSeq.sortBy(_.ts.getTime)
          var open = state.getOption
          evs.foreach { e =>
            val t = e.ts.getTime
            open = open match {
              case Some(s) if t - s.lastSeen > gapMs =>
                Some(SessionState(t, t, 1L, e.value))
              case Some(s) =>
                Some(SessionState(s.start, math.max(s.lastSeen, t),
                  s.n + 1, s.sum + e.value))
              case None => Some(SessionState(t, t, 1L, e.value))
            }
          }
          open.foreach(state.update)
          val s = open.get
          SessionResult(userId, s.start, s.lastSeen, s.n, s.sum)
      }
  }

  /** Output row of [[runningTotals]] (top-level for the encoder). */
  final case class RunningTotal(user_id: Long, n: Long, total: Double)

  /** Internal state of [[RunningTotalsProcessor]] (top-level for the
    * encoder).
    */
  final case class TotState(n: Long, total: Double)

  /** Per-user running totals via `transformWithState` — Spark 4's
    * arbitrary-state processor API (successor of
    * `mapGroupsWithState`, with named state slots, composable
    * value/list/map state and TTL). One `ValueState` per user; each
    * micro-batch folds its rows into the state and emits the running
    * figure, so the LAST emission per key equals the batch aggregate —
    * the equivalence the oracle checks. Requires the RocksDB state
    * store provider (the only one the API supports).
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessionEvent, RunningTotal] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[TotState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TotState]("totals",
        org.apache.spark.sql.Encoders.product[TotState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[RunningTotal] = {
      val prev = if (st.exists()) st.get() else TotState(0L, 0.0)
      var n = prev.n
      var total = prev.total
      rows.foreach { e => n += 1; total += e.value }
      st.update(TotState(n, total))
      Iterator(RunningTotal(key, n, total))
    }
  }

  def runningTotals(events: Dataset[SessionEvent]): Dataset[RunningTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Input row of the streaming CDC fold (top-level for the encoder):
    * one changelog entry — `op` is 'U' (upsert) or 'D' (delete
    * tombstone), `(ts, event_id)` is the version order.
    */
  final case class CdcEvent(user_id: Long, event_id: Long,
      ts: Timestamp, op: String, value: Double)

  /** Internal state of [[CdcProcessor]]: the winning version so far,
    * as comparable primitives (µs + id), plus the fold count.
    */
  final case class CdcState(tsUs: Long, eventId: Long, op: String,
      value: Double, n: Long)

  /** Output row: the per-key snapshot candidate after each batch. */
  final case class CdcSnapshot(user_id: Long, n_versions: Long,
      op: String, value: Double, ts: Timestamp)

  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming CDC apply: the batch `cdc_apply` fold (latest version
    * per key by `(ts, id)`, tombstones beat older updates) as an
    * arbitrary-state processor. One ValueState per key carries the
    * current winner ACROSS micro-batches — after the last batch, the
    * final emission per key IS the snapshot row, the equivalence the
    * oracle checks. State is O(keys) and constant per key: the
    * streaming form never re-reads history, which is the whole point
    * of CDC at 100 TB — the batch recompute touches every version
    * ever, the stream touches each version once.
    */
  class CdcProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, CdcEvent, CdcSnapshot] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[CdcState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[CdcState]("cdc",
        org.apache.spark.sql.Encoders.product[CdcState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CdcEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CdcSnapshot] = {
      var best = if (st.exists()) st.get()
        else CdcState(Long.MinValue, Long.MinValue, "", 0.0, 0L)
      rows.foreach { e =>
        val us = micros(e.ts)
        val wins = us > best.tsUs ||
          (us == best.tsUs && e.event_id > best.eventId)
        best = CdcState(
          if (wins) us else best.tsUs,
          if (wins) e.event_id else best.eventId,
          if (wins) e.op else best.op,
          if (wins) e.value else best.value,
          best.n + 1)
      }
      st.update(best)
      Iterator(CdcSnapshot(key, best.n, best.op, best.value,
        fromMicros(best.tsUs)))
    }
  }

  def cdcSnapshot(log: Dataset[CdcEvent]): Dataset[CdcSnapshot] = {
    import log.sparkSession.implicits._
    log.groupByKey(_.user_id)
      .transformWithState(new CdcProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** LATE-DATA ACCOUNTING: rows a stateful operator dropped because
    * they arrived behind the watermark, per runner invocation (keyed
    * by query name, latest run wins). Batch candidate generators all
    * carry observe() drop metrics; this is the streaming twin — fed
    * from the engine's own `numRowsDroppedByWatermark` state-operator
    * metric rather than a hand-rolled observe() expression, because
    * only the engine sees the runtime watermark a row was judged
    * against (an input-side observe() cannot). Every
    * [[runAvailableNow]]-family run records here, so the streaming
    * join/window queries get drop accounting for free; StreamsSpec
    * pins the counter against a planted late event.
    */
  val lateDrops = new ConcurrentHashMap[String, Long]()

  private def recordLateDrops(queryName: String, q: StreamingQuery): Unit = {
    val dropped = q.recentProgress.iterator
      .flatMap(_.stateOperators.iterator.map(_.numRowsDroppedByWatermark))
      .sum
    lateDrops.put(queryName, dropped): Unit
  }

  /** Run a streaming frame over the full available input once
    * (`availableNow`) into an in-memory table and return the result —
    * the batch-equivalence harness used by specs and the catalog.
    * Watermark-dropped row counts land in [[lateDrops]].
    */
  def runAvailableNow(spark: SparkSession, streamed: DataFrame,
      queryName: String, outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    recordLateDrops(queryName, runOnce(streamed.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode), "graft_ephemeral_ckpt"))
    spark.table(queryName)
  }

  // ──────────────────── durable crash-resume ────────────────────

  /** Stage a fixture parquet FILE as `parts` time-ordered files in a
    * fresh directory (memoized per (file, parts, dupEvery, stamp)) —
    * the paced multi-epoch source shape for durable-resume runs.
    * Splitting on the GLOBAL ts order makes the watermark advance
    * monotonically across epochs, so any watermarked operator
    * downstream behaves identically on every uninterrupted or resumed
    * run. With `dupEvery > 0`, every dupEvery-th row (by event_id) is
    * ALSO appended to the last part — redelivered duplicates that
    * span every earlier epoch, so a dedup operator's recovered state
    * is what suppresses them after a crash.
    */
  def stageEventsParts(spark: SparkSession, parquetFile: String,
      parts: Int, dupEvery: Int = 0): String = {
    require(parts >= 2, s"need >=2 parts for multi-epoch pacing, got $parts")
    staged("events_parts", parquetFile, parts, dupEvery) { d =>
      val full = graft.sources.Tables.normalizeEventsTs(spark,
        spark.read.parquet(parquetFile), parquetFile)
      // contiguous time slices of equal row count: ntile over the
      // global (ts, event_id) order — a one-partition sort BY
      // CONSTRUCTION at staging volume, so the constant partition
      // key (non-foldable + null-robust, the codebase idiom) states
      // that intent and keeps WindowExec's single-partition warning
      // out of scale logs. Persisted: every slice filter below
      // would otherwise re-run the global sort
      val sliced = full.withColumn("_slice",
        ntile(parts).over(org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(hash(col("event_id")), lit(1)))
          .orderBy(col("ts"), col("event_id"))))
        .persist()
      try {
        (1 to parts).foreach { p =>
          val slice = sliced.filter(col("_slice") === p).drop("_slice")
          val withDups =
            if (p == parts && dupEvery > 0)
              slice.unionAll(sliced.drop("_slice")
                .filter(pmod(col("event_id"), lit(dupEvery)) === 0))
            else slice
          stageSingleFile(withDups, d, f"part-${p - 1}%02d.parquet")
        }
      } finally sliced.unpersist(): Unit
    }
  }

  /** Open a staged parts directory as a file stream paced at
    * `filesPerTrigger` files per micro-batch — one epoch per staged
    * part by default.
    */
  def pacedStream(spark: SparkSession, dir: String,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(stagedSchema(spark, dir))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .option("latestFirst", "false")
      .parquet(dir)

  /** Marker for the deliberate crash a resume certification injects
    * inside an epoch — after the batch's output landed, before its
    * commit: the widest window at-least-once execution leaves open,
    * and exactly the one idempotent output must close.
    */
  final class ResumeSabotage(val batchId: Long) extends RuntimeException(
    s"resume-certification sabotage: epoch $batchId output written, commit suppressed")

  /** Whether `t`'s cause chain contains a [[ResumeSabotage]] (the
    * engine wraps foreachBatch failures in StreamingQueryException and
    * foreach-batch user-function wrappers).
    */
  def isSabotage(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[ResumeSabotage])

  /** One ATTEMPT of a durable availableNow run into an idempotent
    * foreachBatch parquet sink. Append mode writes each epoch to its
    * own `batch=<id>` dir (a retried epoch rewrites the same path);
    * complete mode overwrites one `snapshot` dir per epoch (the last
    * committed epoch's full result IS the end state). `sabotage`
    * runs INSIDE the epoch after the batch's output is written and
    * before the epoch commits; throwing there kills the query with
    * that epoch uncommitted. `stopAfterBatch >= 0` instead stops the
    * query gracefully once that epoch's progress is reported —
    * the clean-shutdown flavor of interruption.
    */
  def resumableAttempt(streamed: DataFrame, sinkDir: String,
      ckptDir: String, queryName: String, complete: Boolean = false,
      sabotage: Long => Unit = _ => (),
      stopAfterBatch: Long = -1L): Unit = {
    val q = streamed.writeStream
      .queryName(queryName)
      .outputMode(
        if (complete) OutputMode.Complete() else OutputMode.Append())
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dir = if (complete) s"$sinkDir/snapshot"
                  else s"$sinkDir/batch=$batchId"
        batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(dir)
        sabotage(batchId)
      }
      .start()
    if (stopAfterBatch >= 0L) {
      while (q.isActive &&
          !q.recentProgress.exists(_.batchId >= stopAfterBatch))
        Thread.sleep(20)
      q.stop()
    }
    q.awaitTermination()
  }

  /** Read the end state a resumable run assembled: the complete-mode
    * snapshot, or the union of all committed append-mode epoch dirs.
    */
  def readResumableSink(spark: SparkSession, sinkDir: String,
      complete: Boolean): DataFrame =
    if (complete) spark.read.parquet(s"$sinkDir/snapshot")
    else {
      val dirs = Option(new java.io.File(sinkDir).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.toString).sorted
      require(dirs.nonEmpty, s"no committed epochs under $sinkDir")
      spark.read.parquet(dirs.toIndexedSeq: _*)
    }

  /** Crash-and-resume certification harness. Attempt 1 runs the
    * stream with a sabotage crash injected inside epoch
    * `crashAfterBatch` — output written, commit suppressed, query
    * dead. Attempt 2 rebuilds the WHOLE plan from scratch via
    * `mkStream` on a fresh isolated session (new SQLConf, re-analysis
    * — nothing of attempt 1's in-memory query survives) and resumes
    * from the durable checkpoint: the engine re-runs the uncommitted
    * epoch against its recovered state-store version (same batch id,
    * same offsets, rewriting the same idempotent output path) and
    * then drains the remaining input. Returns the assembled end
    * state, which must equal an uninterrupted run's — that equality
    * is exactly-once across a crash.
    */
  def resumeCertified(spark: SparkSession,
      mkStream: SparkSession => DataFrame, workDir: String,
      name: String, crashAfterBatch: Long,
      complete: Boolean = false, statePartitions: Int = 8): DataFrame = {
    val ckpt = s"$workDir/ckpt"
    // state-partition sizing, same rationale as
    // runAvailableNowWithPartitions: each epoch instantiates one state
    // store per shuffle partition per stateful operator, and the
    // checkpoint pins the count — both attempts must agree, so both
    // ride isolated sessions carrying the same override
    val conf = Map("spark.sql.shuffle.partitions" -> statePartitions.toString)
    val s1 = graft.core.Sessions.isolated(spark, conf)
    val crashed =
      try {
        resumableAttempt(mkStream(s1), s"$workDir/sink", ckpt,
          s"${name}_crash", complete,
          sabotage = id =>
            if (id == crashAfterBatch) throw new ResumeSabotage(id))
        false
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
            if isSabotage(e) => true
      }
    require(crashed,
      s"sabotage at epoch $crashAfterBatch never fired — input produced " +
        "too few epochs for the crash window this certification needs")
    val fresh = graft.core.Sessions.isolated(spark, conf)
    resumableAttempt(mkStream(fresh), s"$workDir/sink", ckpt,
      s"${name}_resume", complete)
    readResumableSink(spark, s"$workDir/sink", complete)
  }

  /** State-partition count for a stream-stream join over a staged
    * file source, derived from the SOURCE SIZE instead of a constant
    * (guide §2.2: scale-adaptive partitioning — a constant tuned at
    * one scale is wrong at the next). Each partition instantiates
    * four state stores for an interval join, so too many partitions
    * drown small inputs in store setup/commit, and too few serialize
    * state updates on big ones. Calibrated on the
    * `streaming_join_semi` shape (warm end-to-end): at sf0.1 (2 MB
    * source) 2 partitions beat 8 (2.9 s vs 3.5 s); at sf1 (20 MB) 8
    * beat 2 (3.9 s vs 5.8 s) and 32 was 2.7× worse than 8 — i.e. one
    * partition per ~2.5 MB of source, clamped to [2, session shuffle
    * parallelism]. At warehouse scale the cap rules: the ops knob
    * stays `spark.sql.shuffle.partitions`, sized to the cluster.
    */
  def statePartitionsFor(spark: SparkSession, sourceFile: String,
      bytesPerPartition: Long = 2500000L): Int = {
    val len = math.max(0L, new java.io.File(sourceFile).length)
    val cap = spark.sessionState.conf.numShufflePartitions
    math.max(2, math.min(cap, (len / bytesPerPartition).toInt))
  }

  /** Run with stateful-shuffle parallelism right-sized for the stream:
    * a streaming query pins `spark.sql.shuffle.partitions` at start and
    * instantiates one state store per partition per stateful operator
    * (a stream-stream join keeps FOUR per partition) — at batch-bench
    * volumes, 32 partitions mean store setup dwarfs the data. State
    * partitioning is an ops knob: size it to stream volume (raise it
    * for real firehoses; each micro-batch pays per-store overhead).
    *
    * Conf isolation: the override is applied to a THROWAWAY
    * `spark.newSession()` (own SQLConf, shared SparkContext/catalog)
    * and the stream's logical plan is rebound onto it — the caller's
    * session is never mutated, so concurrent batch queries can't
    * silently plan with the stream's partition count and no
    * restore-ordering lock is needed (the previous
    * set/run/restore-under-lock form still leaked the temporary value
    * to any batch query that planned during the stream's window).
    * `extraConf` rides the same isolated session — e.g. the RocksDB
    * state-store provider swap for `transformWithState` runs.
    */
  def runAvailableNowWithPartitions(spark: SparkSession, streamed: DataFrame,
      queryName: String, outputMode: OutputMode,
      statePartitions: Int,
      extraConf: Map[String, String] = Map.empty): DataFrame = {
    val iso = graft.core.Sessions.isolated(spark,
      extraConf + ("spark.sql.shuffle.partitions" -> statePartitions.toString))
    runAvailableNow(iso, graft.core.Sessions.rebind(iso, streamed),
      queryName, outputMode)
  }
}
