package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.relational.AsOf
import graft.sources.IO
import graft.streaming.Streams
import graft.streaming.Streams.{SessionEvent, SessionResult}

/** `event_stream`: a backlog of generated events split into time-ordered
  * part files, consumed one file per trigger with `AvailableNow` by two
  * concurrent queries: `Streams.dedupByKey` on the event id (with a watermark) and
  * `Streams.sessionize` on the user. The deduplicated events are then
  * enriched with each user's tier as of the event time
  * (`AsOf.asofJoinNative`, the `plans` layer's as-of join operator).
  * Each pass reads a backlog of its own. The generator plants
  * Zipf-skewed user keys, redeliveries (exact copies of an event, in the
  * same or the next file), out-of-order rows (older than the previous
  * file's newest row, but within the watermark) and late rows (behind
  * the watermark), so the dedup output and the late-row drops are known
  * in advance.
  */
final class EventStream(ctx: Ctx) extends Workload {
  import EventStream._
  private val spark = ctx.spark
  import spark.implicits._
  private val dir = ctx.path("input/events")
  private val profileDir = ctx.path("input/profiles")

  private var backlogs = Vector.empty[Backlog]

  def generate(): Unit = {
    val rnd = new SplittableRandom(ctx.seed)
    // Zipf(s) over the users: cumulative weights, searched per draw
    val cdf = (1 to Users).scanLeft(0.0)((a, k) => a + 1.0 / math.pow(k, ZipfS)).tail.toArray
    def user(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      (if (i >= 0) i else -i - 1).toLong
    }
    var nextId = 0L
    def event(ts: Long): Event = {
      nextId += 1
      Event(nextId, user(), ts, rnd.nextInt(100000) / 100.0)
    }
    def between(lo: Long, hi: Long) = lo + (rnd.nextDouble() * (hi - lo)).toLong
    backlogs = Vector.tabulate(Shards) { _ =>
      var parts = Vector.empty[Vector[Event]]
      var late = 0
      (0 until Parts).foreach { p =>
        val start = BaseS + p * HourS
        val fresh = Vector.fill(FreshPerPart)(event(between(start, start + HourS)))
        val fromLastFile = if (p == 0) 0 else RedeliveriesPerPart / 2
        val extra =
          if (p == 0) Vector.empty
          else {
            val wms = watermarks(parts)
            // older than the last file's newest row, within the watermark
            val ooo = Vector.fill(OutOfOrderPerPart)(
              event(between(wms.last + MarginS, start)))
            // behind the watermark that drops late rows in this batch
            val lateRows =
              if (p < 2) Vector.empty
              else Vector.fill(LatePerPart)(
                event(between(wms(p - 2) - HourS, wms(p - 2) - MarginS)))
            late += lateRows.length
            // copies of the last file's recent rows, still held in state
            val recent = parts.last.filter(_.ts >= wms.last + MarginS)
            ooo ++ lateRows ++ Vector.fill(fromLastFile)(recent(rnd.nextInt(recent.length)))
          }
        val sameFile = Vector.fill(RedeliveriesPerPart - fromLastFile)(
          fresh(rnd.nextInt(fresh.length)))
        parts :+= shuffle(fresh ++ extra ++ sameFile, rnd)
      }
      // tier changes at half seconds, so no event time ties with one
      val changes = (0L until Users).flatMap { u =>
        Vector.fill(ChangesPerUser)(
          (u, between(BaseS - HourS, BaseS + Parts * HourS) * 1000L + 500L, rnd.nextInt(Tiers)))
      }
      Backlog(parts, late, changes.toVector)
    }
    backlogs.zipWithIndex.flatMap { case (b, i) =>
      b.changes.map { case (u, ms, tier) => (i, u, new Timestamp(ms), tier) }
    }.toDF("backlog", "user_id", "changed_at", "tier")
      .repartition(col("backlog"))
      .write.mode("overwrite").partitionBy("backlog").parquet(profileDir)
    // one write; each (backlog, part) lands in one file, which is then
    // moved into the backlog's own directory in part order
    val tmp = ctx.path("input/events-staging")
    backlogs.zipWithIndex.flatMap { case (b, i) =>
      b.parts.zipWithIndex.flatMap { case (rows, p) =>
        rows.map(e => (i, p, e.id, e.user, new Timestamp(e.ts * 1000L), e.value))
      }
    }.toDF("backlog", "part", "event_id", "user_id", "ts", "value")
      .repartition(col("backlog"), col("part"))
      .write.mode("overwrite").partitionBy("backlog", "part").parquet(tmp)
    val now = System.currentTimeMillis()
    backlogs.indices.foreach { i =>
      val out = new File(s"$dir/backlog-$i")
      out.mkdirs()
      (0 until Parts).foreach { p =>
        val files = new File(s"$tmp/backlog=$i/part=$p").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        require(files.length == 1, s"backlog $i part $p: ${files.length} files")
        val dst = new File(out, f"part-$p%02d.parquet")
        java.nio.file.Files.move(files(0).toPath, dst.toPath)
        // the file source reads files in modification-time order
        dst.setLastModified(now - (Parts - p) * 1000L)
      }
    }
  }

  private def shuffle[A](xs: Vector[A], rnd: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[A]]
  }

  // ------------------------------------------------------------ state
  private var nextShard = Main.SetupRounds
  private var queries = 0
  private val passNs = collection.mutable.ArrayBuffer.empty[Long]
  private val passCpuNs = collection.mutable.ArrayBuffer.empty[Long]
  private val untracedNs = collection.mutable.ArrayBuffer.empty[Long]
  private val tracedNs = collection.mutable.ArrayBuffer.empty[Long]
  private val batchMs = collection.mutable.ArrayBuffer.empty[Double]
  private val progress = collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val dedupProgress = collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val lateDropped = collection.mutable.ArrayBuffer.empty[Long]
  /** (check name, what went wrong) */
  private val problems = collection.mutable.ArrayBuffer.empty[(String, String)]
  private var ops = 0L
  private var failed = 0L

  /** Starts one query over the backlog, one file per trigger, into a
    * memory table named by the returned name.
    */
  private def start(kind: String, i: Int)(build: DataFrame => DataFrame)
      : (StreamingQuery, String) = {
    queries += 1
    val source = Tracer.span("streaming.Streams.pacedStream") {
      Streams.pacedStream(spark, s"$dir/backlog-$i", filesPerTrigger = 1)
    }
    val name = Tracer.queryName(s"${kind}_$queries")
    val q = build(source).writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ctx.path(s"checkpoints/$kind-$queries"))
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    (q, name)
  }

  /** Waits for a query; returns what `consume` makes of its table. */
  private def finish[R](query: (StreamingQuery, String))(consume: DataFrame => R): R = {
    val (q, name) = query
    q.awaitTermination()
    try consume(spark.table(name)) finally spark.catalog.dropTempView(name)
  }

  /** One pass: both queries run at once, each on its own stream thread. */
  private def pass(i: Int): Unit = {
    val b = backlogs(i)
    val dedup = start("dedup", i) { s =>
      Tracer.span("streaming.Streams.dedupByKey") {
        Streams.dedupByKey(s, "event_id", s"$DelayS seconds")
      }.select(col("event_id"), col("user_id"), col("ts"), col("value"))
    }
    val session = start("session", i) { s =>
      Tracer.span("streaming.Streams.sessionize") {
        Streams.sessionize(s.select("user_id", "ts", "value").as[SessionEvent], GapMs)
      }.toDF()
    }
    val (deduped, tiers) = finish(dedup) { out =>
      val rows = out.as[(Long, Long, Timestamp, Double)].collect()
      val profiles = Tracer.span("sources.IO.readParquet") {
        IO.readParquet(spark, s"$profileDir/backlog=$i")
      }
      val tiers = Tracer.span("relational.AsOf.asofJoinNative") {
        AsOf.asofJoinNative(out, profiles, Seq("user_id"), "ts", "changed_at", Seq("tier"))
          .select("event_id", "tier").as[(Long, Option[Int])].collect()
      }
      (rows, tiers)
    }
    val sessions = finish(session)(_.as[SessionResult].collect())
    val (dp, sp) = (dedup._1.recentProgress, session._1.recentProgress)
    val dropped = dp.iterator.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    lateDropped += dropped
    progress ++= dp ++= sp
    dedupProgress ++= dp
    verify(i, b, deduped, dropped, sessions, tiers)
  }

  /** Compares one pass's outputs with what the generator planted; a
    * mismatch is recorded under the check it fails.
    */
  private def verify(i: Int, b: Backlog, deduped: Array[(Long, Long, Timestamp, Double)],
      dropped: Long, sessions: Array[SessionResult], tiers: Array[(Long, Option[Int])]): Unit = {
    val bad = collection.mutable.ArrayBuffer.empty[(String, String)]
    // the batch computation: every row the watermark keeps, once per id
    val expected = b.kept.map(e => (e.id, e.user, e.ts * 1000L, e.value)).toSet
    val got = deduped.map { case (id, u, ts, v) => (id, u, ts.getTime, v) }
    if (got.length != expected.size || got.toSet != expected)
      bad += "stream.dedup_equals_batch" -> (s"${got.length} rows (${got.toSet.size} " +
        s"distinct), expected ${expected.size}; ${got.toSet.diff(expected).size} unexpected, " +
        s"${expected.diff(got.toSet).size} missing")
    if (dropped != b.late)
      bad += "stream.late_rows_dropped" -> s"$dropped dropped, ${b.late} planted"
    val want = referenceSessions(b).sortBy(s => (s.user_id, s.startMs, s.endMs, s.n_events))
    val have = sessions.toVector.sortBy(s => (s.user_id, s.startMs, s.endMs, s.n_events))
    val same = want.length == have.length && want.zip(have).forall { case (a, c) =>
      a.user_id == c.user_id && a.startMs == c.startMs && a.endMs == c.endMs &&
        a.n_events == c.n_events && math.abs(a.sum_value - c.sum_value) <= 1e-6
    }
    if (!same)
      bad += "stream.sessions_equal_reference" -> s"${have.length} closed, expected ${want.length}"
    // each kept event carries the tier of its user's latest change at or
    // before the event (none before the first change)
    val byUser = b.changes.groupBy(_._1).map { case (u, cs) => u -> cs.sortBy(_._2) }
    val wantTiers = b.kept.map { e =>
      e.id -> byUser.getOrElse(e.user, Vector.empty).takeWhile(_._2 <= e.ts * 1000L)
        .lastOption.map(_._3)
    }.toMap
    val wrongTiers = tiers.count { case (id, t) => !wantTiers.get(id).contains(t) }
    if (tiers.length != wantTiers.size || wrongTiers > 0)
      bad += "stream.asof_tiers" ->
        s"${tiers.length} rows for ${wantTiers.size} events, $wrongTiers wrong"
    if (bad.nonEmpty) failed += 1
    bad.foreach { case (check, msg) => problems += check -> s"backlog $i: $msg" }
  }

  /** `sessionize`'s rule applied file by file (one micro-batch each):
    * per user, the file's events in time order extend the open session,
    * or close it when the gap exceeds `GapMs`.
    */
  private def referenceSessions(b: Backlog): Vector[SessionResult] = {
    val open = collection.mutable.Map.empty[Long, (Long, Long, Long, Double)]
    val closed = Vector.newBuilder[SessionResult]
    b.parts.foreach { rows =>
      rows.groupBy(_.user).foreach { case (u, evs) =>
        evs.sortBy(_.ts).foreach { e =>
          val t = e.ts * 1000L
          open.get(u) match {
            case Some((s, last, n, sum)) if t - last > GapMs =>
              closed += SessionResult(u, s, last, n, sum)
              open(u) = (t, t, 1L, e.value)
            case Some((s, last, n, sum)) => open(u) = (s, math.max(last, t), n + 1, sum + e.value)
            case None => open(u) = (t, t, 1L, e.value)
          }
        }
      }
    }
    closed.result()
  }

  def setupRound(round: Int): Unit = Tracer.untraced(pass(round))

  def window(deadlineNs: Long): Unit = {
    progress.clear(); dedupProgress.clear(); lateDropped.clear()
    while (System.nanoTime() < deadlineNs && nextShard < Shards) {
      val i = nextShard
      nextShard += 1
      val traceThis = ctx.traced && i % 2 == 1
      val cpu0 = Stats.processCpuNs()
      val before = progress.length
      val (_, ns) = Stats.timed {
        try {
          if (traceThis) Tracer.span("harness.stream_pass")(pass(i))
          else Tracer.untraced(pass(i))
        } catch { case e: Exception =>
          failed += 1; problems += "stream.passes_ran" -> s"backlog $i: $e" }
      }
      ops += 1
      if (traceThis) tracedNs += ns
      else {
        untracedNs += ns; passNs += ns; passCpuNs += Stats.processCpuNs() - cpu0
        batchMs ++= progress.drop(before).filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").toDouble)
      }
    }
  }

  def checks(): Seq[Check] = {
    def check(name: String, ok: Boolean, detail: String) = {
      val p = problems.collect { case (`name`, msg) => msg }
      Check(name, ok && p.isEmpty, (detail +: p.take(3)).filter(_.nonEmpty).mkString(" | "))
    }
    Seq(
      check("stream.passes_ran", passNs.nonEmpty, s"${passNs.length} untraced passes"),
      check("stream.dedup_equals_batch", ok = true, ""),
      check("stream.late_rows_dropped", ok = true, ""),
      check("stream.sessions_equal_reference", ok = true, ""),
      check("stream.asof_tiers", ok = true, ""))
  }

  def attempted: Long = ops + Main.SetupRounds
  def failedOps: Long = failed
  def cpuMsPerOp: Double = Stats.median(passCpuNs.map(_ / 1e6))
  private def passP50Ms = Stats.median(passNs.map(_ / 1e6))
  def traceOverhead: Double =
    Stats.median(tracedNs.map(_.toDouble)) / Stats.median(untracedNs.map(_.toDouble)) - 1.0

  private def eventsPerBacklog = backlogs.headOption.map(_.parts.map(_.length).sum).getOrElse(0)

  def named(): Seq[(String, Double, String)] = Seq(
    ("stream_events_per_s", eventsPerBacklog / (passP50Ms / 1e3), "events/s"),
    ("stream_batch_p50_ms", Stats.median(batchMs), "ms"),
    ("stream_pass_p50_ms", passP50Ms, "ms"),
    ("stream.passes", passNs.length.toDouble, "count"))

  /** Per-layer figures from the queries' own progress reports. */
  def perLayer(rows: Seq[Tracer.Row]): Seq[(String, Double, String)] = {
    def dur(ps: Seq[StreamingQueryProgress], k: String) =
      Stats.median(ps.filter(_.numInputRows > 0).map(_.durationMs.get(k).toDouble))
    val ops = dedupProgress.toSeq.flatMap(_.stateOperators)
    val lastState = dedupProgress.toSeq.filter(_.stateOperators.nonEmpty)
    Seq(
      ("streaming.add_batch_ms", dur(progress.toSeq, "addBatch"), "ms"),
      ("streaming.wal_commit_ms", dur(progress.toSeq, "walCommit"), "ms"),
      ("streaming.state_rows",
        Stats.median(lastState.map(_.stateOperators.head.numRowsTotal.toDouble)), "rows"),
      ("streaming.state_bytes",
        Stats.median(lastState.map(_.stateOperators.head.memoryUsedBytes.toDouble)), "bytes"),
      ("streaming.state_commit_ms", Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms"),
      ("streaming.late_rows_dropped", Stats.median(lateDropped.map(_.toDouble)), "rows"),
      ("relational.asof_join_ms", Stats.median(rows.filter(_.span.name ==
        "relational.AsOf.asofJoinNative").map(_.span.durNs / 1e6)), "ms"))
  }

  def inputProperties: Map[String, Any] = Map(
    "backlogs" -> Shards, "parts_per_backlog" -> Parts,
    "events_per_backlog" -> eventsPerBacklog, "users" -> Users, "zipf_s" -> ZipfS,
    "per_part" -> Map("fresh" -> FreshPerPart, "redeliveries" -> RedeliveriesPerPart,
      "out_of_order" -> OutOfOrderPerPart, "late" -> LatePerPart),
    "tier_changes_per_user" -> ChangesPerUser, "tiers" -> Tiers,
    "part_span_s" -> HourS, "watermark_delay_s" -> DelayS, "session_gap_ms" -> GapMs,
    "late_rows_per_backlog" -> backlogs.headOption.map(_.late).getOrElse(0))
}

object EventStream {
  /** One generated event; `ts` in epoch seconds. */
  final case class Event(id: Long, user: Long, ts: Long, value: Double)
  /** `changes`: (user, epoch ms, tier) of every tier change. */
  final case class Backlog(parts: Vector[Vector[Event]], late: Int,
      changes: Vector[(Long, Long, Int)]) {
    /** The rows the watermark keeps, once per event id. */
    def kept: Vector[Event] = {
      val wms = watermarks(parts)
      val seen = collection.mutable.LinkedHashMap.empty[Long, Event]
      parts.zipWithIndex.foreach { case (rows, p) =>
        val lateBelow = if (p < 2) 0L else wms(p - 2)
        rows.filter(_.ts > lateBelow).foreach(e => if (!seen.contains(e.id)) seen(e.id) = e)
      }
      seen.values.toVector
    }
  }

  /** The event-time watermark after each file's micro-batch: the newest
    * row so far minus the delay. A query with a stateful operator drops
    * a row of batch `p` as late when it is at or behind the watermark
    * of batch `p - 2` (its late-event watermark lags eviction by one
    * batch), and no row of batches 0 and 1 is late.
    */
  def watermarks(parts: Vector[Vector[Event]]): Vector[Long] =
    parts.map(_.map(_.ts).max).scanLeft(Long.MinValue)(math.max).tail.map(_ - DelayS)

  val Shards = Main.SetupRounds + 5
  val Parts = 3
  val FreshPerPart = 1500
  val RedeliveriesPerPart = 75
  val OutOfOrderPerPart = 75
  val LatePerPart = 30
  val Users = 400
  val ZipfS = 1.1
  val ChangesPerUser = 3
  val Tiers = 5
  val BaseS = 86400L
  val HourS = 3600L
  val DelayS = 1800L
  val MarginS = 120L
  val GapMs = 10L * 60 * 1000
}
