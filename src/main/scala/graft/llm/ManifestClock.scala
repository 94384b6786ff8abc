package graft.llm

/** The one clock behind every [[IndexManifest]] TTL decision: stage
  * and temp staleness in `gc`, reader-pin lapse, the no-signal grace
  * window, lease liveness, patience and fences. Every liveness stamp
  * such a decision later compares is written from it too: the
  * `STAGE_ACTIVITY` heartbeat, the `STAGE` claim, the first-seen
  * marker, lease deadlines and reader-pin mtimes.
  *
  * It is the wall clock plus an offset that only specs move. Time keeps
  * running, so lease polls and lock loops behave as they do in
  * production, and a spec outlives a TTL by [[advance]]-ing past it
  * instead of sleeping. Mtimes the filesystem sets on its own (artifact
  * files, claim temps, fresh stage dirs) stay on the wall clock, so
  * while the offset is set they read as old as the offset: a spec that
  * advances must not race a writer that is mid-stage against a `gc`.
  */
private[graft] object ManifestClock {
  @volatile private var offsetMs = 0L

  def now(): Long = System.currentTimeMillis() + offsetMs

  /** Test hook: move the clock `ms` forward for every thread. */
  def advance(ms: Long): Unit = synchronized { offsetMs += ms }

  /** Test hook: back to the wall clock; specs call it in `finally`. */
  def reset(): Unit = synchronized { offsetMs = 0L }
}
