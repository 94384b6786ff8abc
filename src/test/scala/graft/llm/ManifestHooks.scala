package graft.llm

import java.util.concurrent.{Semaphore, TimeUnit}

/** Spec helpers over the manifest's two test controls: the
  * `IndexManifest.failpoint` hook and the [[ManifestClock]].
  */
object ManifestHooks {
  /** Runs `body` with `hook` armed as the failpoint, disarmed after. */
  def withFailpoint[T](hook: String => Unit)(body: => T): T = {
    IndexManifest.failpoint = hook
    try body
    finally IndexManifest.failpoint = _ => ()
  }

  /** Runs `body`, then puts the manifest clock back on the wall clock
    * (whatever `body` advanced it by).
    */
  def withClock[T](body: => T): T =
    try body finally ManifestClock.reset()

  /** Counts the `lock-wait:<root>` points a blocked contender fires
    * each time its `withLock` loop finds the lock held.
    */
  final class LockWaits(root: String) {
    private val seen = new Semaphore(0)

    /** The failpoint to arm. */
    val hook: String => Unit =
      msg => if (msg == s"lock-wait:$root") seen.release()

    /** Waits (30 s at most) for `n` waits that begin after this call.
      * Two waits after a clock advance prove that a whole poll ran on
      * the advanced clock.
      */
    def await(n: Int = 1): Boolean = {
      seen.drainPermits(): Unit
      seen.tryAcquire(n, 30, TimeUnit.SECONDS)
    }
  }

  /** The artifacts each stage dir of `root` holds readable data for
    * (its own parquet files or, on `listing` roots, carried ones),
    * keyed by stage dir name.
    */
  def stagedArtifacts(root: String, names: Seq[String])
      : Map[String, Set[String]] = {
    val io = IndexManifest.ioFor(root)
    io.listStageDirNames(root).map { stage =>
      stage -> names.filter(n =>
        IndexManifest.artifactNonEmpty(root, n, Some(stage))).toSet
    }.toMap
  }
}
