package graft.core

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query SQL-conf isolation (the alternative to mutating the
  * shared session's conf under a lock): a throwaway `newSession()`
  * carries the overrides — same SparkContext, cached data, and catalog
  * metastore, own SQLConf — and a frame's logical plan is rebound onto
  * it so ITS conf governs planning. Used by the streaming runners
  * (state-partition and state-store-provider overrides) and the AQE
  * skew-join operator (skew thresholds sized to the corpus).
  */
object Sessions {

  /** A throwaway session carrying per-query conf overrides.
    *
    * `newSession()` inherits only BUILDER-time options — confs the
    * parent set at runtime (e.g. the `nanosAsLong` flag
    * `Tables.events` flips for TIMESTAMP(NANOS) fixture generations)
    * would silently reset to defaults and change behavior inside the
    * isolated execution. So the parent's runtime conf is copied over
    * first, then the overrides applied on top. Non-modifiable entries
    * (static confs surfaced by getAll) are skipped.
    */
  def isolated(spark: SparkSession,
      overrides: Map[String, String]): SparkSession = {
    val iso = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(iso.conf.set(k, v)): Unit
    }
    overrides.foreach { case (k, v) => iso.conf.set(k, v) }
    iso
  }

  /** Rebind a frame's logical plan onto another session (same
    * SparkContext): re-analysis happens in the target session, so its
    * conf — not the origin session's — governs planning.
    */
  def rebind(to: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.ofRows(to, df.queryExecution.logical)

  /** Start `body` on `ec` with the CALLER's job description
    * re-applied, and return the running job: `setJobDescription` is
    * thread-local (guide §1.5), so a job submitted from a pool thread
    * otherwise renders unlabeled in the UI and escapes group
    * cancellation. Capture happens HERE, on the calling thread; the
    * pool thread gets its own label back once `body` ends.
    */
  def carryJobDescription[A](spark: SparkSession)(body: => A)(
      implicit ec: ExecutionContext): Future[A] = {
    val sc = spark.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    Future {
      // global/pool threads are reused and must not leak this label
      // into whatever runs on them next
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(prev)
    }
  }
}
