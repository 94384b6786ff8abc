package graft.llm

/** Crash-atomic MANIFEST-pointer commits for the disk index families
  * (LSH / IVF / IVF×PQ / BM25) — the Iceberg commit shape, applied to
  * the index lifecycle.
  *
  * Layout: an index ROOT directory holds immutable versioned
  * subdirectories (`v00001/`, `v00002/`, …) plus a small POINTER
  * naming the current version. Every mutating verb (build, append,
  * delete, compact) stages a COMPLETE new version and then commits
  * with one atomic pointer operation. Readers resolve the pointer
  * once per query and only ever see a fully-committed version:
  *
  *   - crash while STAGING → the pointer still names the old version;
  *     the half-written stage dir is invisible garbage (GC'd by
  *     the first commit after it ages past [[StageTtlMs]] — never
  *     sooner, because a fresh stage dir may be a concurrent builder
  *     mid-build);
  *   - crash BETWEEN staging and commit → same;
  *   - crash inside commit after the stage dir's finalization but
  *     before the pointer write → an unreferenced `v*` dir, invisible
  *     to readers, reaped by the next commit's GC;
  *   - crash AFTER the pointer flip → the new version serves; the
  *     superseded dir is garbage until GC.
  *
  * There is no reachable intermediate state — the three-artifact
  * windows of the previous layout (stats rewritten while tombstones
  * persist → double subtraction; the two-rename gap where the index
  * path did not exist) are structurally gone. IndexManifestSpec
  * injects failures at the commit failpoint and pins serve
  * bit-equality to either side.
  *
  * ==Storage backends: posix and object-store==
  *
  * Every METADATA operation (pointer, locks, stage reservation,
  * liveness mtimes, sidecar files) routes through a [[ManifestIo]]
  * backend chosen per root by its path string:
  *
  *   - plain paths (`/data/idx`) → [[PosixManifestIo]]: `java.nio`
  *     primitives — fsynced `ATOMIC_MOVE` pointer rename,
  *     `FileChannel.lock` commit lock, atomic-`mkdir` stage
  *     reservation.
  *   - schemed paths (`file://…`, `hdfs://…`, `s3a://…`) →
  *     [[HadoopManifestIo]]: everything through Hadoop
  *     `FileSystem`/`FileContext`, with the commit protocol rebuilt
  *     on conditional create (the put-if-absent primitive object
  *     stores offer): the pointer is a sequence of immutable
  *     `MANIFEST-<seq>` commit files, stages write straight into
  *     their final `v<N>` dir claimed by an exclusive `STAGE` marker
  *     that persists past commit (a `COMMITTED` sentinel flips the
  *     dir to a version, so a name is claimed at most once, ever; no
  *     directory rename — data files never move or copy), and the
  *     commit lock is a generation-numbered TTL lease whose races
  *     are re-arbitrated by the commit file's exclusive create.
  *
  * Artifact DATA always moves through Spark's own Hadoop-backed
  * parquet I/O, so the verbs are backend-blind: the same
  * build/append/delete/compact code runs on a local disk root and an
  * `s3a://` root.
  *
  * ==Carry-forward: two layouts==
  *
  * How a staged version inherits the artifacts it does NOT rewrite is
  * chosen by the root's storage backend when the first [[stage]]
  * creates it, and pinned in the root's `LAYOUT` file; a root never
  * changes layout mid-life, and a root without the marker (built
  * before it existed) carries as `link`:
  *
  *   - `link` (every new posix root): unchanged artifacts carry as
  *     HARD LINKS (O(file-count) metadata ops, zero bytes copied).
  *     Requires `Files.createLink` — local disk, NFS. It is the
  *     faster carry on posix: in the `ann_serve_ingest` benchmark
  *     workload (4-vCPU VM), `listing` roots wrote ~8 % slower.
  *   - `listing` (every new schemed root — object stores, the 100 TB
  *     deployment): the staged version records a per-version file
  *     LISTING (`FILES`: one root-relative path per carried artifact
  *     location) instead of linking bytes; the read path
  *     ([[artifactPaths]]) resolves an artifact to its real dir (if
  *     the version rewrote it) plus every listed location. A posix
  *     root carries this way only if `pinLayout` pinned it before
  *     its first build. No links, no renames of data files, no
  *     directory mutation of committed versions — exactly the
  *     Iceberg/Delta manifest design, so the whole lifecycle runs on
  *     stores with no hard links. GC keeps any version dir that a
  *     retained/pinned version's listing still references; physical
  *     reclamation of superseded bytes therefore happens at
  *     COMPACTION (which rewrites artifacts and drops the refs), the
  *     same story as Iceberg's rewrite-then-expire.
  *
  * The commit protocol is identical in both layouts; only the
  * carry-forward mechanism changes. [[artifactPaths]] is uniform: a
  * `link` root simply never has a `FILES` listing, so resolution
  * degenerates to the version's own artifact dir.
  *
  * Concurrency contract (readers): commits retain the superseded
  * version ([[RetainVersions]]), so a reader that resolved
  * [[currentDir]] before a commit finishes its lazy scan against
  * intact files — one concurrent commit per in-flight read is safe.
  * Readers that must survive a CHAIN of commits (append → delete →
  * compact while a lazy scan drains) take a [[pinCurrent]] READER PIN
  * (prefer the scoped [[withPin]]): a heartbeat file under
  * `root/pins/` naming their version, which commit-time GC respects
  * until `ReaderPin.release` (or staleness past [[ReaderPinTtlMs]]).
  * Storage is reclaimed by [[expireVersions]] (explicit, like the
  * catalog's expire-keep-N), never by a commit racing a pinned
  * reader.
  *
  * Concurrency contract (writers): two builders racing one root are
  * SAFE and serialize at three points —
  *
  *   - [[stage]] reserves its version number with an atomic claim
  *     (posix: `mkdir stage-v<N>`; object stores: conditional-created
  *     `v<N>/STAGE` marker), so concurrent stagers never share a dir;
  *   - staged dirs are invisible to a concurrent commit's GC until
  *     [[StageTtlMs]] old — liveness is read from the stage dir's
  *     `STAGE_ACTIVITY` heartbeat (bumped by [[stage]] and
  *     `Mutation.carry`;
  *     long-running builds call [[touchStage]]) with a full tree walk
  *     as the fallback when the heartbeat is stale, so GC under the
  *     commit lock stays O(stage-dirs) on the fast path and never
  *     reaps a build whose artifact writes are still landing;
  *   - [[commit]] runs under a per-root lock (in-process monitor +
  *     cross-process file lock on posix, TTL lease on object stores):
  *     the lineage is re-read inside the critical section, so the
  *     resulting order is last-commit-wins with EVERY committed
  *     version retained in the lineage (up to `retain`) — a
  *     concurrent commit can reorder, but never lose or corrupt, a
  *     committed version.
  *
  * Plain [[commit]] is last-commit-wins: a commit staged against a
  * base that a concurrent writer superseded still lands (its content
  * simply does not include the other writer's delta — both versions
  * stay on disk in the lineage). That is the right contract ONLY for
  * full rebuilds, whose staged content is self-contained. Every
  * CONTENT-DEPENDENT mutation (append / delete / compact — anything
  * that carries or reads the current version) instead runs under
  * [[mutate]]: the base version is captured and PINNED under the
  * commit lock (a `BASE` file in the stage dir that GC respects, so
  * the carry source can never be reaped mid-carry — and mid-build
  * Spark reads of the base stay valid), [[mutate]] itself commits
  * compare-and-swap against that base, and a lost race
  * ([[ConcurrentCommitException]]) discards the stale stage and
  * REBASES: the whole verb re-runs against the new current. Two
  * concurrent mutations therefore compose — a tombstone delete racing
  * an append lands ON TOP of the append (or vice versa), never
  * silently dropped
  * (ConcurrentIndexWriterSpec races the real verbs and asserts both
  * deltas serve).
  */
/** A CAS commit found the root's current version moved underneath it:
  * the staged version was built from `expectedBase`, but `actual` is
  * now committed. The staged dir is left intact — rebase and retry
  * ([[IndexManifest.mutate]] automates exactly that).
  */
final class ConcurrentCommitException(root: String,
    expectedBase: Option[String], actual: Option[String])
  extends RuntimeException(
    s"concurrent commit at $root: staged against base $expectedBase " +
      s"but current is $actual")

object IndexManifest {
  val PointerFile = "MANIFEST"
  val LockFile = "COMMIT_LOCK"
  /** Root-level marker pinning the root's carry-forward layout. */
  val LayoutFile = "LAYOUT"
  /** Per-version carry listing (layout `listing`): lines of
    * `artifact<TAB>root-relative-physical-dir`.
    */
  val ListingFile = "FILES"
  /** Stage-dir pin naming the version a mutation carries from. */
  val BaseFile = "BASE"
  /** Stage-dir liveness heartbeat (see [[touchStage]]). */
  val ActivityFile = "STAGE_ACTIVITY"
  /** GC-written durable first-observation marker for stage dirs with
    * NO readable liveness signal (see [[UnknownMtimeGraceMs]]):
    * content = epoch millis of the first gc pass that observed the
    * signal-less dir. Persisted beside the stage so the grace bound
    * survives driver restarts — the in-memory survival map dies with
    * the JVM, and one-JVM-per-job deployments would otherwise restart
    * the window forever (the exact leak the window exists to bound).
    */
  val FirstSeenFile = "GC_FIRST_SEEN"
  /** Root subdir holding reader-pin heartbeat files. */
  val PinsDir = "pins"

  val LinkLayout = "link"
  val ListingLayout = "listing"

  // {5,} not {5}: f"v$next%05d" widens past five digits at version
  // 100000, and the parser must accept every name the formatter can
  // produce (else stage() recomputes max from 5-digit dirs and
  // collides, and gc() never reclaims the wide ones)
  private[llm] val VersionName = "v\\d{5,}".r

  private val SchemeRe = "^[A-Za-z][A-Za-z0-9+.\\-]*:/.*".r

  /** The storage backend for `path`'s root: schemed paths
    * (`file://`, `hdfs://`, `s3a://`, …) run the Hadoop-`FileSystem`
    * commit protocol; plain paths run the posix one. See
    * [[ManifestIo]].
    */
  private[llm] def ioFor(path: String): ManifestIo =
    if (SchemeRe.matches(path)) HadoopManifestIo else PosixManifestIo

  /** The carry layout a NEW root on `root`'s backend pins: `link` on
    * posix, `listing` on stores without hard links.
    */
  private def backendLayout(root: String): String =
    if (ioFor(root).supportsLinks) LinkLayout else ListingLayout

  // a root is new until it holds a LAYOUT marker, a committed pointer
  // or a version dir; older roots without the marker carry as `link`
  private def isNewRoot(io: ManifestIo, root: String): Boolean =
    !io.exists(s"$root/$LayoutFile") && io.readPointer(root).isEmpty &&
      io.listVersionDirNames(root).isEmpty

  /** Pin `root`'s carry layout: a new root gets `layout` in its
    * `LAYOUT` marker (a racing pinner may write it first), and a root
    * already pinned to the other layout fails. [[stage]] pins each new
    * root to its backend's layout; specs and tools that need a posix
    * root to carry as `listing` pin it before the first build.
    */
  private[graft] def pinLayout(root: String, layout: String): Unit = {
    require(layout == LinkLayout || layout == ListingLayout,
      s"unknown index layout '$layout' (want link|listing)")
    val io = ioFor(root)
    require(layout == ListingLayout || io.supportsLinks,
      s"$root is on a store without hard links: it carries as " +
        s"'$ListingLayout'")
    io.mkdirs(root)
    if (isNewRoot(io, root))
      io.writeExclusive(s"$root/$LayoutFile", layout): Unit
    val pinned = layoutOf(root)
    require(pinned == layout,
      s"index root $root carries as '$pinned', not '$layout'")
  }

  /** The root's pinned layout; roots created before the `LAYOUT`
    * marker existed are `link` (what they were built with).
    */
  def layoutOf(root: String): String = {
    val io = ioFor(root)
    val f = s"$root/$LayoutFile"
    if (io.exists(f))
      io.readString(f).trim match {
        case ListingLayout => ListingLayout
        case _ => LinkLayout
      }
    else LinkLayout
  }

  /** Age past which an uncommitted stage dir is considered abandoned
    * and eligible for GC. Generous by design: a concurrent builder's
    * stage must never be reaped mid-build, and a 100 TB index build
    * legitimately runs hours (builds longer than the TTL keep
    * themselves live via [[touchStage]] — and even without it, GC
    * falls back to the stage TREE's newest mtime, which artifact
    * writes keep fresh). Crash garbage costs only storage, and only
    * until the first commit after the TTL.
    *
    * CLOCK-SKEW ASSUMPTION: on mtime-less stores the content stamp
    * [[touchStage]] writes is the authoritative liveness channel, so
    * stage liveness there compares the WRITER's wall clock (stamped
    * into the heartbeat) against the GC HOST's wall clock. Skew
    * between the two eats directly into the TTL: a builder whose
    * clock runs `s` ms behind the GC host looks `s` ms staler than it
    * is. 24 h covers any realistic NTP drift plus a heartbeat
    * interval. Relatedly, a live build whose [[touchStage]] writes
    * persistently FAIL (swallowed, liveness is best-effort — but
    * warned on repetition) loses the stamped-heartbeat protection and
    * survives only via tree mtimes where the store exposes them.
    */
  val StageTtlMs: Long = 24L * 3600 * 1000

  /** Age past which a reader pin with no heartbeat refresh is
    * considered leaked (reader died without `ReaderPin.release`)
    * and stops protecting its version from GC.
    */
  val ReaderPinTtlMs: Long = 24L * 3600 * 1000

  /** [[pinCurrent]] acquisition attempts before giving up with
    * [[ConcurrentCommitException]]. Each retry means the pinner's OWN
    * lease lapsed mid-acquisition (the pin fence fired) — a TTL-scale
    * stall, not ordinary contention — so consecutive failures signal
    * something pathological about this process's scheduling. Also
    * [[mutate]]'s rebase bound and the buffer's re-resolve bound.
    */
  val PinAcquireAttempts = 5

  /** Test hook, fired with a named point. Per commit: `commit:<root>`
    * on entry (before the lock — crash-injection specs throw here to
    * simulate dying between staging and commit) and `publish:<root>`
    * inside the critical section immediately before the atomic
    * pointer publish (zombie-lease specs stall here while the lease
    * lapses). Per lock wait: `lock-wait:<root>` each time a
    * contender's `withLock` loop finds the lock held and waits (specs
    * wait for it to prove a contender is blocked). Per read:
    * `resolve:<root>` right after [[resolve]] read the pointer (specs
    * commit from here to land a writer between a read's resolution
    * and its artifact reads), and `decode:<root>`
    * once the driver buffer's decode has pinned its version and
    * before it reads an artifact.
    */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  /** Test hook: the hard-link primitive (layout `link` only). Specs
    * for the `listing` layout swap in a throwing impl to prove the
    * posix-only call is never reached on an object-store root.
    */
  @volatile private[graft] var linkFn:
      (java.nio.file.Path, java.nio.file.Path) => Unit =
    (to, from) => { java.nio.file.Files.createLink(to, from): Unit }

  /** Default for how many committed versions [[commit]] retains
    * (current plus N−1 predecessors). Two, not one: readers resolve
    * [[currentDir]] once and then scan lazily, so a concurrent
    * writer's commit must not delete the version a mid-query reader
    * is standing on. NOTE the bound this buys: one level of retention
    * covers exactly ONE commit per in-flight read — a caller that
    * chains mutations (append then delete) while a lazy scan is still
    * draining unlinks that reader's version on the SECOND commit.
    * Readers with longer windows take a [[pinCurrent]] reader pin,
    * which GC respects however many commits land while the scan
    * drains. Storage is reclaimed explicitly via [[expireVersions]].
    */
  val RetainVersions = 2

  /** The committed version name, if any. */
  def current(root: String): Option[String] =
    history(root).headOption

  /** THE read-path pointer resolution: the committed version a read
    * serves, resolved once and passed to every artifact read of that
    * read, so a concurrent commit can never make one read combine two
    * versions (the pre-compaction data with the compacted version's
    * empty tombstone set, say). Throws `IllegalArgumentException` on a
    * root with nothing committed.
    */
  def resolve(root: String): String = {
    val v = current(root)
    require(v.isDefined, s"no committed index at $root")
    failpoint(s"resolve:$root")
    v.get
  }

  /** Committed lineage, newest first (the pointer's lines). Old
    * single-line manifests parse as a one-element history.
    */
  def history(root: String): Seq[String] =
    ioFor(root).readPointer(root)

  def exists(root: String): Boolean = current(root).isDefined

  /** Resolve the committed version directory readers must use. */
  def currentDir(root: String): String = current(root) match {
    case Some(v) => s"$root/$v"
    case None => throw new IllegalStateException(
      s"no committed index at $root (missing $PointerFile)")
  }

  /** Physical directories composing artifact `name` of `version`
    * (None, a writer's base on an empty root: no directories) — THE
    * read-path resolver, uniform
    * across layouts: the version's own `name/` dir if it rewrote or
    * appended the artifact, plus every location its `FILES` listing
    * carries (always empty on `link` roots, whose carry materializes
    * links instead). Empty ⇒ the artifact does not exist in that
    * version. Listed refs are physical by construction
    * (`Mutation.carry` resolves through the base's own listing), so
    * resolution never chains.
    */
  def artifactPaths(root: String, name: String,
      version: Option[String]): Seq[String] =
    version.toSeq
      .flatMap(v => physicalPaths(root, v, name))
      .map(rel => s"$root/$rel")

  /** Read artifact `name` of `version` (readers pass
    * [[resolve]]'s version, writers their mutation's base) as one
    * DataFrame across however many physical locations compose it.
    * Locations are read ONE PER SCAN and unioned (a multi-path read
    * would demand a shared partition-discovery basePath, which
    * listing-carried dirs don't have): each location stays its own
    * partition-discovery root, so `table=`/`bkt=` columns survive,
    * and predicate pushdown through the Union keeps partition PRUNING
    * per branch (pinned by IndexListingSpec against the executed
    * plan).
    */
  def readArtifact(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String,
      version: Option[String]): org.apache.spark.sql.DataFrame = {
    val paths = artifactPaths(root, name, version)
    require(paths.nonEmpty,
      s"index artifact '$name' missing at $root (version=$version)")
    paths.map(p => readPinned(spark, p)).reduce(_ unionByName _)
  }

  /** Schema-pinned single-location read: a committed version dir is
    * immutable, so its footer-inferred schema is metadata that can be
    * memoized exactly like the fixture-table schemas
    * (`Tables.table`'s r20 pinning) and the staged-stream schemas —
    * every serve previously re-ran driver-side footer inference per
    * artifact location. Keyed by (path, dir mtime): a wiped-and-
    * rebuilt root changes the mtime and re-infers. Scheme'd roots
    * (object-store backends) skip the cache — their read path stays
    * byte-identical and java.io mtimes don't apply.
    */
  private val artifactSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def readPinned(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    if (path.contains("://")) spark.read.parquet(path)
    else {
      val stamp = new java.io.File(path).lastModified
      val sch = artifactSchemaCache.computeIfAbsent(s"$path|$stamp",
        _ => spark.read.parquet(path).schema)
      spark.read.schema(sch).parquet(path)
    }

  /** A partitioned write of zero rows (a compaction that folded away
    * every row) leaves no parquet file, and an artifact without one
    * cannot be read. This writes one empty file under partition value
    * 0 of each of `partitionCols`, so the artifact keeps its schema and
    * later appends keep the same directory shape. A no-op when `dir`
    * already holds a parquet file.
    */
  private[llm] def keepSchema(df: org.apache.spark.sql.DataFrame,
      dir: String, partitionCols: String*): Unit =
    if (!ioFor(dir).hasParquet(dir))
      df.drop(partitionCols: _*).limit(0).write.mode("overwrite")
        .parquet(partitionCols.map(c => s"$c=0").mkString(s"$dir/", "/", ""))

  /** Whether artifact `name` exists with at least one parquet file —
    * the optional-artifact probe (tombstones, level-0 deltas).
    */
  def artifactNonEmpty(root: String, name: String,
      version: Option[String]): Boolean =
    artifactPaths(root, name, version)
      .exists(p => ioFor(root).hasParquet(p))

  private def physicalPaths(root: String, version: String,
      name: String): Seq[String] = {
    val own =
      if (ioFor(root).isDirectory(s"$root/$version/$name"))
        Seq(s"$version/$name")
      else Seq.empty
    (own ++ refsOf(s"$root/$version")
      .collect { case (n, p) if n == name => p }).distinct
  }

  /** Parsed `FILES` listing of a version or stage dir (empty if none:
    * every `link`-root dir, and `listing` versions that carried
    * nothing).
    */
  private def refsOf(dir: String): Seq[(String, String)] = {
    val io = ioFor(dir)
    val f = s"$dir/$ListingFile"
    if (!io.exists(f)) Seq.empty
    else io.readString(f).linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .flatMap { line =>
        line.split("\t", 2) match {
          case Array(n, p) => Some((n, p))
          case _ => None
        }
      }.toSeq
  }

  /** Stage the next version: atomically reserves version number N+1
    * (N = max over committed, abandoned AND in-flight stage dirs) via
    * the backend's claim primitive — posix `mkdir stage-v<N+1>`,
    * object stores a conditional-created `v<N+1>/STAGE` marker — so
    * two concurrent stagers can NEVER share a dir (the loser's claim
    * fails and it takes the next number). Returns (versionName,
    * stagedDirPath); [[commit]] finalizes the stage under its
    * committed `v<N>` name (a rename on posix; on object stores, where
    * data files never move, a `COMMITTED` sentinel beside the `STAGE`
    * marker, which stays). Never touches the
    * pointer. A brand-new root gets its backend's layout pinned here
    * (`pinLayout`); existing roots keep theirs — a root never
    * changes layout mid-life.
    */
  def stage(root: String): (String, String) = {
    val io = ioFor(root)
    io.mkdirs(root)
    if (isNewRoot(io, root)) pinLayout(root, backendLayout(root))
    val (versionDirs, stageDirs, _) = io.classifiedRootListing(root)
    var next = (versionDirs ++ stageDirs.map(io.stageNameToVersion))
      .map(_.dropWhile(!_.isDigit).toInt)
      .foldLeft(0)(math.max) + 1
    while (true) {
      val name = f"v$next%05d"
      if (io.reserveStage(root, name)) {
        val dir = s"$root/${io.stageDirName(name)}"
        touchStage(dir)
        return (name, dir)
      } else next += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Bump the stage dir's liveness heartbeat. [[stage]] and
    * `Mutation.carry` call it; a builder whose WRITE phase alone can
    * outlast [[StageTtlMs]] calls it periodically (GC reads this one file
    * instead of walking the stage tree under the commit lock). The
    * wall-clock stamp is written as the file's CONTENT, not just its
    * mtime: on stores that expose no readable mtimes (S3A synthetic
    * dir entries with marker retention off) the content is the only
    * liveness channel GC can read, and it is what makes the heartbeat
    * AUTHORITATIVE there — a stamped stage whose stamp goes stale is
    * reaped instead of leaking forever (see [[gc]]). Best-effort like
    * the old mtime touch: liveness must never fail a build — but a
    * PERSISTENTLY failing heartbeat is exactly the shape that loses a
    * long build its stamped-liveness protection on mtime-less stores
    * (see [[StageTtlMs]]), so repeated consecutive failures WARN
    * (once per power-of-two occurrence, bounded volume) instead of
    * staying silent. The counter resets on the first success.
    */
  def touchStage(stagedDir: String): Unit =
    try {
      ioFor(stagedDir).writeString(s"$stagedDir/$ActivityFile",
        ManifestClock.now().toString)
      touchFailures.remove(stagedDir): Unit
    } catch {
      case e: java.io.IOException =>
        val c = touchFailures
          .computeIfAbsent(stagedDir,
            _ => new java.util.concurrent.atomic.AtomicLong())
          .incrementAndGet()
        if ((c & (c - 1)) == 0L) // powers of two: 1, 2, 4, 8, …
          System.err.println(s"[touchStage] heartbeat write failed " +
            s"for $stagedDir ($c consecutive failures: " +
            s"${e.getMessage}) — on a store with no readable tree " +
            "mtimes this build is losing its liveness protection " +
            s"and becomes reapable ${StageTtlMs} ms after its last " +
            "successful stamp")
    }

  // consecutive touchStage failures per stage dir; entries are
  // removed on the first success (and the dir itself is transient),
  // so the map stays bounded
  private val touchFailures =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  private def baseOf(stagedDir: String): Option[String] = {
    val io = ioFor(stagedDir)
    val f = s"$stagedDir/$BaseFile"
    if (io.exists(f)) Some(io.readString(f).trim).filter(_.nonEmpty)
    else None
  }

  /** A content-dependent mutation of an index root: stage → carry →
    * write → CAS-commit, with automatic REBASE on a lost race. The
    * base version is captured and pinned UNDER THE COMMIT LOCK (the
    * stage dir's `BASE` file, which [[gc]] respects), so the version
    * the body carries from and lazily reads cannot be reaped by
    * concurrent commits mid-build. Once the body has written the
    * stage, `mutate` commits it compare-and-swap against that base; if
    * a concurrent commit moved the root first, the stale stage is
    * discarded and the WHOLE body re-runs against the new current (at
    * most [[PinAcquireAttempts]] times, then the last
    * [[ConcurrentCommitException]] is thrown) — mutations compose
    * instead of silently dropping each other's deltas. Bodies never
    * commit; they are re-entrant by construction here (pure stage-dir
    * writes + idempotent reads). Returns the committed version name.
    */
  def mutate(root: String)(body: Mutation => Unit): String = {
    val io = ioFor(root)
    var last: ConcurrentCommitException = null
    var i = 0
    while (i < PinAcquireAttempts) {
      val (v, staged) = stage(root)
      try {
        // pin the base under the lock: current() cannot move and GC
        // cannot run until the BASE file is on disk, so the pin is
        // never written against an already-reaped version. FENCED like
        // pinCurrent: on lease backends a builder stalled past its
        // lease deadline inside this window could pin a base a
        // takeover already reaped — the carry would then silently
        // carry NOTHING (refsOf of a missing dir reads empty) and only
        // the commit-time CAS would catch it; the fence turns that
        // into an immediate loud rebase instead
        val base = io.withLock(root) {
          val b = current(root)
          // failpoint: a TTL-scale stall inside the base-pin window
          // (between resolving current and the fence) — spec-injected
          failpoint(s"base-pin:$root")
          b.foreach(bv => io.writeString(s"$staged/$BaseFile", bv))
          if (!io.lockStillHeld(root))
            throw new ConcurrentCommitException(root, b, current(root))
          b
        }
        body(new Mutation(root, base, staged))
        return commitCas(root, v, base)
      } catch {
        case e: ConcurrentCommitException =>
          io.rmTree(staged)
          last = e
          i += 1
      }
    }
    throw last
  }

  /** One attempt of an [[IndexManifest.mutate]] body: `base` is the
    * pinned version it carries from and reads (None on an empty root),
    * `dir` the staged version dir it writes.
    */
  final class Mutation private[IndexManifest](root: String,
      val base: Option[String], val dir: String) {
    /** Carry artifacts `names` from `base` into the stage, those
      * present (absent artifacts — e.g. no pending tombstones — stay
      * absent; a None base carries nothing). `link` roots materialize
      * hard links; `listing` roots append the base's physical locations
      * of the artifacts to the staged `FILES` — zero data-file
      * operations, which is the whole object-store story. A verb must
      * never carry an artifact it then rewrites with overwrite
      * semantics (the listing would resolve old AND new); carried
      * artifacts are either untouched or appended INTO (new files
      * beside the carried set), which both layouts represent exactly.
      */
    def carry(names: String*): Unit = {
      touchStage(dir)
      base.foreach { v =>
        if (layoutOf(root) == ListingLayout) {
          val existing = refsOf(dir).toSet
          val add = names.flatMap(n => physicalPaths(root, v, n).map((n, _)))
            .filterNot(existing.contains)
          if (add.nonEmpty)
            ioFor(root).writeString(s"$dir/$ListingFile",
              (existing.toSeq ++ add)
                .map { case (n, p) => s"$n\t$p" }.sorted
                .mkString("", "\n", "\n"))
        } else
          names.foreach(n => linkTree(s"$root/$v/$n", s"$dir/$n"))
      }
    }
  }

  /** THE commit: prepend `version` to the committed lineage, truncate
    * to `retain` versions (default [[RetainVersions]]), and publish
    * the new lineage with the backend's atomic pointer primitive
    * (posix: fsynced temp-file `ATOMIC_MOVE` over `MANIFEST`, with
    * the parent dir fsynced so the rename survives power loss where
    * the filesystem allows directory fsync; object stores: a
    * conditional-created immutable `MANIFEST-<seq>` commit file).
    * Version dirs outside the retained lineage — expired ancestors
    * and abandoned stage dirs alike — are GC'd after the flip (minus
    * reader-pinned versions and, on `listing` roots, versions still
    * referenced by a retained listing); a crash mid-GC leaves only
    * orphan dirs, never serveable state, and the next commit
    * re-collects them. `retain` is the reader-overlap window: a
    * reader's resolved version survives `retain − 1` subsequent
    * commits (a reader that must outlive more takes a [[pinCurrent]]
    * pin and needs no counting). Returns the COMMITTED version name —
    * usually `version`, but on posix a
    * double-allocated number (the readdir-vs-rename race) is
    * renumbered inside the lock, so any caller referencing its own
    * commit afterwards must use the returned name. Replaying a commit
    * whose version dir no longer exists (a crash-recovery misuse)
    * fails loudly instead of publishing a dangling pointer.
    */
  def commit(root: String, version: String,
      retain: Int = RetainVersions): String =
    commitImpl(root, version, retain, None)

  /** [[mutate]]'s CAS commit: REQUIRES the current version to still
    * equal `base` (None = still-empty root — an append staged against
    * an empty root loses to a concurrent build, too), else throws
    * [[ConcurrentCommitException]] and leaves the stage intact.
    */
  private[llm] def commitCas(root: String, version: String,
      base: Option[String]): String =
    commitImpl(root, version, RetainVersions, Some(base))

  private def commitImpl(root: String, version: String, retain: Int,
      cas: Option[Option[String]]): String = {
    failpoint(s"commit:$root")
    val io = ioFor(root)
    io.withLock(root) {
      // CAS gate: lineage AND publish token from ONE read inside the
      // critical section — the token pins the publish to exactly the
      // pointer state this check saw, so even a holder whose lease a
      // successor took over (a zombie past its TTL) cannot publish a
      // lineage that drops the successor's commit: its conditional
      // create of token+1 finds the name taken and throws
      val (hist, token) = io.readPointerForCommit(root)
      val cur = hist.headOption
      cas.foreach { base =>
        if (cur != base)
          throw new ConcurrentCommitException(root, base, cur)
      }
      // finalize the staged dir under its committed name (posix: an
      // atomic rename, renumbered if the readdir-vs-rename race
      // double-allocated; object stores: a COMMITTED sentinel beside
      // the claim marker, which stays — the stage dir already IS the
      // version dir). A crash after this but before the pointer write
      // leaves an unreferenced v-dir — invisible to readers, reaped by
      // later GC.
      val finalName = io.finalizeVersion(root, version)
      val finalDir = s"$root/$finalName"
      // replay guard: publishing a pointer to a version with no dir
      // (commit re-driven after a crash + GC already reaped it) must
      // fail loudly, not serve a dangling current
      if (!io.isDirectory(finalDir))
        throw new IllegalStateException(
          s"commit of missing version at $root: $finalName has no " +
            "directory (stage consumed or GC'd — re-run the build, " +
            "don't replay the commit)")
      // builder-private pins don't belong in a committed version
      io.deleteIfExists(s"$finalDir/$BaseFile")
      io.deleteIfExists(s"$finalDir/$ActivityFile")
      // a stage GC once observed signal-less (paused writer) can still
      // commit — its first-seen marker is builder-lifecycle litter too
      io.deleteIfExists(s"$finalDir/$FirstSeenFile")
      val retained = (finalName +: hist.filterNot(_ == finalName))
        .take(math.max(1, retain))
      failpoint(s"publish:$root")
      io.publishPointer(root, retained, token)
      gc(root)
      // the COMMITTED name — may differ from `version` after a
      // renumber; callers that reference their own commit afterwards
      // (logging, CAS chains) must use this
      finalName
    }
  }

  /** Explicit history expiry — the index twin of the catalog's
    * expire-keep-N: truncate the retained lineage to `keep` versions
    * (min 1, the current) and GC everything outside it (reader pins
    * and listing references still hold their versions). Commit never
    * reclaims the immediately-superseded version ([[RetainVersions]]);
    * this verb is how storage is actually released.
    */
  def expireVersions(root: String, keep: Int = 1): Unit = {
    val io = ioFor(root)
    io.withLock(root) {
      val (h, token) = io.readPointerForCommit(root)
      require(h.nonEmpty, s"no committed index at $root")
      // headIsNewClaim=false: a trim's head is a pre-existing version,
      // so publishPointer's carried-lineage disambiguation must not
      // treat successor containment as proof this publish landed
      io.publishPointer(root, h.take(math.max(1, keep)), token,
        headIsNewClaim = false)
      gc(root)
    }
  }

  /** PIN the current version against GC across ANY number of
    * subsequent commits — the safe-by-construction alternative to
    * sizing `retain` by hand when a lazy scan (toLocalIterator, a
    * draining export) must outlive a mutation chain. Taken under the
    * commit lock, so the pin can never be written against a version a
    * racing commit's GC already reaped. The pin is a heartbeat file
    * (`root/pins/`): call `ReaderPin.refresh` from scans that
    * outlive [[ReaderPinTtlMs]], and ALWAYS `ReaderPin.release`
    * when done — a leaked pin holds the version's storage until the
    * TTL expires it. Prefer [[withPin]], which releases in `finally`.
    *
    * PIN FENCE: on lease backends the lock is a TTL lease, so "taken
    * under the commit lock" alone is not enough — a pinner stalled
    * past its lease deadline between resolving `current` and the pin
    * file landing (a zombie pinner) could pin a version a takeover's
    * trim + GC already reaped, and then hand the caller a pin whose
    * dir is gone. After the pin file lands, the fence re-checks the
    * lease (`ManifestIo.lockStillHeld`, a deadline comparison, no
    * I/O; constant true on posix where the lock never expires): still
    * held ⇒ no takeover has existed since our read, the version is
    * intact and the landed pin now protects it; lapsed ⇒ the pin is
    * deleted and the whole acquisition retries against the fresh
    * current. Enumerated by `graft.tools.LeaseModelCheck`'s reader
    * role: with this fence off, invariant I3 (a pinned version stays
    * readable until release or TTL lapse) is violated.
    *
    * THROWS [[ConcurrentCommitException]] after [[PinAcquireAttempts]]
    * consecutive fence failures (each one means this pinner stalled
    * past its lease TTL inside the acquisition — pathological
    * scheduling, not contention): a pinner that cannot PROVE its pin
    * landed before any takeover must fail loudly rather than return a
    * pin naming a possibly-reaped version. The exhausted retry leaves
    * no pin file behind (each failed attempt deletes its own), and
    * the model checker's reader role covers the exhaustion path: a
    * reader that parks without acking never enters invariant I3's
    * protection claim. Also throws `IllegalStateException` on an
    * empty root (nothing committed to pin).
    */
  def pinCurrent(root: String): ReaderPin =
    pinWith(root)(current(root).getOrElse(throw new IllegalStateException(
      s"no committed index at $root")))

  /** Pin `version`, which a read already [[resolve]]d, rather than
    * whatever is current now: a read that pins after resolving never
    * resolves the pointer a second time. Same lock and fence as
    * [[pinCurrent]]. The version must still be retained (in the
    * lineage, or held by another pin) when the lock is taken; a
    * version that more commits than [[RetainVersions]] pushed out
    * in between throws `IllegalStateException`, since GC may already
    * have reaped its files.
    */
  def pinVersion(root: String, version: String): ReaderPin =
    pinWith(root) {
      if (!retained(root, version)) throw new LeftLineage(root, version)
      version
    }

  /** Whether `version` is still in the lineage or held by a pin, so
    * that GC has not reaped and will not reap it.
    */
  private[llm] def retained(root: String, version: String): Boolean =
    history(root).contains(version) || pinnedVersions(root).contains(version)

  /** A version a read resolved left the retained lineage (at least
    * [[RetainVersions]] commits landed) before the read could pin it.
    */
  private[llm] final class LeftLineage(root: String, version: String)
    extends IllegalStateException(s"version $version of $root left " +
      "the retained lineage before it could be pinned")

  private def pinWith(root: String)(choose: => String): ReaderPin = {
    val io = ioFor(root)
    var last: ConcurrentCommitException = null
    var i = 0
    while (i < PinAcquireAttempts) {
      val pinned = io.withLock(root) {
        val v = choose
        val dir = s"$root/$PinsDir"
        io.mkdirs(dir)
        // failpoint: a TTL-scale stall between resolving the version
        // and the pin file landing (the zombie-pinner window) —
        // spec-injected only
        failpoint(s"pin-pre-write:$root")
        val f = s"$dir/pin-${java.util.UUID.randomUUID()}.pin"
        io.writeString(f, v)
        // the pin's liveness is its mtime, compared against the
        // manifest clock: stamp it from that clock, not the store's
        io.setMtime(f, ManifestClock.now())
        if (io.lockStillHeld(root)) Some(new ReaderPin(root, v, f))
        else {
          io.deleteIfExists(f)
          last = new ConcurrentCommitException(root, Some(v),
            current(root))
          None
        }
      }
      pinned match {
        case Some(p) => return p
        case None => i += 1
      }
    }
    throw last
  }

  /** [[pinCurrent]] with release BY CONSTRUCTION: the pin is released
    * in `finally`, so a body that throws mid-scan cannot leak the pin
    * for [[ReaderPinTtlMs]] (24 h of held storage) — the same
    * ergonomics `withPersist` gives the cache lifecycle. Prefer this
    * over raw [[pinCurrent]]/`release` everywhere the scan's lifetime
    * is lexically scoped; keep the raw pair only for pins that
    * genuinely outlive a scope (handed to another thread or stage).
    */
  def withPin[T](root: String)(body: ReaderPin => T): T =
    releasing(pinCurrent(root))(body)

  /** [[withPin]] for a version a read already resolved
    * ([[pinVersion]]).
    */
  def withVersionPin[T](root: String, version: String)(
      body: ReaderPin => T): T =
    releasing(pinVersion(root, version))(body)

  private def releasing[T](pin: ReaderPin)(body: ReaderPin => T): T =
    try body(pin) finally pin.release()

  final class ReaderPin private[IndexManifest](val root: String,
      val version: String, file: String) {
    /** The pinned version's directory (resolve artifacts against it
      * via [[artifactPaths]]`(root, name, Some(version))`).
      */
    def dir: String = s"$root/$version"
    /** Heartbeat: scans longer than [[ReaderPinTtlMs]] call this to
      * stay protected. A refresh AFTER the TTL already lapsed can find
      * the pin file reaped by a concurrent GC — that reader's
      * protection ended at the lapse, so this fails LOUDLY (the
      * version may already be gone; continuing the scan would serve
      * missing files) instead of silently "refreshing" nothing.
      * Exists-then-setMtime is not atomic, so a GC reap landing
      * BETWEEN the two could otherwise no-op the setMtime silently
      * (object-store mtime bumps on a missing key swallow the miss) —
      * the post-setMtime existence re-check closes that window and
      * keeps the failure loud. The residual exposure is only a reap
      * landing after the re-check, i.e. strictly after this refresh
      * observed itself lapsed-and-reaped would have thrown — contract-
      * equivalent to the reader checking one instant earlier.
      */
    def refresh(): Unit = {
      val io = ioFor(root)
      def lapsed(): Nothing = throw new IllegalStateException(
        s"reader pin $file lapsed past ReaderPinTtlMs and was " +
          s"reaped — version $version is no longer protected; " +
          "release the scan and re-pin")
      if (!io.exists(file)) lapsed()
      io.setMtime(file, ManifestClock.now())
      // re-check: a GC reap interleaved between the exists probe and
      // the mtime bump leaves the bump a silent no-op on stores that
      // swallow the miss — protection already ended, so say so loudly
      if (!io.exists(file)) lapsed()
    }
    def release(): Unit = ioFor(root).deleteIfExists(file)
  }

  /** Versions protected by live reader pins; stale pin files (leaked
    * readers) are reaped here as a side effect.
    */
  private[llm] def pinnedVersions(root: String): Seq[String] = {
    val io = ioFor(root)
    val dir = s"$root/$PinsDir"
    val cutoff = ManifestClock.now() - ReaderPinTtlMs
    io.listNames(dir).filter(_.endsWith(".pin"))
      .flatMap { n =>
        val f = s"$dir/$n"
        if (io.mtime(f) < cutoff) { io.deleteIfExists(f); None }
        else scala.util.Try(io.readString(f).trim).toOption
          .filter(_.nonEmpty)
      }
  }

  /** Remove every version dir outside the REACHABLE set — the
    * retained lineage, reader-pinned versions, live stage dirs' BASE
    * pins, and (listing roots) every version a reachable dir's
    * `FILES` still references — plus stage dirs abandoned longer than
    * [[StageTtlMs]]. NEVER a fresh stage dir, which may be a
    * concurrent builder mid-build: liveness reads the
    * `STAGE_ACTIVITY` heartbeat when fresh (two stats, no tree walk
    * under the commit lock) and falls back to the full-tree
    * newest-mtime walk when the heartbeat is stale or absent — a
    * build whose artifact writes are still landing keeps its tree
    * fresh even if it never called [[touchStage]]. On stores whose
    * trees expose NO readable mtimes, the content-stamped heartbeat
    * is AUTHORITATIVE for stamped stages (stale stamp ⇒ dead), and a
    * stage with no readable signal at all survives only the
    * [[UnknownMtimeGraceMs]] window from first observation — a
    * killed pre-heartbeat writer's dir is bounded storage, never a
    * permanent leak. Callers outside [[commit]]/[[expireVersions]]
    * must hold the commit lock.
    */
  /** Grace window for stage dirs with NO readable liveness signal at
    * all — no heartbeat file (a writer killed between [[stage]]'s
    * reservation and its first [[touchStage]]) or a legacy empty-touch
    * heartbeat, AND a tree whose newest mtime reads 0 (mtime-less
    * object stores). Such a dir survives GC from its FIRST OBSERVATION
    * until this window lapses, then is reaped: without the bound, a
    * killed pre-heartbeat writer's stage leaks FOREVER on stores that
    * never expose mtimes. First observation is DURABLE — persisted as
    * a [[FirstSeenFile]] marker in the stage dir by the first gc pass
    * to see it, so the bound holds across driver restarts (fresh
    * drivers in a one-JVM-per-job deployment age the stage from the
    * marker, not from their own first sighting).
    * Generous by design — a LIVE builder writes a
    * content-stamped heartbeat within milliseconds of reservation
    * ([[stage]] calls [[touchStage]]), so anything still signal-less
    * after days is crash garbage, not a build.
    */
  val UnknownMtimeGraceMs: Long = 7L * 24 * 3600 * 1000

  // per-dir first-observation time + survival count for stages alive
  // SOLELY via the no-readable-signal rule: the count makes the
  // survival visible (warns on power-of-two occurrences — 1, 2, 4, 8,
  // … — so a persistent survivor keeps logging with bounded volume),
  // the first-seen time bounds it (reaped past UnknownMtimeGraceMs).
  // Entries are evicted the first gc pass the stage no longer
  // survives via this rule (reaped, committed, or a readable signal
  // appeared), so a long-lived driver churning many roots cannot
  // accumulate unbounded entries.
  private final class UnknownSurvival(val firstSeen: Long) {
    val count = new java.util.concurrent.atomic.AtomicLong()
  }

  /** The wall-clock stamp [[touchStage]] writes as heartbeat CONTENT
    * — the liveness channel that survives mtime-less stores. Reads 0
    * for legacy empty-touch files, unparseable content, or a file
    * that vanished mid-read (best-effort, like every liveness read).
    */
  private def heartbeatStamp(io: ManifestIo, act: String): Long =
    scala.util.Try(io.readString(act).trim.toLong).getOrElse(0L)
  private val unknownMtimeSurvivals =
    new java.util.concurrent.ConcurrentHashMap[String, UnknownSurvival]()

  /** Durable first-observation for the no-signal grace window. The
    * in-memory survival map dies with the driver, and the common
    * one-JVM-per-job deployment would restart the 7-day window on
    * every run — exactly the leak the window exists to bound. So the
    * FIRST gc pass to observe a signal-less stage persists the
    * observation as a marker file inside the stage dir (content =
    * epoch millis, best-effort like every liveness write), and every
    * later driver ages the stage from the marker's stamp instead of
    * its own first sighting. The marker can never EXTEND a live
    * build's exposure: this branch is only reached when the stage
    * tree exposes no readable liveness at all, and on stores that DO
    * expose mtimes the marker's own mtime routes the stage into the
    * ordinary readable-and-stale reap path (strictly sooner than the
    * grace). A marker stamped in the future (clock skew between GC
    * hosts) clamps to `now` — skew can delay the reap, never make it
    * early.
    */
  private def persistedFirstSeen(io: ManifestIo, stageDir: String,
      now: Long): Long = {
    val f = s"$stageDir/$FirstSeenFile"
    scala.util.Try(io.readString(f).trim.toLong).toOption
      .filter(t => t > 0L && t <= now)
      .getOrElse {
        try io.writeString(f, now.toString)
        catch { case _: java.io.IOException => () } // best-effort
        now
      }
  }

  /** Test hook: drop the in-process no-signal survival map, simulating
    * a FRESH driver JVM observing the root for the first time (the
    * durable-grace contract: the [[FirstSeenFile]] marker, not this
    * map, is what bounds the leak across drivers).
    */
  private[graft] def forgetUnknownSurvivalsForTest(): Unit =
    unknownMtimeSurvivals.clear()

  def gc(root: String): Unit = {
    val io = ioFor(root)
    val now = ManifestClock.now()
    val cutoff = now - StageTtlMs
    // ONE root scan feeds the stage partition, the version reap list
    // and the temp sweep — a root holds hundreds of dirs at two
    // marker-stats each, and this runs under the commit lock
    val (versionDirs, stageDirs, rootFiles) =
      io.classifiedRootListing(root)
    // stages that ENTERED the no-signal branch this pass (survivors
    // AND grace-expired ones — an expired stage whose reap the lease
    // fence then skips must keep its firstSeen, or the next pass
    // would restart its grace window); everything else's counter is
    // evicted below
    val unknownSeen = scala.collection.mutable.Set[String]()
    val (liveStages, deadStages) =
      stageDirs.partition { n =>
        val p = s"$root/$n"
        val act = s"$p/$ActivityFile"
        // heartbeat-fresh is the cheap fast path; a STALE heartbeat
        // falls back to the tree walk before declaring the stage dead.
        // The heartbeat reads BOTH channels — file mtime and the
        // wall-clock stamp touchStage writes as content — so it stays
        // readable on stores whose mtimes read 0.
        val actExists = io.exists(act)
        val hb =
          if (actExists)
            math.max(math.max(io.mtime(act), heartbeatStamp(io, act)),
              io.mtime(p))
          else Long.MinValue
        hb >= cutoff || {
          val nm = io.newestMtime(p)
          if (nm >= cutoff) true // artifact writes still landing
          else if (nm > 0L) false // readable and stale → dead
          else if (actExists && hb > 0L)
            // the tree exposes no mtimes but the stage IS stamped and
            // every readable channel of the stamp is stale: the
            // heartbeat is AUTHORITATIVE for stamped stages (every
            // live builder refreshes it via touchStage/carry) — dead,
            // not the old leak-forever "unknown counts as live"
            false
          else {
            // NO readable signal anywhere: a writer killed between
            // stage reservation and its first heartbeat, or a legacy
            // empty-touch heartbeat on an mtime-less store. Live
            // through a generous grace window from FIRST OBSERVATION
            // — persisted as a marker in the stage dir so the bound
            // holds across driver restarts — then reaped: bounded
            // storage, never a permanent leak.
            val s = unknownMtimeSurvivals.computeIfAbsent(p,
              _ => new UnknownSurvival(persistedFirstSeen(io, p, now)))
            unknownSeen += p
            val expired = now - s.firstSeen > UnknownMtimeGraceMs
            if (expired)
              System.err.println(s"[gc] stage $p carried no readable " +
                s"liveness signal for ${now - s.firstSeen} ms — past " +
                s"UnknownMtimeGraceMs ($UnknownMtimeGraceMs), reaping")
            else {
              val c = s.count.incrementAndGet()
              if ((c & (c - 1)) == 0L) // powers of two: 1, 2, 4, 8, …
                System.err.println(s"[gc] stage $p survives via the " +
                  s"no-readable-signal grace window (occurrence $c, " +
                  s"first seen ${now - s.firstSeen} ms ago, reaped " +
                  s"after $UnknownMtimeGraceMs ms) — on s3a set " +
                  "fs.s3a.directory.marker.retention=keep so stage " +
                  "trees carry readable mtimes")
            }
            !expired
          }
        }
      }
    // evict counters whose stage left the no-signal rule — reaped,
    // committed away, or now carrying a readable signal
    locally {
      val it = unknownMtimeSurvivals.keySet().iterator()
      val prefix = s"$root/"
      while (it.hasNext) {
        val k = it.next()
        if (k.startsWith(prefix) && !k.stripPrefix(prefix).contains('/')
            && !unknownSeen.contains(k))
          it.remove()
      }
    }
    val start = (history(root) ++ pinnedVersions(root) ++
      liveStages.flatMap(n => baseOf(s"$root/$n"))).distinct
    // listing roots: a reachable version's FILES may reference older
    // versions' physical dirs — one hop suffices, refs are physical
    // by construction (carry resolves through the base's listing)
    val refs = (start ++ liveStages)
      .flatMap(n => refsOf(s"$root/$n").map(_._2.takeWhile(_ != '/')))
    val keep = (start ++ refs).toSet
    // FENCED reap: every delete re-checks the lock is still ours
    // (free — a deadline comparison on lease backends, constant true
    // on posix). Without it, a ZOMBIE whose publish landed just
    // before its lease lapsed could run this loop concurrently with
    // a takeover's next commit and reap the freshly-committed version
    // its stale keep-set never saw. Skipping is always safe: garbage
    // costs storage until the next commit's GC, a wrong reap loses a
    // live version.
    // BEST-EFFORT per reap, matching the fence's philosophy: skipping
    // is always safe (garbage costs storage until the next commit's
    // GC re-collects it), so a store-throttled rmTree must not fail
    // the commit/expiry verb that triggered this sweep — especially
    // not AFTER its publish already landed
    def reap(n: String): Unit =
      if (io.lockStillHeld(root)) {
        try io.rmTree(s"$root/$n")
        catch {
          case _: java.io.IOException =>
            try io.rmTree(s"$root/$n") // one inline retry (SDK shape)
            catch {
              case e: java.io.IOException =>
                System.err.println(s"[gc] transient reap failure on " +
                  s"$root/$n (${e.getMessage}) — skipped, " +
                  "re-collected by the next gc pass")
            }
        }
      }
    versionDirs.filterNot(keep.contains)
      .foreach(reap)
    // on object stores a stage dir's name IS its version name
    // (committed dirs keep their claim marker but carry the COMMITTED
    // sentinel, so they enumerate as versions, never stages) — the
    // keep-set filter is belt-and-braces for a stage whose version
    // a listing still references; posix stage-v* names never collide
    // with the keep set
    deadStages.filterNot(keep.contains).foreach(reap)
    // orphaned claim temps: the hadoop backend's conditional create
    // writes `.<name>.tmp-<uuid>` beside its destination and deletes
    // it in a finally — a writer KILLED between the write and the
    // cleanup leaks the temp forever (UUID-suffixed, so kills
    // accumulate unbounded root litter an object store bills for).
    // Sweep root-level dot-temps once they age past the stage TTL
    // (an in-flight create's temp lives milliseconds; posix roots
    // simply never match the pattern). Fenced like every reap.
    rootFiles
      .filter(n => n.startsWith(".") && n.contains(".tmp-"))
      .foreach { n =>
        val p = s"$root/$n"
        if (io.mtime(p) < cutoff && io.lockStillHeld(root))
          try io.deleteIfExists(p)
          catch { case _: java.io.IOException => () } // litter; retried
      }
  }

  /** Hard-link `src`'s tree into `dst` (directories created real,
    * files linked): `Mutation.carry`'s step on `link` roots (a
    * link-less store's backend throws the documented contract error).
    * Spark job-temp droppings (`_temporary`, `._*`) are skipped;
    * `_SUCCESS` markers link fine.
    */
  private def linkTree(src: String, dst: String): Unit = {
    val io = ioFor(src)
    if (!io.exists(src)) return
    def walk(from: String, to: String): Unit = {
      if (io.isDirectory(from)) {
        io.mkdirs(to)
        io.listNames(from).foreach { n =>
          if (n != "_temporary" && !n.startsWith("."))
            walk(s"$from/$n", s"$to/$n")
        }
      } else io.createLink(to, from)
    }
    walk(src, dst)
  }
}
