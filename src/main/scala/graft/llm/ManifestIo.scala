package graft.llm

/** Storage backend for [[IndexManifest]]'s METADATA operations — the
  * deployment-filesystem seam. Artifact DATA always moves through
  * Spark's own Hadoop-backed parquet reader/writer and needs nothing
  * here; what this trait abstracts is the commit machinery around it:
  * the pointer publish, the stage-dir reservation, the commit lock,
  * liveness mtimes, and small sidecar files (`LAYOUT`, `FILES`,
  * `BASE`, `STAGE_ACTIVITY`, reader pins).
  *
  * Two backends, chosen per ROOT by its path string
  * ([[IndexManifest.ioFor]]):
  *
  *   - plain paths (`/data/idx`) → [[PosixManifestIo]]: `java.nio`
  *     with the posix primitives — `ATOMIC_MOVE` pointer rename,
  *     `FileChannel.lock` commit lock, atomic `mkdir` stage
  *     reservation. Byte-identical to the pre-seam behavior.
  *   - schemed paths (`file://…`, `hdfs://…`, `s3a://…`) →
  *     [[HadoopManifestIo]]: everything through
  *     `org.apache.hadoop.fs.FileSystem`/`FileContext`, with commit
  *     semantics rebuilt on the ONE primitive object stores offer,
  *     conditional create ([[ManifestIo.writeExclusive]]): the
  *     pointer becomes a sequence of immutable `MANIFEST-<seq>`
  *     commit files (create-no-overwrite IS the CAS — the Delta
  *     LogStore design), stages write straight into their FINAL
  *     version dir claimed by an exclusive `STAGE` marker (no
  *     directory rename at commit — data files never move), and the
  *     commit lock is a TTL LEASE file. Hard links don't exist here,
  *     so schemed roots always pin the `listing` carry layout.
  *
  * Both backends expose the same contract to [[IndexManifest]]; the
  * verbs (build/append/delete/compact across LSH / IVF / IVF×PQ /
  * BM25) are backend-blind. HadoopManifestSpec drives the real verbs
  * over `file://` roots — genuinely through the Hadoop stack, with
  * the link primitive poisoned — and pins that no plain `MANIFEST`
  * file, no `stage-v*` dir and no hard link is ever created there.
  */
private[graft] sealed trait ManifestIo {
  /** Whether hard links exist here (carry layout `link` requires it;
    * roots on link-less stores auto-pin `listing`).
    */
  def supportsLinks: Boolean

  // ---- generic small-file / tree primitives
  def mkdirs(dir: String): Unit
  def exists(path: String): Boolean
  def isDirectory(path: String): Boolean
  /** Child basenames (files and dirs); empty for a missing dir. */
  def listNames(dir: String): Seq[String]
  def readString(path: String): String
  /** Small-file write, overwrite-ok (pins, stamps, listings). */
  def writeString(path: String, s: String): Unit
  /** ATOMIC create-no-overwrite: true = this call created the file
    * with exactly `s`; false = it already existed. The conditional-put
    * primitive every commit path reduces to.
    */
  def writeExclusive(path: String, s: String): Boolean
  def deleteIfExists(path: String): Unit
  def rmTree(path: String): Unit
  /** Epoch-millis mtime; 0 for a missing path (posix convention). */
  def mtime(path: String): Long
  def setMtime(path: String, t: Long): Unit
  /** Newest mtime anywhere under `path` (the slow liveness confirm). */
  def newestMtime(path: String): Long
  /** Any `*.parquet` file anywhere under `path`? */
  def hasParquet(path: String): Boolean
  /** Every `*.parquet` file anywhere under `path`; empty for a missing
    * path.
    */
  def parquetFiles(path: String): Seq[String]
  /** A value each commit of `version` writes afresh, so a root that is
    * wiped and rebuilt (its version names restart) gives its new
    * `version` a different stamp than the old one had. Posix: the
    * version dir's mtime. Object stores, where a dir is a key prefix
    * with no mtime of its own: the commit sentinel's content, the
    * commit's wall-clock millis. None when the version has no stamp
    * (a missing sentinel).
    */
  def versionStamp(root: String, version: String): Option[String]
  /** Hard-link primitive (layout `link`). Link-less stores throw the
    * documented contract error, never a raw NIO exception.
    */
  def createLink(to: String, from: String): Unit

  // ---- commit-protocol operations
  /** Per-root critical section for commit / expiry / pin-take: posix
    * = in-process monitor + `FileChannel.lock`; hadoop = in-process
    * monitor + TTL lease file (see [[HadoopManifestIo.LeaseTtlMs]]).
    */
  def withLock[T](root: String)(body: => T): T
  /** FENCE for the destructive phase of a [[withLock]] body: does the
    * critical section this THREAD entered still hold its lock? Posix
    * is always true (a `FileChannel` lock cannot be lost while held);
    * the hadoop lease answers by deadline — a successor can only take
    * over AFTER the deadline, so an unexpired deadline proves no
    * interloper exists, with zero I/O. A caller with no recorded
    * lease on this thread (spec-style direct calls that own the root)
    * is true. GC consults this before every reap: a zombie holder
    * whose publish happened to land may otherwise race the
    * successor's next commit and reap its freshly-committed version.
    */
  def lockStillHeld(root: String): Boolean = true
  /** The committed lineage, newest first; empty for an uncommitted
    * root.
    */
  def readPointer(root: String): Seq[String]
  /** The lineage plus an opaque PUBLISH TOKEN capturing the pointer
    * state this read observed. [[publishPointer]] verifies the pointer
    * has not advanced past the token before publishing — the token,
    * not the lease, is what makes the CAS check and the publish one
    * atomic step on stores where the lock is a takeable lease. Call
    * under [[withLock]], and read the lineage for the CAS check from
    * THIS result (a separate [[readPointer]] would split the check
    * from the token).
    */
  def readPointerForCommit(root: String): (Seq[String], Long)
  /** Publish a new lineage, conditional on the pointer still being at
    * `token`'s state. Caller holds [[withLock]] and CAS-checked
    * against [[readPointerForCommit]]'s lineage; the hadoop backend's
    * exclusive create of commit file `token+1` is the final arbiter —
    * if ANY commit landed after the token was read (an expired-lease
    * takeover publishing while a zombie holder is still in its body),
    * that name is taken and this throws [[ConcurrentCommitException]]
    * instead of silently dropping the interloper's commit from the
    * lineage. The posix backend ignores the token: its `FileChannel`
    * lock never expires, so no interloper can exist.
    *
    * `headIsNewClaim` declares whether `lineage.head` is a FRESHLY
    * CLAIMED version name this publish introduces (a commit — the
    * default) or a pre-existing version (a retention trim,
    * [[IndexManifest.expireVersions]]). The hadoop backend's
    * recreate-of-a-pruned-name disambiguation relies on version names
    * being claimed at most once ever, which makes lineage containment
    * of a NEW head exact proof the publish landed first; a trim's
    * head is carried by every successor regardless, so a trim can
    * never use that proof and always loses loudly on the gap.
    */
  def publishPointer(root: String, lineage: Seq[String],
      token: Long, headIsNewClaim: Boolean = true): Unit
  /** Directory name a stage for `version` lives in (posix:
    * `stage-v<N>` renamed at commit; hadoop: the final `v<N>` itself,
    * claimed by marker — object-store data files never move).
    */
  def stageDirName(version: String): String
  /** Atomically claim `version`'s stage dir; false = number taken,
    * caller tries the next.
    */
  def reserveStage(root: String, version: String): Boolean
  /** Finalize a staged version under the commit lock; returns the
    * COMMITTED name (posix may renumber on the readdir-vs-rename
    * double-allocation race; hadoop names are claim-once and never
    * change). A missing stage dir is a legit commit replay (crash
    * between finalize and publish) — returns `version` untouched.
    */
  def finalizeVersion(root: String, version: String): String
  /** Names of committed/abandoned version dirs (`v<N>`, not claimed
    * by a live stage).
    */
  def listVersionDirNames(root: String): Seq[String]
  /** Names of stage dirs (posix `stage-v<N>`; hadoop `v<N>` holding a
    * `STAGE` marker).
    */
  def listStageDirNames(root: String): Seq[String]
  /** ONE root scan classified three ways: (versionDirNames,
    * stageDirNames, non-directory child names). `gc` and [[IndexManifest]]'s
    * `stage()` need all of these together, and a root can hold
    * hundreds of dirs at two marker-stats each — one pass beats
    * three. Default composes the two listings (plus a name scan) for
    * backends without a cheaper combined form.
    */
  def classifiedRootListing(root: String)
      : (Seq[String], Seq[String], Seq[String]) = {
    val versions = listVersionDirNames(root)
    val stages = listStageDirNames(root)
    val dirs = (versions ++ stages).toSet
    (versions, stages,
      listNames(root).filterNot(n => dirs.contains(n) || isDirectory(s"$root/$n")))
  }
  /** The version a stage-dir name stages (strips the posix prefix). */
  def stageNameToVersion(name: String): String
}

/** `java.nio`-backed store for plain (posix-mounted) paths — the
  * pre-seam semantics, unchanged: single `MANIFEST` pointer replaced
  * by fsynced `ATOMIC_MOVE`, `stage-v<N>` dirs renamed into place at
  * commit, `FileChannel` commit lock with the root-alias
  * `OverlappingFileLockException`-means-busy handling.
  */
private[graft] object PosixManifestIo extends ManifestIo {
  import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

  val supportsLinks = true

  def mkdirs(dir: String): Unit =
    Files.createDirectories(Paths.get(dir)): Unit
  def exists(path: String): Boolean = Files.exists(Paths.get(path))
  def isDirectory(path: String): Boolean =
    Files.isDirectory(Paths.get(path))
  def listNames(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq).getOrElse(Seq.empty)
  def readString(path: String): String = Files.readString(Paths.get(path))
  def writeString(path: String, s: String): Unit =
    Files.writeString(Paths.get(path), s): Unit
  def writeExclusive(path: String, s: String): Boolean =
    try {
      Files.writeString(Paths.get(path), s,
        StandardOpenOption.CREATE_NEW): Unit
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  def deleteIfExists(path: String): Unit =
    Files.deleteIfExists(Paths.get(path)): Unit
  def rmTree(path: String): Unit =
    Similarity.rmTree(new java.io.File(path))
  def mtime(path: String): Long = new java.io.File(path).lastModified()
  def setMtime(path: String, t: Long): Unit =
    new java.io.File(path).setLastModified(t): Unit
  def newestMtime(path: String): Long = {
    def walk(f: java.io.File): Long = {
      val own = f.lastModified()
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foldLeft(own)((m, c) =>
          math.max(m, if (c.isDirectory) walk(c) else c.lastModified()))
    }
    walk(new java.io.File(path))
  }
  def hasParquet(path: String): Boolean = {
    def walk(f: java.io.File): Boolean =
      f.isDirectory && Option(f.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .exists(c => (c.isFile && c.getName.endsWith(".parquet")) ||
          walk(c))
    walk(new java.io.File(path))
  }
  def parquetFiles(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .flatMap(c =>
          if (c.isDirectory) walk(c)
          else if (c.getName.endsWith(".parquet")) Seq(c.getPath)
          else Nil)
    walk(new java.io.File(path))
  }
  def versionStamp(root: String, version: String): Option[String] =
    Some(mtime(s"$root/$version")).filter(_ > 0).map(_.toString)
  def createLink(to: String, from: String): Unit =
    IndexManifest.linkFn(Paths.get(to), Paths.get(from))

  // File locks exclude PROCESSES; within one JVM they throw
  // OverlappingFileLockException instead of blocking, so threads need
  // a real monitor in front
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // this thread's held roots: a nested withLock on the same root
  // would self-deadlock in the OverlappingFileLockException busy-wait
  // below (its own lock never releases) — fail fast instead
  private val heldRoots = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  def withLock[T](root: String)(body: => T): T = {
    val key = scala.util.Try(
      new java.io.File(root).getCanonicalPath).getOrElse(root)
    if (heldRoots.get.contains(key))
      throw new IllegalStateException(
        s"reentrant withLock on $root: the commit lock is not " +
          "reentrant — restructure the caller to take the lock once")
    rootLocks.computeIfAbsent(key, _ => new Object).synchronized {
      Files.createDirectories(Paths.get(root))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(root, IndexManifest.LockFile),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        // blocks until any other PROCESS's commit ends. Two ALIASES of
        // one root (symlink, canonicalization failure) take different
        // in-process monitors but the SAME OS file — the second
        // thread's lock() then throws OverlappingFileLockException
        // instead of blocking; treat it as "busy" and wait, which is
        // what a single monitor would have done
        var fl: java.nio.channels.FileLock = null
        while (fl == null)
          try fl = ch.lock()
          catch {
            case _: java.nio.channels.OverlappingFileLockException =>
              IndexManifest.failpoint(s"lock-wait:$root")
              Thread.sleep(20)
          }
        heldRoots.set(heldRoots.get + key)
        try body finally {
          heldRoots.set(heldRoots.get - key)
          fl.release()
        }
      } finally ch.close()
    }
  }

  def readPointer(root: String): Seq[String] = {
    val p = Paths.get(root, IndexManifest.PointerFile)
    if (Files.exists(p))
      Files.readString(p).linesIterator
        .map(_.trim).filter(_.nonEmpty).toSeq
    else Seq.empty
  }

  def readPointerForCommit(root: String): (Seq[String], Long) =
    (readPointer(root), 0L) // token unused: the FileLock never expires

  def publishPointer(root: String, lineage: Seq[String],
      token: Long, headIsNewClaim: Boolean = true): Unit = {
    val tmp = Paths.get(root, s"${IndexManifest.PointerFile}.tmp")
    Files.writeString(tmp, lineage.mkString("\n"))
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.WRITE)
    try ch.force(true) finally ch.close()
    Files.move(tmp, Paths.get(root, IndexManifest.PointerFile),
      StandardCopyOption.ATOMIC_MOVE)
    // The rename IS the commit: fsync the parent directory so the
    // directory entry survives power loss too (contents-fsync alone
    // leaves the rename in the dirty dentry cache). Best-effort —
    // some filesystems refuse opening a directory for read; there the
    // old pointer stays serveable, so losing the rename only rewinds
    // to the previous committed version, never corrupts.
    try {
      val dir = java.nio.channels.FileChannel.open(
        Paths.get(root), StandardOpenOption.READ)
      try dir.force(true) finally dir.close()
    } catch { case _: java.io.IOException => () }
  }

  def stageDirName(version: String): String = s"stage-$version"
  def stageNameToVersion(name: String): String =
    name.stripPrefix("stage-")

  def reserveStage(root: String, version: String): Boolean =
    try {
      Files.createDirectory(Paths.get(root, stageDirName(version))): Unit
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  def finalizeVersion(root: String, version: String): String = {
    // The name may need RE-NUMBERING: stage()'s readdir can race a
    // concurrent commit's rename and miss that version under BOTH its
    // names (stage-vN already renamed away, vN enumerated at an
    // earlier dirent position), double-allocating N. All final-name
    // renames happen inside the commit lock, so the existence check
    // here is authoritative and the next free number cannot be taken
    // by another committer while we hold it.
    val stagePath = Paths.get(root, stageDirName(version))
    var finalName = version
    if (Files.isDirectory(stagePath)) {
      if (Files.exists(Paths.get(root, version)))
        finalName = f"v${(listVersionDirNames(root) ++
            listStageDirNames(root).map(stageNameToVersion))
          .map(_.dropWhile(!_.isDigit).toInt)
          .foldLeft(0)(math.max) + 1}%05d"
      Files.move(stagePath, Paths.get(root, finalName),
        StandardCopyOption.ATOMIC_MOVE): Unit
    }
    finalName
  }

  def listVersionDirNames(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory &&
        IndexManifest.VersionName.pattern.matcher(f.getName).matches())
      .map(_.getName).toSeq

  private val StageName = "stage-v\\d{5,}".r

  def listStageDirNames(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory &&
        StageName.pattern.matcher(f.getName).matches())
      .map(_.getName).toSeq

  override def classifiedRootListing(root: String)
      : (Seq[String], Seq[String], Seq[String]) = {
    val all = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
    val (dirs, files) = all.partition(_.isDirectory)
    (dirs.map(_.getName).filter(n =>
       IndexManifest.VersionName.pattern.matcher(n).matches()),
     dirs.map(_.getName).filter(n =>
       StageName.pattern.matcher(n).matches()),
     files.map(_.getName))
  }
}

/** Hadoop-`FileSystem` store for schemed roots (`file://`, `hdfs://`,
  * `s3a://`, …) — the object-store deployment. Every primitive the
  * posix backend gets from the kernel is rebuilt on CONDITIONAL
  * CREATE, the one atomic primitive the stores share
  * (put-if-absent: HDFS create-exclusive, S3 `If-None-Match` put, GCS
  * generation-0 precondition — Hadoop surfaces them through
  * `FileContext.rename(NONE)`/`create(overwrite=false)`, the Delta
  * LogStore recipe):
  *
  *   - POINTER: immutable `MANIFEST-<seq>%09d` commit files, current
  *     = highest sequence. Publishing seq N+1 is one conditional
  *     create — a collision IS a lost CAS and throws
  *     [[ConcurrentCommitException]] (never a silent overwrite). Old
  *     commit files beyond [[KeepCommitFiles]] are pruned under the
  *     lease.
  *   - STAGING: a version writes straight into its FINAL `v<N>` dir,
  *     claimed by a conditional-created `STAGE` marker. The marker
  *     PERSISTS FOREVER — commit adds a `COMMITTED` sentinel beside it
  *     (staged ⟺ `STAGE` present ∧ `COMMITTED` absent) — so a version
  *     name is claimed AT MOST ONCE, EVER: a lagging stager that
  *     computed the same number as a faster racer finds the claim
  *     taken even after the racer committed, and can never write into
  *     (or, on its own CAS-rebase, `rmTree`) a live pointer-referenced
  *     version dir. NO directory rename anywhere, so data files never
  *     copy (an object-store "rename" is a copy) and the
  *     double-allocation renumber race is structurally gone.
  *   - LOCK: a TTL lease as GENERATION-NUMBERED conditional-created
  *     files (`COMMIT_LOCK-<gen>`, holder token + deadline; a legacy
  *     plain `COMMIT_LOCK` reads as generation 0). Takeover of an
  *     expired lease is the conditional create of generation N+1 —
  *     NEVER delete-then-recreate of a shared name, whose delete can
  *     land on the fresh winner's lease and hand the lock to two
  *     contenders at once (the ABA every delete-based takeover has).
  *     Release OVERWRITES the holder's own file with a RELEASED
  *     marker instead of deleting it, so the head generation persists
  *     as a high-water mark and numbering is MONOTONIC forever — a
  *     generation name, once claimed, is never a lease again, closing
  *     the delete-cycle ABA (a zombie's delayed release destroying a
  *     later holder's identically-numbered lease). A WON claim is
  *     then VERIFIED by re-listing: takeover pruning re-frees
  *     superseded names, and the gap between choosing a generation
  *     and the create landing is unbounded (cold JVM, GC pause), so a
  *     late-landing create can claim a long-dead generation while the
  *     real head is far above — the claim stands only if it is the
  *     HEAD with a fence-clearing deadline, else it is disowned. A ZOMBIE holder
  *     (alive past its deadline) cannot corrupt anything because the
  *     publish is deadline-fenced AND the commit-file conditional
  *     create re-arbitrates — it loses with a loud
  *     [[ConcurrentCommitException]], and [[IndexManifest.mutate]]
  *     rebases. Liveness reads of the head lease distinguish
  *     FileNotFound (pruned → lapsed) from transient IO errors
  *     (re-polled [[HeadReadRetries]] times before takeover).
  *
  * Hard links don't exist on object stores, so [[createLink]] throws
  * the documented contract error and schemed roots ALWAYS pin the
  * `listing` carry layout ([[IndexManifest.stage]] enforces it).
  *
  * Consistency note: this backend expects the store's LIST to reflect
  * a completed PUT (true of HDFS, and of S3 since the 2020 strong
  * read-after-write consistency change); pre-2020-style eventually-
  * consistent stores would need a coordination table instead.
  */
private[graft] object HadoopManifestIo extends ManifestIo {
  import org.apache.hadoop.fs.{FileContext, FileSystem, Path}

  val supportsLinks = false

  /** Commit-lease lifetime: a holder that dies mid-commit blocks the
    * root for at most this long before a contender takes over. Commit
    * bodies are metadata-only (the data writes happen BEFORE the
    * lock), so generous is cheap.
    *
    * CLOCK-SKEW margin arithmetic: the lease deadline is stamped from
    * the HOLDER's clock but compared against each CONTENDER's clock,
    * so with cross-process skew δ a fast-clock contender can take
    * over up to δ BEFORE the holder's own fence
    * ([[lockStillHeld]]) sees the deadline pass — two fenced
    * destructors at once, the exact double-holder window the lease
    * exists to close. The protocol therefore splits the margin: the
    * holder's own fence gives up [[LeaseSkewAllowanceMs]] (capped at
    * TTL/4) EARLY, while takeover still waits for the full deadline,
    * leaving a guaranteed no-destructor gap of that width between
    * "holder stops trusting its lease" and "a successor may act".
    * Deployments must keep |δ| across committers under that gap: a
    * fixed 5 s, which NTP-disciplined clusters (ms–s of skew) clear.
    * Every committer of a root must agree on the TTL and the
    * allowance, so both are protocol constants, not per-caller
    * settings. The one writer of this `var` is `CommitStorm.main`,
    * whose storm JVMs cannot share an in-process clock and need a
    * real sub-second lease.
    */
  @volatile private[graft] var LeaseTtlMs: Long = 5L * 60 * 1000

  /** Cross-process clock-skew budget: the holder's own liveness fence
    * treats its lease as lost this long BEFORE the stamped deadline
    * (capped at TTL/4 so a short storm TTL keeps a usable window),
    * while contenders honor the full deadline — see [[LeaseTtlMs]]'s
    * margin arithmetic.
    */
  val LeaseSkewAllowanceMs: Long = 5000L

  private[llm] def fenceMarginMs: Long = fenceMarginFor(LeaseTtlMs)

  private[llm] def fenceMarginFor(ttlMs: Long): Long =
    math.min(LeaseSkewAllowanceMs, ttlMs / 4)

  /** How long a contender keeps re-polling an UNREADABLE head lease
    * before declaring it dead: a full [[LeaseTtlMs]] from the FIRST
    * failed read. That is the only safe bound — any live lease's
    * deadline is at most its create time + TTL ≤ firstFailure + TTL,
    * so waiting the TTL out guarantees the holder's deadline has
    * passed even if the file never becomes readable again. A
    * fixed-count retry (the first cut used 5×50 ms) converts a
    * ~300 ms store-throttling burst into a takeover INSIDE a live
    * holder's deadline — two fence-valid holders at once, the
    * double-holder the lease exists to prevent. FileNotFound
    * (pruned) still lapses immediately.
    */
  def headReadPatienceMs: Long = LeaseTtlMs

  /** Committed `MANIFEST-<seq>` files retained for readers resolving
    * concurrently with pruning; only the highest is authoritative.
    */
  val KeepCommitFiles = 8

  // Building a Configuration is EXPENSIVE (newHadoopConf() copies the
  // whole session conf; even the bare constructor re-walks the
  // default resources) and a single commit makes dozens of io calls —
  // cache one per session (or one session-less fallback), not one per
  // call: measured ~420 ms → low-ms per commit on a local FileContext
  // root.
  @volatile private var cachedConf
      : (Option[org.apache.spark.sql.SparkSession],
        org.apache.hadoop.conf.Configuration) = null

  private def conf(): org.apache.hadoop.conf.Configuration = {
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val c = cachedConf
    if (c != null && ((c._1, active) match {
        case (Some(a), Some(b)) => a eq b
        case (None, None) => true
        case _ => false
      })) c._2
    else {
      val fresh = active.map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      cachedConf = (active, fresh)
      fresh
    }
  }

  private def fs(path: String): FileSystem =
    new Path(path).getFileSystem(conf()) // FileSystem.get caches per scheme

  // FileContext has NO instance cache (unlike FileSystem.get) and
  // constructing one re-resolves the AbstractFileSystem — cache per
  // scheme+authority
  private val fcCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileContext]()

  private def fc(uri: java.net.URI): FileContext =
    fcCache.computeIfAbsent(
      s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}",
      _ => FileContext.getFileContext(uri, conf()))

  def mkdirs(dir: String): Unit = fs(dir).mkdirs(new Path(dir)): Unit
  def exists(path: String): Boolean = fs(path).exists(new Path(path))
  def isDirectory(path: String): Boolean = {
    val f = fs(path)
    val p = new Path(path)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }
  def listNames(dir: String): Seq[String] = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName).toSeq
  }
  def readString(path: String): String = {
    val in = fs(path).open(new Path(path))
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  def writeString(path: String, s: String): Unit = {
    val uri = new Path(path).toUri
    if ("file".equalsIgnoreCase(uri.getScheme)) {
      // nio, not the checksummed FileSystem: these are the protocol's
      // hottest small writes (lease release, pins, FILES listings), and
      // its create writes a .crc sidecar beside each one. A JVM with no
      // graft session (ProbeCommitChain, say) also gets Hadoop's stock
      // local filesystem, whose create forks a chmod per file when no
      // native libhadoop is loaded. Drop any stale checksum sidecar a
      // pre-existing fs-written file left behind, or ChecksumFileSystem
      // reads of the overwrite would fail.
      val p = java.nio.file.Paths.get(uri.getPath)
      // fs.create auto-creates missing parents and the hdfs:// branch
      // below inherits that — keep the nio fast path contract-equal
      // rather than scheme-divergent
      Option(p.getParent).foreach(d =>
        java.nio.file.Files.createDirectories(d): Unit)
      java.nio.file.Files.write(p,
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      java.nio.file.Files.deleteIfExists(
        p.resolveSibling(s".${p.getFileName}.crc")): Unit
    } else {
      val out = fs(path).create(new Path(path), true)
      try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }
  /** Schemes whose write-then-`rename(NONE)` claim is arbitrated
    * atomically SERVER-SIDE (HDFS inside the NameNode lock and its
    * proxies/encryption-zone views; Ozone's object-store endpoints).
    * `file` is handled separately by the kernel `link(2)` path. Every
    * other scheme must opt in via [[TrustConditionalCreateConf]]
    * after fronting a NATIVE conditional put.
    */
  private val AtomicClaimSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs")

  /** Opt-in for schemes outside [[AtomicClaimSchemes]]: set to `true`
    * (Spark conf or system property) ONLY when the deployment bridges
    * the store's native conditional put under Hadoop's create/rename
    * — S3 `If-None-Match` puts, GCS generation-0 preconditions —
    * because the stock S3A/GCS connectors implement rename as
    * userland copy+delete, which is check-then-act: two processes
    * both pass the exists check and the second silently REPLACES the
    * first's lease/commit file (the exact lost update the 3-JVM storm
    * proved on Hadoop's local FS before the `link(2)` bridge).
    *
    * BRIDGE CONTRACT: the connector must surface a LOST conditional
    * put (S3/GCS `412 Precondition Failed` on `If-None-Match` /
    * generation-0) as Hadoop's `FileAlreadyExistsException` from
    * `create(overwrite=false)` or the stream's `close()` — that is
    * the shape [[writeExclusive]] recognizes as "racer won" and
    * returns `false` for; any other exception propagates as a real
    * error (it is NOT treated as a lost race). MockS3FileSystem, the
    * certification twin, enforces exactly this shape.
    */
  val TrustConditionalCreateConf = "spark.graft.manifest.trustConditionalCreate"

  private def trustConditionalCreate: Boolean = {
    // consult the thread-local ACTIVE session first, then the global
    // DEFAULT session (background/executor threads have no active
    // one — a deployment that opted in via Spark conf must not get
    // spurious refusals off the driver thread), then system props
    def fromSession(s: Option[org.apache.spark.sql.SparkSession]) =
      s.flatMap(x => scala.util.Try(
        x.conf.get(TrustConditionalCreateConf)).toOption)
    fromSession(org.apache.spark.sql.SparkSession.getActiveSession)
      .orElse(fromSession(
        org.apache.spark.sql.SparkSession.getDefaultSession))
      .orElse(sys.props.get(TrustConditionalCreateConf))
      .exists(_.trim.equalsIgnoreCase("true"))
  }

  def writeExclusive(path: String, s: String): Boolean = {
    // write-complete-then-atomic-claim: the destination only ever
    // appears with its full content, and the claim admits exactly one
    // writer. The claim primitive is per STORE — the whole protocol's
    // mutual exclusion rests on its atomicity ACROSS PROCESSES:
    //
    //   - file:// → the kernel's link(2) on a fully-written temp.
    //     Hadoop's LOCAL filesystem has NO atomic conditional
    //     primitive: both rename(Options.Rename.NONE) and
    //     create(overwrite=false) are userland check-then-act, so two
    //     processes can both pass the exists check and the second
    //     rename silently REPLACES the first (the 3-JVM storm caught
    //     exactly this: two writers both 'acquired' the lease).
    //     link(2) fails with EEXIST in the kernel — the Delta
    //     LocalLogStore shape.
    //   - AtomicClaimSchemes → write-then-rename(NONE), atomic because
    //     the store arbitrates it server-side (HDFS does, inside the
    //     NameNode lock).
    //   - anything else (s3a, gs, abfs, …) → REFUSED unless the
    //     deployment opted in via TrustConditionalCreateConf, because
    //     running the commit protocol on a copy+delete rename silently
    //     re-opens every lost-update race the protocol closes. The
    //     check runs BEFORE any FileSystem access, so the refusal is
    //     actionable even when the scheme's connector isn't on the
    //     classpath.
    val dst = new Path(path)
    val uri = dst.toUri
    val scheme = Option(uri.getScheme).map(_.toLowerCase)
      .getOrElse(Option(FileSystem.getDefaultUri(conf()).getScheme)
        .map(_.toLowerCase).getOrElse("file"))
    if (!AtomicClaimSchemes.contains(scheme) && !trustConditionalCreate)
      throw new UnsupportedOperationException(
        s"refusing the manifest commit protocol on scheme '$scheme' " +
          s"($path): its Hadoop rename/create is userland " +
          "check-then-act, not an atomic conditional put, so " +
          "concurrent committers can silently lose updates. Front the " +
          "store's native conditional put (S3 If-None-Match, GCS " +
          "generation-0 precondition) and opt in with " +
          s"$TrustConditionalCreateConf=true (Spark conf or system " +
          "property), or place index roots on " +
          AtomicClaimSchemes.toSeq.sorted.mkString("/") + ".")
    if (scheme == "file") {
      val dstNio = java.nio.file.Paths.get(uri.getPath)
      val tmpNio = dstNio.resolveSibling(
        s".${dstNio.getFileName}.tmp-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.write(tmpNio,
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      try {
        java.nio.file.Files.createLink(dstNio, tmpNio): Unit
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        java.nio.file.Files.deleteIfExists(tmpNio): Unit
      }
    } else if (!AtomicClaimSchemes.contains(scheme)) {
      // TRUSTED CONDITIONAL PUT (the opt-in above vouched for it):
      // object stores have no rename primitive at all — S3A's is a
      // userland copy+delete — so the write-temp-then-rename shape
      // below cannot run here. The bridged connector makes
      // create(overwrite=false) the store's native conditional put
      // (S3 If-None-Match, GCS generation-0): the object appears
      // all-or-nothing when the PUT completes at close(), and the
      // STORE arbitrates the exclusivity there — a loser surfaces
      // FileAlreadyExists from create() or close(). A writer dying
      // before close() leaves NOTHING (not even a burned name): the
      // PUT never completed.
      // lost races surface ONLY as FileAlreadyExistsException — the
      // pinned bridge contract (see TrustConditionalCreateConf). No
      // message sniffing here: a transient store error whose text
      // happens to contain "exists" must stay a loud error, not get
      // silently converted into a lost race.
      val f = fs(path)
      try {
        val out = f.create(dst, false)
        try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      val tmp = new Path(dst.getParent,
        s".${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
      val f = fs(path)
      val out = f.create(tmp, false)
      try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      try {
        fc(dst.toUri).rename(tmp, dst)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false): Unit
          false
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("exists") =>
          f.delete(tmp, false): Unit
          false
      }
    }
  }
  def deleteIfExists(path: String): Unit =
    fs(path).delete(new Path(path), false): Unit
  def rmTree(path: String): Unit =
    fs(path).delete(new Path(path), true): Unit
  def mtime(path: String): Long = {
    val f = fs(path)
    val p = new Path(path)
    // exists-then-stat races a concurrent delete (a zombie commit's
    // sidecar cleanup vs a successor's GC): missing reads as 0, the
    // posix convention
    try if (f.exists(p)) f.getFileStatus(p).getModificationTime else 0L
    catch { case _: java.io.FileNotFoundException => 0L }
  }
  def setMtime(path: String, t: Long): Unit =
    fs(path).setTimes(new Path(path), t, -1)
  def newestMtime(path: String): Long = {
    val f = fs(path)
    // children may VANISH mid-walk (a lock-free stager's writeExclusive
    // temp file deleted between our listStatus and the child stat —
    // this walk runs under the commit lock, stagers don't): a missing
    // child reads as mtime 0, same as the posix convention, instead of
    // crashing the GC liveness scan
    def walk(p: Path): Long =
      try {
        val st = f.getFileStatus(p)
        if (!st.isDirectory) st.getModificationTime
        else f.listStatus(p).foldLeft(st.getModificationTime)((m, c) =>
          math.max(m, walk(c.getPath)))
      } catch { case _: java.io.FileNotFoundException => 0L }
    val p = new Path(path)
    if (f.exists(p)) walk(p) else 0L
  }
  def hasParquet(path: String): Boolean = {
    val f = fs(path)
    def walk(p: Path): Boolean =
      f.listStatus(p).exists { st =>
        (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
          (st.isDirectory && walk(st.getPath))
      }
    val p = new Path(path)
    f.exists(p) && f.getFileStatus(p).isDirectory && walk(p)
  }
  def parquetFiles(path: String): Seq[String] = {
    val f = fs(path)
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else {
      val it = f.listFiles(p, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          out += st.getPath.toString
      }
      out.result()
    }
  }
  def versionStamp(root: String, version: String): Option[String] =
    try Some(readString(s"$root/$version/$CommittedMarkerFile"))
    catch { case _: java.io.FileNotFoundException => None }
  def createLink(to: String, from: String): Unit =
    throw new UnsupportedOperationException(
      "hard links do not exist on object stores: index roots on a " +
        "schemed filesystem use the 'listing' carry layout (pinned " +
        s"for every new root); this root's LAYOUT says 'link'. Path: $to")

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val LeaseName = (IndexManifest.LockFile + "-(\\d{9,})").r

  /** Lease files newest-generation first; a legacy plain `COMMIT_LOCK`
    * (written by the pre-generation protocol) reads as generation 0.
    */
  private def leaseGens(root: String): Seq[(Long, String)] =
    listNames(root).collect {
      case n @ LeaseName(g) => (g.toLong, n)
      case n if n == IndexManifest.LockFile => (0L, n)
    }.sortBy(-_._1)

  // this thread's live leases (root → deadline): the lockStillHeld
  // fence reads the deadline it recorded at acquisition — no I/O
  private val heldLeases =
    new ThreadLocal[Map[String, Long]] {
      override def initialValue(): Map[String, Long] = Map.empty
    }

  override def lockStillHeld(root: String): Boolean =
    // the holder gives up a skew allowance EARLY while takeover waits
    // for the full deadline: the gap between the two is the
    // no-destructor window that absorbs cross-process clock skew
    // (see LeaseTtlMs's margin arithmetic)
    heldLeases.get.get(root)
      .forall(_ - fenceMarginMs > ManifestClock.now())

  /** Release marker written over a holder's own lease file. The file
    * SURVIVES release (overwrite, never delete): its generation number
    * is the persistent high-water mark that keeps generations truly
    * MONOTONIC across acquire/release cycles. The old delete-based
    * release emptied the listing, restarting numbering at 1 — and a
    * reused generation name re-admits the delete-ABA: a zombie's
    * delayed release could delete a LATER holder's identically-named
    * lease and hand the lock to two contenders at once.
    */
  private val ReleasedMarker = "RELEASED"

  def withLock[T](root: String)(body: => T): T = {
    // the lease is NOT reentrant: a nested acquisition would see its
    // own live head and poll it forever — fail fast instead. The
    // guard keys on the EXACT spelling (like heldLeases and the
    // fence): alias spellings deliberately take distinct in-process
    // monitors so the alias specs can simulate cross-process
    // contention through the lease files alone — a nested alias
    // acquisition behaves like any foreign contender and waits out
    // the TTL rather than being named reentrant.
    if (heldLeases.get.contains(root))
      throw new IllegalStateException(
        s"reentrant withLock on $root: the commit lease is not " +
          "reentrant — restructure the caller to take the lock once")
    rootLocks.computeIfAbsent(root, _ => new Object).synchronized {
      mkdirs(root)
      val token = java.util.UUID.randomUUID().toString
      var mine: String = null
      var myDeadline = 0L
      // unreadable-head patience: a TRANSIENT read failure of a live
      // head (store throttling, an HDFS blip) must not trigger
      // takeover inside the holder's deadline — only FileNotFound
      // (pruned) lapses immediately; other IO errors re-poll until a
      // full TTL has passed since the FIRST failure, the only bound
      // that provably outlives any live holder's deadline (see
      // headReadPatienceMs)
      var failName: String = null
      var firstFailAt = 0L
      while (mine == null) {
        val leases = leaseGens(root)
        // the highest generation is the lease; it's live iff its
        // deadline field parses and is in the future (a RELEASED
        // overwrite parses as no deadline — lapsed)
        val head = leases.headOption
        // 1 = live, 0 = lapsed, -1 = indeterminate (transient error)
        val state: Int = head match {
          case None => 0
          case Some((_, n)) =>
            try {
              val content = readString(s"$root/$n")
              failName = null
              val live = content.split("\t", 2).lift(1)
                .flatMap(d => scala.util.Try(d.trim.toLong).toOption)
                .exists(_ >= ManifestClock.now())
              if (live) 1 else 0
            } catch {
              case _: java.io.FileNotFoundException => 0 // pruned
              case _: java.io.IOException =>
                if (n != failName) {
                  failName = n
                  firstFailAt = ManifestClock.now()
                }
                if (ManifestClock.now() - firstFailAt >=
                  headReadPatienceMs) 0
                else -1
            }
        }
        if (state != 0) {
          IndexManifest.failpoint(s"lock-wait:$root")
          Thread.sleep(50)
        } else {
          // lapsed or absent: take over by conditional-creating the
          // NEXT generation. Never delete-then-recreate the current
          // name: between a contender's delete and create, another
          // contender's delete can land on the FIRST winner's fresh
          // lease and admit two holders (the ABA race). The exclusive
          // create of one immutable name admits exactly one — and
          // because release keeps the head file (as a RELEASED
          // marker), generations never restart: a name, once claimed,
          // is never a lease again.
          val next = leases.headOption.map(_._1).getOrElse(0L) + 1
          val name = f"${IndexManifest.LockFile}-$next%09d"
          val deadline = ManifestClock.now() + LeaseTtlMs
          if (writeExclusive(s"$root/$name", s"$token\t$deadline")) {
            // CLAIM VERIFY — the create alone is not proof of
            // headship: the gap between the LISTING that chose this
            // generation and the conditional create LANDING is
            // unbounded (a cold JVM's classloading, a GC pause, store
            // throttling), and takeover pruning re-frees superseded
            // names — so this create may have landed on a LONG-DEAD
            // generation while the real head is far above. The 3-JVM
            // cold-start storm caught exactly that: a late-starting
            // process claimed the pruned generation 1 while
            // generation 6 was live, double-held the root, and its
            // GC reaped the live holder's freshly-committed version.
            // Re-list: the claim stands only if it IS the head (the
            // head file always survives — release overwrites, never
            // deletes — so a stale claim always sees its superior).
            // Also require the deadline to still clear the fence
            // margin, so a slow-landing claim can't start life as an
            // instant zombie.
            val fresh = leaseGens(root)
            if (fresh.headOption.exists(_._1 > next) ||
                ManifestClock.now() >= deadline - fenceMarginMs) {
              // stale claim: disown it (RELEASED keeps monotonicity)
              // and re-evaluate the real head
              try writeString(s"$root/$name", s"$ReleasedMarker\t$token")
              catch { case _: java.io.IOException => () }
            } else {
              mine = name
              myDeadline = deadline
              // prune superseded generations (all strictly below
              // ours, from the FRESH listing): released markers,
              // expired zombies, the legacy plain lock. Re-claims of
              // pruned names are disowned by the verify above, and
              // our file persists as the floor until a HIGHER
              // generation supersedes it. BEST-EFFORT per delete
              // (one inline retry, then skip): this is litter
              // control — head resolution reads only the max
              // generation, so a store-throttled delete must not
              // fail a WON acquisition (the transient-fault nemesis
              // showed that failing here orphans the fresh holder
              // lease and burns a generation per retry); lingering
              // stubs are re-pruned by later takeovers.
              fresh.filter(_._1 < next)
                .foreach { case (_, n) =>
                  bestEffortDelete(s"$root/$n")
                }
            }
          } // else a racer took this generation — re-evaluate its liveness
        }
      }
      heldLeases.set(heldLeases.get + (root -> myDeadline))
      try body
      finally {
        heldLeases.set(heldLeases.get - root)
        // RELEASE BY OVERWRITE of our own immutable name, never a
        // delete: the surviving file keeps generation numbers
        // monotonic (see ReleasedMarker), so a zombie's delayed
        // release can never destroy a later holder's lease — at worst
        // it re-materializes its own long-superseded generation as a
        // RELEASED stub below the current head, harmless and pruned
        // by the next takeover. Best-effort: an unreleased lease just
        // waits out its TTL.
        try writeString(s"$root/$mine", s"$ReleasedMarker\t$token")
        catch { case _: java.io.IOException => () }
      }
    }
  }

  private val CommitName = "MANIFEST-(\\d{9,})".r

  private def commitSeqs(root: String): Seq[(Long, String)] =
    listNames(root).collect {
      case n @ CommitName(seq) => (seq.toLong, n)
    }.sortBy(-_._1)

  private def resolveLineage(root: String,
      seqs: Seq[(Long, String)]): Seq[String] =
    // highest parseable commit file wins; an empty one is a burned
    // sequence number (a writer died between create and content on a
    // store without atomic conditional rename) — skip it
    seqs.iterator
      .map { case (_, n) =>
        scala.util.Try(readString(s"$root/$n")).toOption
          .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
      }
      .find(_.nonEmpty)
      .getOrElse {
        // legacy single-pointer root (written before this backend)
        scala.util.Try(readString(s"$root/${IndexManifest.PointerFile}"))
          .toOption
          .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
      }

  def readPointer(root: String): Seq[String] =
    resolveLineage(root, commitSeqs(root))

  def readPointerForCommit(root: String): (Seq[String], Long) = {
    // ONE listing feeds both: the token is the highest sequence seen
    // (burned empties included — their names are spent), the lineage
    // is the newest parseable content. Splitting these across two
    // listings would let a commit land between them and make the
    // token vouch for a lineage it never saw.
    val seqs = commitSeqs(root)
    (resolveLineage(root, seqs),
      seqs.headOption.map(_._1).getOrElse(0L))
  }

  def publishPointer(root: String, lineage: Seq[String],
      token: Long, headIsNewClaim: Boolean = true): Unit = {
    // FENCE FIRST: a holder past its lease deadline may already have
    // a successor whose ≥ KeepCommitFiles commits PRUNED
    // MANIFEST-(token+1) — the zombie's conditional create of that
    // name would then SUCCEED yet be invisible (readers resolve the
    // max sequence): the silent lost update the token exists to make
    // loud, pushed KeepCommitFiles commits out. Inside the deadline
    // no successor can exist, so token+1 is genuinely the next
    // sequence and cannot have been pruned (pruning only happens in
    // LATER publishes). Threads with no recorded lease (spec-style
    // direct calls) pass and are arbitrated by the create below.
    if (!lockStillHeld(root))
      throw new ConcurrentCommitException(root, None,
        readPointer(root).headOption)
    // the commit file's name is FIXED by the token, never recomputed:
    // re-listing here would hand a zombie (expired-lease holder whose
    // successor already published) a fresh higher number and let it
    // publish a lineage that silently drops the successor's commit —
    // the lost update the token exists to prevent. If anything
    // committed after the token was read, token+1 is taken and the
    // conditional create loses loudly.
    val name = f"MANIFEST-${token + 1}%09d"
    // failpoint: a TTL-scale stall between the deadline fence above
    // and the conditional create below (the first leg of the
    // documented ambiguity window) — spec-injected only
    IndexManifest.failpoint(s"publish-pre-create:$root")
    if (!writeExclusive(s"$root/$name", lineage.mkString("\n")))
      throw new ConcurrentCommitException(root, None,
        readPointer(root).headOption)
    // failpoint: a stall between the landed create and the re-list
    // below (the second leg of the ambiguity window)
    IndexManifest.failpoint(s"publish-post-create:$root")
    // belt-and-braces behind the fence (covers a pathological stall
    // BETWEEN the deadline check and the create): re-list — the prune
    // below needs this listing anyway, so the guard is free. Our
    // create is a RECREATE OF A PRUNED NAME (invisible to readers,
    // who resolve the max sequence) exactly when the head is already
    // ≥ KeepCommitFiles past us — the minimum distance at which a
    // publish can have pruned token+1. A SMALLER gap means our create
    // landed first and successors rebased past it: that commit is
    // REAL and may already be built upon — return success. AT the
    // gap, the distance alone cannot distinguish the two (a landed
    // commit can be overtaken by ≥ KeepCommitFiles successors inside
    // this window), but the CURRENT lineage can: successors rebase on
    // what they resolve, so a commit that landed first is IN the
    // retained history — and version names are claimed at most once
    // ever, so containment is exact. Only a commit the chain does NOT
    // carry is disowned: it has never been the max sequence, so no
    // reader can ever have resolved it, and the caller rebases
    // loudly. The carried-success shortcut applies ONLY to publishes
    // whose head is a freshly claimed name (headIsNewClaim — commits):
    // a retention TRIM's head is a pre-existing version every
    // successor's lineage carries regardless, so containment proves
    // nothing there and a zombie trim must keep losing loudly rather
    // than reporting an unresolvable trim as applied. Residual for
    // commits: one carried then EXPIRED out of every retained lineage
    // inside this same window would still disown and double-apply on
    // rebase — that needs ≥ KeepCommitFiles successor publishes AND
    // retain-expiry of a version that was the head at our create, all
    // within a three-statement stall; the disowned file itself
    // remains unresolvable either way. PRECONDITION the containment
    // proof rests on: "claimed at most once ever" holds while the
    // claim marker lives, but the marker dies with its version dir —
    // GC reaps unreferenced dirs and stage() allocates max(existing)+1
    // — so after FULL retention turnover (every version that existed
    // at our create expired and reaped) a pruned name can be re-claimed
    // by a different writer, making containment non-exact for a zombie
    // stalled across BOTH that turnover and the readback. That stacks
    // the double-apply residual above with a TTL-scale stall plus a
    // complete lineage turnover inside the same three-statement
    // window; accepted as the same documented residual, and the
    // failure mode stays a loud rebase, never a silent drop.
    val after = commitSeqs(root)
    if (after.headOption.exists(_._1 - (token + 1) >= KeepCommitFiles)) {
      val resolved = resolveLineage(root, after)
      if (!(headIsNewClaim &&
          lineage.headOption.exists(resolved.contains))) {
        deleteIfExists(s"$root/$name")
        throw new ConcurrentCommitException(root, None,
          resolved.headOption)
      }
    }
    // prune superseded commit files (readers resolve the max; keep a
    // tail for scans that listed just before this publish).
    // BEST-EFFORT per delete (one inline retry, then skip): the
    // publish above is already durable — a store-throttled tail
    // delete must not turn a LANDED commit into a reported failure
    // (the caller would have to run the landed-check recovery for
    // what is only litter); a skipped name is re-pruned by the next
    // publish's drop(KeepCommitFiles).
    after.drop(KeepCommitFiles)
      .foreach { case (_, n) => bestEffortDelete(s"$root/$n") }
  }

  /** Litter-control delete: one inline retry on a transient store
    * error (the SDK-retry shape a throttled DELETE gets in real
    * deployments), then SKIP — never fail the protocol verb over
    * cosmetic cleanup. Certified by the nemesis hostile loop, which
    * bounds the commit tail under once-per-key fault injection.
    */
  private def bestEffortDelete(path: String): Unit =
    try deleteIfExists(path)
    catch {
      case _: java.io.IOException =>
        try deleteIfExists(path)
        catch { case _: java.io.IOException => () }
    }

  /** Stage marker claiming a version dir (`v<N>/STAGE`). PERSISTS for
    * the dir's whole life — it is the claimed-exactly-once token.
    */
  val StageMarkerFile = "STAGE"

  /** Commit sentinel (`v<N>/COMMITTED`): its presence flips a claimed
    * dir from stage to version. The claim marker is never deleted —
    * deleting it would let a lagging stager (one that computed this
    * number before a faster racer committed it) re-claim a LIVE
    * pointer-referenced dir, write artifacts into it, and `rmTree` it
    * on its own CAS rebase.
    */
  val CommittedMarkerFile = "COMMITTED"

  def stageDirName(version: String): String = version
  def stageNameToVersion(name: String): String = name

  def reserveStage(root: String, version: String): Boolean = {
    mkdirs(s"$root/$version")
    // mkdirs is NOT exclusive on Hadoop (true even when pre-existing);
    // the conditional marker create is the claim — and because the
    // marker persists past commit, a committed dir can NEVER be
    // re-claimed (the create fails and the stager takes the next
    // number)
    writeExclusive(s"$root/$version/$StageMarkerFile",
      ManifestClock.now().toString)
  }

  def finalizeVersion(root: String, version: String): String = {
    // data never moves: the stage dir IS the version dir; committing
    // adds the COMMITTED sentinel beside the (persistent) claim
    // marker. Conditional create = idempotent on commit replay. Only
    // when the dir exists: Hadoop create() makes parents, and
    // materializing an empty dir here would defeat commitImpl's
    // dangling-pointer replay guard (a crash between finalize and
    // publish leaves STAGE+COMMITTED, an unreferenced version — GC'd).
    // The sentinel's content is the wall clock, not the manifest
    // clock: it is no TTL input but the version's identity stamp
    // (versionStamp, `IndexBuffer`'s key), which must differ
    // between a version and a wiped-and-rebuilt root's same name.
    if (isDirectory(s"$root/$version"))
      writeExclusive(s"$root/$version/$CommittedMarkerFile",
        System.currentTimeMillis().toString): Unit
    version
  }

  def listVersionDirNames(root: String): Seq[String] =
    scanRoot(root)._1.collect {
      case (n, marked) if !marked => n
    }

  def listStageDirNames(root: String): Seq[String] =
    scanRoot(root)._1.collect {
      case (n, marked) if marked => n
    }

  override def classifiedRootListing(root: String)
      : (Seq[String], Seq[String], Seq[String]) = {
    val (dirs, files) = scanRoot(root)
    (dirs.collect { case (n, marked) if !marked => n },
     dirs.collect { case (n, marked) if marked => n },
     files)
  }

  /** One root listing → (version-named dirs with their staged
    * classification, non-directory child names).
    */
  private def scanRoot(root: String)
      : (Seq[(String, Boolean)], Seq[String]) = {
    val f = fs(root)
    val p = new Path(root)
    val stageGraceCutoff =
      ManifestClock.now() - IndexManifest.StageTtlMs
    if (!f.exists(p)) (Seq.empty, Seq.empty)
    else {
      val (dirs, files) = f.listStatus(p).toSeq.partition(_.isDirectory)
      // staged ⟺ claimed but not committed — with one grace case: a
      // FRESH dir carrying NO markers at all is a reservation
      // MID-CLAIM (reserveStage's mkdirs landed, its conditional
      // STAGE-marker create has not yet), and classifying it as a
      // legacy version would let a concurrent commit's GC reap it as
      // unreferenced out from under the stager (the hostile-storm
      // race). Marker-less dirs therefore count as STAGES until
      // StageTtlMs old — protected by the same liveness rules as any
      // stage — and only then as versions (true legacy pre-sentinel
      // dirs are old by definition; referenced ones are in the
      // lineage keep-set regardless). A dir whose mtime reads 0 is
      // UNKNOWN, not old — stores with synthetic directory entries
      // (S3A prefix-inferred dirs when marker retention is off)
      // report 0, and "unknown" must classify as a protected stage,
      // never as reapable legacy junk. Opted-in object-store
      // deployments should retain directory markers
      // (fs.s3a.directory.marker.retention=keep) so fresh mkdirs
      // carry real PUT times.
      val classified = dirs
        .filter(st => IndexManifest.VersionName.pattern
          .matcher(st.getPath.getName).matches())
        .map { st =>
          val hasStage = f.exists(new Path(st.getPath, StageMarkerFile))
          val committed =
            f.exists(new Path(st.getPath, CommittedMarkerFile))
          val staged =
            if (hasStage) !committed
            else !committed && (st.getModificationTime == 0L ||
              st.getModificationTime >= stageGraceCutoff)
          (st.getPath.getName, staged)
        }
      (classified, files.map(_.getPath.getName))
    }
  }
}
