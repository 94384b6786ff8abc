package graft.llm

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path,
  PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A Hadoop `FileSystem` with OBJECT-STORE semantics, for certifying
  * the manifest commit protocol's `trustConditionalCreate` opt-in
  * path against what S3/GCS actually provide — instead of trusting
  * the documented bridge. Registered via the ServiceLoader
  * (`META-INF/services/org.apache.hadoop.fs.FileSystem`), scheme
  * `mocks3://<bucket>/<key>`; objects persist in a shared local
  * backing directory so SEPARATE JVMs (the CommitStorm processes)
  * contend through it like processes against one bucket.
  *
  * Semantics modeled (each is a real S3/GCS behavior the protocol
  * must survive, not a convenience):
  *
  *   - `create(overwrite=false)` is the store's NATIVE conditional
  *     put (S3 `If-None-Match`, GCS generation-0): the object appears
  *     all-or-nothing when the PUT completes at `close()`, and the
  *     exclusivity is arbitrated THERE — not at `create()` — so two
  *     writers both open streams and exactly one close() wins; the
  *     loser gets `FileAlreadyExistsException` from close(). The
  *     cross-process arbitration primitive is a kernel `link(2)` on a
  *     fully-written temp in a shadow area outside the listing
  *     namespace. A writer dying before close() leaves NOTHING.
  *   - `create(overwrite=true)` is an unconditional PUT: atomic
  *     full-content replace (`ATOMIC_MOVE`), readers never observe a
  *     partial object.
  *   - `rename` THROWS by default: object stores have no rename
  *     primitive, so the commit protocol must never reach it. For
  *     end-to-end lifecycles that push Spark's own output committer
  *     through this store, a bucket's
  *     [[MockS3FileSystem.CopyRenameMarker]] enables the stock-S3A
  *     emulation (userland copy+delete,
  *     check-then-act, NON-atomic) — but renames whose destination is
  *     a protocol file name (`MANIFEST-*`, `COMMIT_LOCK*`, `STAGE`,
  *     `COMMITTED`, `MANIFEST`) still throw in every mode: a protocol
  *     file arriving by rename would be the exact lost-update bug the
  *     opt-in exists to prevent.
  *   - DIRECTORIES are synthetic (no markers — the hostile
  *     `fs.s3a.directory.marker.retention=delete` shape): `mkdirs`
  *     creates nothing, a prefix exists iff an object lives under it,
  *     deleting the last object erases the prefix, and a synthetic
  *     dir's mtime reads 0 — which is what exercises GC's
  *     unknown-counts-as-live rule for real.
  *   - LIST and GET are strongly consistent with completed PUTs (S3
  *     since 2020-12); `setTimes` on an object is the PUT-copy-onto-
  *     itself metadata refresh S3 supports; `append` does not exist.
  *
  * Backing layout: `<mocks3.backing>/<bucket>/objects/<key>` holds
  * the objects (1:1 with key paths, so specs can assert through the
  * backing dir), `<…>/<bucket>/.inflight/` holds uncommitted PUT
  * temps (invisible to every listing).
  */
class MockS3FileSystem extends FileSystem {
  private var fsUri: URI = _
  private var objectsDir: NioPath = _
  private var inflightDir: NioPath = _
  private var copyRenameMarker: NioPath = _
  private var workDir: Path = _

  override def getScheme: String = "mocks3"

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    val bucket = Option(uri.getAuthority).getOrElse(
      throw new IOException(s"mocks3 URI needs a bucket authority: $uri"))
    fsUri = URI.create(s"mocks3://$bucket")
    val base = Option(conf.get("fs.mocks3.backing"))
      .orElse(sys.props.get("mocks3.backing"))
      .getOrElse("/tmp/mocks3")
    objectsDir = Paths.get(base, bucket, "objects")
    inflightDir = Paths.get(base, bucket, ".inflight")
    copyRenameMarker = Paths.get(base, bucket, MockS3FileSystem.CopyRenameMarker)
    Files.createDirectories(objectsDir): Unit
    Files.createDirectories(inflightDir): Unit
    workDir = new Path(fsUri.toString + "/")
  }

  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = workDir
  override def setWorkingDirectory(dir: Path): Unit = { workDir = dir }

  /** Key path of a (possibly relative) Path, leading slash stripped;
    * empty string = the bucket root.
    */
  private def key(f: Path): String =
    makeQualified(f).toUri.getPath.stripPrefix("/")

  private def backing(f: Path): NioPath = {
    val k = key(f)
    if (k.isEmpty) objectsDir else objectsDir.resolve(k)
  }

  private def status(f: Path): FileStatus = {
    // ONE atomic stat, no check-then-read: a concurrent delete (a
    // GC's rmTree racing another process's root scan) must surface as
    // the FileNotFoundException a real connector maps 404 to — the
    // under-load storm loop caught the isRegularFile-then-size TOCTOU
    // leaking a raw NoSuchFileException that no protocol handler
    // catches
    val b = backing(f)
    val q = makeQualified(f)
    try {
      val attrs = Files.readAttributes(b,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      if (attrs.isRegularFile)
        new FileStatus(attrs.size(), false, 1, 64L * 1024 * 1024,
          attrs.lastModifiedTime().toMillis, q)
      else
        // synthetic prefix entry: NO readable mtime (marker retention
        // off) — the hostile shape GC's unknown-counts-as-live rule
        // is for
        new FileStatus(0, true, 1, 0, 0L, q)
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        if (key(f).isEmpty) new FileStatus(0, true, 1, 0, 0L, q)
        else throw new FileNotFoundException(s"mocks3: no object at $f")
    }
  }

  override def getFileStatus(f: Path): FileStatus = {
    MockS3FileSystem.maybeFault("stat", key(f))
    status(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    // S3 LIST semantics: a page never errors on concurrent deletes —
    // an object deleted (or a prefix pruned) mid-listing simply drops
    // out of the result, so stat failures on enumerated children are
    // skipped, and a prefix that vanishes under the listing reads as
    // the empty page it now is
    MockS3FileSystem.maybeFault("list", key(f))
    val b = backing(f)
    if (Files.isRegularFile(b)) Array(status(f))
    else if (Files.isDirectory(b)) {
      try {
        val children = Files.list(b)
        try children.iterator().asInstanceOf[java.util.Iterator[NioPath]]
          .asScala()
          .flatMap { c =>
            try Some(status(
              new Path(makeQualified(f), c.getFileName.toString)))
            catch { case _: FileNotFoundException => None }
          }
          .toArray
        finally children.close()
      } catch {
        case _: java.nio.file.NoSuchFileException |
            _: java.io.UncheckedIOException => Array.empty[FileStatus]
      }
    } else if (key(f).isEmpty) Array.empty
    else throw new FileNotFoundException(s"mocks3: no prefix at $f")
  }

  // scala.jdk.CollectionConverters without the import noise
  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScala(): Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    MockS3FileSystem.maybeFault("get", key(f))
    val b = backing(f)
    try new FSDataInputStream(new SeekableBytes(Files.readAllBytes(b)))
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new FileNotFoundException(s"mocks3: no object at $f")
      case e: IOException if Files.isDirectory(b) =>
        throw new FileNotFoundException(s"mocks3: $f is a prefix: $e")
    }
  }

  /** Commit a fully-buffered PUT. Conditional (`If-None-Match`) PUTs
    * arbitrate here via `link(2)` — atomic across processes;
    * unconditional PUTs replace atomically. Empty parent prefixes can
    * vanish under a concurrent delete's prune between our
    * createDirectories and the link — real stores have no prefixes at
    * all, so the PUT must simply win: retry.
    */
  private def commitPut(dst: NioPath, bytes: Array[Byte],
      overwrite: Boolean): Unit = {
    val tmp = inflightDir.resolve(
      s"put-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes): Unit
    try {
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        try {
          Option(dst.getParent).foreach(d =>
            Files.createDirectories(d): Unit)
          if (overwrite)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING): Unit
          else Files.createLink(dst, tmp): Unit
          done = true
        } catch {
          case _: java.nio.file.NoSuchFileException if attempts < 20 =>
            () // parent pruned mid-put — recreate and retry
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(
              s"mocks3: conditional PUT lost — object exists: $dst")
        }
      }
    } finally Files.deleteIfExists(tmp): Unit
  }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    // faulted at create(), never at close(): the PUT must stay
    // all-or-nothing — a faulted create is cleanly not-started
    MockS3FileSystem.maybeFault("put", key(f))
    val dst = backing(f)
    if (Files.isDirectory(dst))
      throw new FileAlreadyExistsException(s"mocks3: $f is a prefix")
    val buf = new ByteArrayOutputStream() {
      private var closed = false
      override def close(): Unit = if (!closed) {
        closed = true
        commitPut(dst, toByteArray, overwrite)
      }
    }
    new FSDataOutputStream(buf, statistics)
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(
      "mocks3: object stores cannot append")

  /** Names the manifest protocol may only ever CREATE conditionally —
    * one arriving by rename would mean the protocol regressed to the
    * check-then-act shape the opt-in exists to replace.
    */
  private def isProtocolName(name: String): Boolean =
    name.startsWith("MANIFEST") || name.startsWith("COMMIT_LOCK") ||
      name == "STAGE" || name == "COMMITTED"

  override def rename(src: Path, dst: Path): Boolean = {
    if (isProtocolName(dst.getName) || isProtocolName(src.getName))
      throw new UnsupportedOperationException(
        s"mocks3: a manifest protocol file reached rename ($src -> " +
          s"$dst) — the commit protocol must only conditional-create " +
          "these names")
    if (!Files.exists(copyRenameMarker))
      throw new UnsupportedOperationException(
        s"mocks3: no rename primitive ($src -> $dst); create the " +
          s"bucket's ${MockS3FileSystem.CopyRenameMarker} marker for " +
          "the stock-S3A copy+delete emulation")
    // stock-S3A emulation: userland copy+delete, check-then-act,
    // non-atomic — exactly why the protocol refuses to run on it
    val sb = backing(src)
    if (!Files.exists(sb)) false
    else {
      val db0 = backing(dst)
      // Hadoop rename-into-existing-dir semantics: dst/dirname
      val db = if (Files.isDirectory(db0))
        db0.resolve(sb.getFileName) else db0
      if (Files.exists(db)) false
      else {
        def copy(from: NioPath, to: NioPath): Unit = {
          if (Files.isDirectory(from)) {
            val children = Files.list(from)
            try children.iterator()
              .asInstanceOf[java.util.Iterator[NioPath]].asScala()
              .foreach(c => copy(c, to.resolve(c.getFileName)))
            finally children.close()
          } else {
            Files.createDirectories(to.getParent): Unit
            Files.copy(from, to,
              StandardCopyOption.REPLACE_EXISTING): Unit
          }
        }
        copy(sb, db)
        deleteTree(sb)
        pruneEmptyPrefixes(sb.getParent)
        true
      }
    }
  }

  private def deleteTree(p: NioPath): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.iterator()
        .asInstanceOf[java.util.Iterator[NioPath]].asScala()
        .foreach(deleteTree)
      finally children.close()
    }
    try Files.deleteIfExists(p): Unit
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  /** Deleting the last object under a prefix erases the prefix (S3
    * has no empty prefixes). Best-effort: a concurrent PUT re-creates
    * what it needs.
    */
  private def pruneEmptyPrefixes(from: NioPath): Unit = {
    var d = from
    while (d != null && d != objectsDir && d.startsWith(objectsDir)) {
      try { Files.delete(d); d = d.getParent }
      catch { case _: IOException => d = null }
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    MockS3FileSystem.maybeFault("delete", key(f))
    val b = backing(f)
    if (!Files.exists(b)) false
    else if (Files.isDirectory(b)) {
      val nonEmpty =
        try {
          val children = Files.list(b)
          try children.findFirst().isPresent
          finally children.close()
        } catch { // prefix vanished under us: nothing left to delete
          case _: java.nio.file.NoSuchFileException => return false
        }
      if (nonEmpty && !recursive)
        throw new IOException(s"mocks3: prefix $f is not empty")
      deleteTree(b)
      pruneEmptyPrefixes(b.getParent)
      true
    } else {
      val deleted = Files.deleteIfExists(b)
      pruneEmptyPrefixes(b.getParent)
      deleted
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    true // no directory markers to create: prefixes are synthetic

  override def setTimes(f: Path, mtime: Long, atime: Long): Unit = {
    // S3's COPY-onto-itself metadata refresh: works on objects only
    MockS3FileSystem.maybeFault("touch", key(f))
    val b = backing(f)
    try {
      if (mtime >= 0)
        Files.setLastModifiedTime(b,
          java.nio.file.attribute.FileTime.fromMillis(mtime)): Unit
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new FileNotFoundException(
          s"mocks3: setTimes on a missing object: $f")
    }
  }

  /** Byte-array input with the Seekable/PositionedReadable surface
    * parquet footers need.
    */
  private class SeekableBytes(bytes: Array[Byte])
      extends java.io.InputStream with Seekable with PositionedReadable {
    private var pos: Int = 0
    override def read(): Int =
      if (pos >= bytes.length) -1
      else { val b = bytes(pos) & 0xff; pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= bytes.length) -1
      else {
        val n = math.min(len, bytes.length - pos)
        System.arraycopy(bytes, pos, b, off, n)
        pos += n
        n
      }
    }
    override def available(): Int = bytes.length - pos
    def seek(p: Long): Unit = {
      if (p < 0 || p > bytes.length)
        throw new java.io.EOFException(s"seek $p of ${bytes.length}")
      pos = p.toInt
    }
    def getPos: Long = pos.toLong
    def seekToNewSource(targetPos: Long): Boolean = false
    def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int = {
      if (position >= bytes.length) -1
      else {
        val n = math.min(length, bytes.length - position.toInt)
        System.arraycopy(bytes, position.toInt, buffer, offset, n)
        n
      }
    }
    def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit = {
      if (position + length > bytes.length)
        throw new java.io.EOFException(
          s"readFully past end: $position+$length of ${bytes.length}")
      System.arraycopy(bytes, position.toInt, buffer, offset, length)
    }
    def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}

object MockS3FileSystem {
  /** Stock-S3A rename emulation (userland copy+delete) for driving
    * Spark's own output committer through the store in end-to-end
    * lifecycles, opted into per bucket by this marker file beside the
    * bucket's objects (outside every listing). Default OFF: the
    * manifest protocol itself must never reach rename, and protocol
    * file names throw in every mode. Every JVM that shares the backing
    * dir sees the marker, so Spark executors in separate processes
    * (`local-cluster`) rename exactly as the driver does.
    */
  val CopyRenameMarker = ".allow-copy-rename"

  /** TRANSIENT-FAULT NEMESIS (`-Dmocks3.transientFaults=true`): every
    * distinct (operation, key) pair throws ONE plain `IOException` —
    * the S3 throttling / 5xx shape — BEFORE the operation applies,
    * then succeeds on retry. Deterministic (once per pair per JVM),
    * so a faulted run still terminates and its verification is
    * reproducible. The protocol's stated contract under this nemesis
    * (`ManifestIo` bridge contract): transient reads re-poll inside
    * the lease patience window, every mutate either succeeds or fails
    * LOUDLY, lineage never corrupts, no silent lost update — and a
    * plain IOException is never treated as a lost race (only
    * FileAlreadyExists is). Faults are injected before the op applies,
    * never between apply and ack, so a faulted op is cleanly NOT
    * DONE — the indeterminate-PUT shape is out of scope here and
    * covered by the publish ambiguity-window failpoints instead.
    */
  @volatile var transientFaults: Boolean =
    sys.props.get("mocks3.transientFaults").exists(_ == "true")

  private val faulted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[llm] def maybeFault(op: String, key: String): Unit =
    if (transientFaults && faulted.add(s"$op:$key"))
      throw new IOException(
        s"mocks3: injected transient fault ($op $key) — retry")
}
