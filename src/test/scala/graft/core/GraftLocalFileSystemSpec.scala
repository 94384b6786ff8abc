package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The session's local filesystem behaves like Hadoop's stock one: same
  * posix bits after a create or mkdir with a requested permission (umask
  * applied), sticky bit included, and the same link status for a file, a
  * dir, a symlink and a missing path, through `FileSystem` and
  * `FileContext` alike.
  */
class GraftLocalFileSystemSpec extends SparkSpec {

  private def conf(umask: String, graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (graft) GraftSession.LocalFsConf.foreach { case (k, v) =>
      c.set(k.stripPrefix("spark.hadoop."), v)
    }
    c
  }

  /** Uncached instances, so the spec never seeds Hadoop's per-scheme
    * `FileSystem` cache with the stock class. */
  private def fileSystem(c: Configuration, graft: Boolean): FileSystem = {
    val fs = if (graft) new GraftLocalFileSystem else new LocalFileSystem
    fs.initialize(new URI("file:///"), c)
    fs
  }

  /** Full mode bits, sticky bit included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(_ != r)
      .map(p => r.relativize(p).toString -> mode(p.toString)).toMap
    finally s.close()
  }

  /** Every create and mkdir the spec checks, under `root`. */
  private def writeTree(root: String, umask: String, graft: Boolean): Unit = {
    val c = conf(umask, graft)
    val fs = fileSystem(c, graft)
    val fc = FileContext.getFileContext(c)
    val perms = Seq("755", "640", "777", "600", "1777")
    perms.foreach { oct =>
      val perm = new FsPermission(Integer.parseInt(oct, 8).toShort)
      fs.mkdirs(new Path(s"$root/fs_dir_$oct"), perm): Unit
      fs.create(new Path(s"$root/fs_file_$oct"), perm, true, 4096,
        1.toShort, 1L << 20, null).close()
      fc.mkdir(new Path(s"file://$root/fc_dir_$oct"), perm, true)
      fc.create(new Path(s"file://$root/fc_file_$oct"),
        java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm)).close()
    }
    // the permission-less calls apply the conf's umask to the defaults
    fs.mkdirs(new Path(s"$root/fs_dir_default")): Unit
    fs.create(new Path(s"$root/fs_file_default")).close()
    // create and mkdir drop the sticky bit with the umask; an explicit
    // setPermission keeps it
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    fs.setPermission(new Path(s"$root/fs_dir_755"), sticky)
    fc.setPermission(new Path(s"file://$root/fc_dir_755"), sticky)
    fs.close()
  }

  test("creates and mkdirs with a requested permission, sticky bit " +
      "included, leave the same posix bits as the stock filesystem") {
    for (umask <- Seq("022", "077")) {
      val stock = Files.createTempDirectory("stockfs").toString
      val graft = Files.createTempDirectory("graftfs").toString
      writeTree(stock, umask, graft = false)
      writeTree(graft, umask, graft = true)
      val (s, g) = (modes(stock), modes(graft))
      assert(g.keySet === s.keySet)
      // checksum files come along, and the requested bits are not trivial
      assert(s.keySet.exists(_.endsWith(".crc")))
      assert(s.values.toSet.size > 2, s)
      assert(g === s, s"umask $umask")
      assert((g("fs_dir_755") & 0x3ff) == 0x3ff, "sticky 1777 not set")
      assert((g("fc_dir_755") & 0x3ff) == 0x3ff, "sticky 1777 not set")
    }
  }

  /** What a link status says, apart from the lazily forked owner bits. */
  private def describe(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else None, st.getLen,
      st.getModificationTime)

  /** The link status of `p` through `FileSystem` (qualified and bare
    * path: the stock `readlink` is handed the whole path string, so only
    * a bare path finds a symlink) and through `FileContext`. */
  private def linkStatuses(p: String, graft: Boolean)
      : Seq[Either[String, Seq[Any]]] = {
    val c = conf("022", graft)
    val fs = fileSystem(c, graft)
    val fc = FileContext.getFileContext(c)
    def one(f: => FileStatus): Either[String, Seq[Any]] =
      try Right(describe(f))
      catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    try Seq(one(fs.getFileLinkStatus(new Path(s"file://$p"))),
      one(fs.getFileLinkStatus(new Path(p))),
      one(fc.getFileLinkStatus(new Path(s"file://$p"))))
    finally fs.close()
  }

  test("getFileLinkStatus equals the stock answer on a file, a dir, a " +
      "symlink, a dangling symlink and a missing path") {
    val d = Files.createTempDirectory("linkfs")
    val file = Files.writeString(d.resolve("f"), "x")
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dirLink = Files.createSymbolicLink(d.resolve("dirlink"), dir)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"),
      d.resolve("gone"))
    for (p <- Seq(file, dir, link, dirLink, dangling)) {
      val stock = linkStatuses(p.toString, graft = false)
      assert(stock(1).isRight, p)
      assert(linkStatuses(p.toString, graft = true) === stock, p)
    }
    val Right(bare) = linkStatuses(link.toString, graft = true)(1): @unchecked
    assert(bare(3) == true, "a bare symlink path must still read as a link")
    val missing = d.resolve("missing").toString
    val notFound = Left(classOf[FileNotFoundException].getName)
    assert(linkStatuses(missing, graft = false) === Seq.fill(3)(notFound))
    assert(linkStatuses(missing, graft = true) === Seq.fill(3)(notFound))
  }

  test("the session's file: filesystem is graft's, for FileSystem.get " +
      "and FileContext") {
    val hc = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(new URI("file:///"), hc).getClass ===
      classOf[GraftLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"), new Configuration()).getClass
      === classOf[GraftLocalFileSystem],
      "Hadoop caches one FileSystem per scheme and user, whatever the conf")
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.getClass ===
      classOf[GraftLocalFs])
  }
}
