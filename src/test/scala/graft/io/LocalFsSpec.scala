package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkSpec

/** The NIO local filesystems against Hadoop's defaults: same permission
  * bits, same link statuses, same rename, on both the `FileSystem` and the
  * `FileContext` side; and `install`'s handling of the session conf.
  */
class LocalFsSpec extends SparkSpec {

  private val Root = URI.create("file:///")
  private val AfsKey = "fs.AbstractFileSystem.file.impl"
  private val FsKey = "fs.file.impl"

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = { fs.initialize(Root, c); fs }

  /** Hadoop's `FileSystem` and the NIO one, checksummed. */
  private def fileSystems(c: Configuration): Seq[FileSystem] =
    Seq(init(new LocalFileSystem, c), init(new NioLocalFileSystem, c))

  /** Hadoop's `FileContext` and the NIO one, both `ChecksumFs`. */
  private def fileContexts(c: Configuration): Seq[FileContext] =
    Seq("org.apache.hadoop.fs.local.LocalFs", classOf[NioLocalFs].getName).map { impl =>
      val cc = new Configuration(c)
      cc.set(AfsKey, impl)
      FileContext.getFileContext(Root, cc)
    }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Every entry under `dir`, `.crc` sidecars included, with its mode bits. */
  private def modes(dir: JPath): Map[String, Int] =
    scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator.asScala.filter(_ != dir).map(p => dir.relativize(p).toString -> mode(p)).toMap
    }

  private def perm(m: Int) = new FsPermission(m.toShort)

  private def dir(prefix: String): JPath = Files.createTempDirectory(prefix)

  test("create and mkdirs leave the same permission bits as Hadoop's under the umask") {
    for (umask <- Seq("022", "027", "077")) {
      val c = conf(umask)
      val viaFs = fileSystems(c).map { fs =>
        val d = dir("perm_fs")
        fs.create(new Path(d.toUri.toString, "f"), perm(0x1ed), true, 4096, 1.toShort,
          1L << 20, null).close()
        fs.create(new Path(d.toUri.toString, "plain")).close()
        fs.mkdirs(new Path(d.toUri.toString, "a/b"), perm(0x1ff))
        fs.mkdirs(new Path(d.toUri.toString, "c"))
        modes(d)
      }
      val viaFc = fileContexts(c).map { fc =>
        val d = dir("perm_fc")
        fc.create(new Path(d.toUri.toString, "f"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm(0x1ed))).close()
        fc.mkdir(new Path(d.toUri.toString, "a/b"), perm(0x1ff), true)
        modes(d)
      }
      assert(viaFs(1) === viaFs(0), s"umask $umask")
      assert(viaFc(1) === viaFc(0), s"umask $umask")
      val u = Integer.parseInt(umask, 8)
      assert(viaFs(1)("f") === (0x1ed & ~u))
      assert(viaFs(1)("a/b") === (0x1ff & ~u))
      assert(viaFc(1)("f") === (0x1ed & ~u))
      assert(viaFs(1).keySet.contains(".f.crc") && viaFc(1).keySet.contains(".f.crc"))
    }
  }

  test("getFileLinkStatus matches Hadoop's for files, directories, missing paths and symlinks") {
    val d = dir("links")
    val file = Files.writeString(d.resolve("file"), "payload")
    val sub = Files.createDirectory(d.resolve("sub"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    // Hadoop runs `readlink` on the path's string form, so it sees a link
    // only through a scheme-less path; both forms must agree
    def forms(x: JPath) = Seq(new Path(x.toUri.toString), new Path(x.toString))
    /** The status's identity, or the exception's class. */
    def outcome(status: => FileStatus) = Try(status).toEither.map { s =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
       if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime)
    }.left.map(_.getClass)

    val raws = Seq(new RawLocalFileSystem, new NioRawLocalFileSystem).map(init(_, conf("022")))
    val fcs = fileContexts(conf("022"))
    val missing = d.resolve("missing")
    for (x <- Seq(file, sub, link, dangling, missing); f <- forms(x)) {
      val Seq(hadoop, nio) = raws.map(fs => outcome(fs.getFileLinkStatus(f)))
      assert(nio === hadoop, f.toString)
      val Seq(hadoopFc, nioFc) = fcs.map(fc => outcome(fc.getFileLinkStatus(f)))
      assert(nioFc === hadoopFc, f.toString)
    }
    val nio = raws(1)
    def plain(x: JPath) = new Path(x.toString)
    assert(nio.getFileLinkStatus(plain(file)).isFile)
    assert(nio.getFileLinkStatus(plain(sub)).isDirectory)
    assert(nio.getFileLinkStatus(plain(link)).isSymlink)
    assert(nio.getFileLinkStatus(plain(dangling)).isSymlink)
    assert(outcome(nio.getFileLinkStatus(plain(missing))) === Left(classOf[FileNotFoundException]))
  }

  test("sticky and setgid modes fall back to Hadoop's chmod") {
    val Seq(hadoop, nio) =
      Seq(new RawLocalFileSystem, new NioRawLocalFileSystem).map(init(_, conf("022")))
    val results = Seq(hadoop, nio).map { fs =>
      val d = dir("sticky")
      val sticky = new Path(d.toUri.toString, "sticky")
      fs.mkdirs(sticky)
      fs.setPermission(sticky, perm(0x3ff))
      val setgid = d.resolve("setgid")
      Files.createDirectory(setgid)
      Files.setAttribute(setgid, "unix:mode", Integer.valueOf(0x5ed))
      // a child of a setgid directory inherits the bit; chmod 0750 keeps it
      val child = new Path(setgid.toUri.toString, "child")
      fs.mkdirs(child)
      fs.setPermission(child, perm(0x1e8))
      (mode(d.resolve("sticky")), mode(setgid.resolve("child")))
    }
    assert(results(1) === results(0))
    assert(results(1) === ((0x3ff, 0x5e8)))
  }

  test("FileContext.rename(OVERWRITE) moves data and .crc like Hadoop's LocalFs") {
    val outcomes = fileContexts(conf("022")).map { fc =>
      val d = dir("rename")
      def write(name: String, body: String): Unit = {
        val out = fc.create(new Path(d.toUri.toString, name),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      write("src", "new contents")
      write("dst", "old")
      fc.rename(new Path(d.toUri.toString, "src"), new Path(d.toUri.toString, "dst"),
        Options.Rename.OVERWRITE)
      val in = fc.open(new Path(d.toUri.toString, "dst"))
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (body, modes(d), Files.readAllBytes(d.resolve(".dst.crc")).toSeq)
    }
    assert(outcomes(1) === outcomes(0))
    assert(outcomes(1)._1 === "new contents")
    assert(outcomes(1)._2.keySet === Set("dst", ".dst.crc"))
  }

  test("install routes a session's file: I/O through the NIO filesystems, idempotently") {
    val s = spark.newSession()
    val before = s.conf.getAll
    LocalFs.install(s)
    val once = s.conf.getAll
    LocalFs.install(s)
    assert(s.conf.getAll === once)
    assert(once.keySet -- before.keySet ===
      Set(AfsKey, FsKey, "fs.file.impl.disable.cache"))
    val hc = s.sessionState.newHadoopConf()
    // a default file: FileSystem cached earlier in this JVM does not get in the way
    FileSystem.get(Root, new Configuration())
    val d = dir("installed")
    assert(new Path(d.toUri.toString).getFileSystem(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(Root, hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // every other key, other schemes' included, is what a fresh session has
    def entries(c: Configuration) = c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val fresh = entries(spark.newSession().sessionState.newHadoopConf())
    assert(entries(hc).filter { case (k, v) => !fresh.get(k).contains(v) }.keySet ===
      Set(AfsKey, FsKey, "fs.file.impl.disable.cache"))
  }

  test("install leaves an explicitly set fs.file.impl alone") {
    val s = spark.newSession()
    s.conf.set(FsKey, classOf[LocalFileSystem].getName)
    LocalFs.install(s)
    assert(s.conf.get(FsKey) === classOf[LocalFileSystem].getName)
    assert(s.conf.getOption("fs.file.impl.disable.cache").isEmpty)
    assert(s.conf.get(AfsKey) === classOf[NioLocalFs].getName)
  }

  test("install leaves an explicitly set fs.AbstractFileSystem.file.impl alone") {
    val s = spark.newSession()
    s.conf.set(AfsKey, "org.apache.hadoop.fs.local.LocalFs")
    LocalFs.install(s)
    assert(s.conf.get(AfsKey) === "org.apache.hadoop.fs.local.LocalFs")
    assert(s.conf.get(FsKey) === classOf[NioLocalFileSystem].getName)
  }

  test("install leaves keys set in the SparkContext's Hadoop conf alone") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val saved = Seq(AfsKey, FsKey).map { k =>
      (k, Option(hadoop.get(k)), Option(hadoop.getPropertySources(k)).flatMap(_.headOption))
    }
    hadoop.set(FsKey, classOf[LocalFileSystem].getName)
    hadoop.set(AfsKey, "org.apache.hadoop.fs.local.LocalFs")
    try {
      val s = spark.newSession()
      LocalFs.install(s)
      assert(Seq(AfsKey, FsKey, "fs.file.impl.disable.cache").forall(s.conf.getOption(_).isEmpty))
    } finally saved.foreach {
      case (k, Some(v), source) => hadoop.set(k, v, source.orNull)
      case (k, None, _)         => hadoop.unset(k)
    }
  }
}
