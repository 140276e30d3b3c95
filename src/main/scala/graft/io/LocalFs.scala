package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its two per-call forks.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs `chmod` for
  * every create or mkdir that carries a permission and `readlink` for
  * every `getFileLinkStatus` (each `FileContext.rename` makes several).
  * A checkpointed micro-batch makes about a hundred such calls: offset and
  * commit logs, state-store deltas, the parquet committer. Both are done
  * here through `java.nio.file` in-process; what the shell would see as
  * special (sticky bit, symlinks, non-POSIX stores) still goes to Hadoop.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` with Hadoop's four-digit octal mode. The shell keeps a
    * directory's setuid/setgid bits (a directory inherits setgid from its
    * parent), which the NIO call would clear, so such a directory, and any
    * mode beyond `rwx`, still goes to Hadoop.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    def setId = Files.isDirectory(path) &&
      (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SetIdBits) != 0
    try {
      if ((mode & ~RwxBits) != 0 || setId) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(path, posix(mode))
    } catch {
      case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** What Hadoop returns when `readlink` prints nothing: the plain status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val RwxBits = 0x1ff    // 0777
  private val SetIdBits = 0xc00  // 06000: setuid, setgid

  /** `PosixFilePermission` declares owner/group/others × read/write/execute
    * in mode-bit order, from 0400 down to 0001.
    */
  private val Bits = PosixFilePermission.values.toIndexedSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    Bits.indices.filter(i => (mode & (0x100 >> i)) != 0).map(Bits).toSet.asJava
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the NIO raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `FileContext` raw local filesystem) over the
  * NIO raw one, with the same three overrides.
  */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`, so
  * `.crc` sidecars and the checkpoint layout are unchanged) over
  * [[NioRawLocalFs]]. Hadoop instantiates it through this constructor.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

object LocalFs {

  private val CoreDefault = "core-default.xml"

  /** Route the session's `file:` I/O through the NIO filesystems.
    *
    * The keys go into the session conf, which `SessionState.newHadoopConf()`
    * copies into every checkpoint manager, state-store broadcast and file
    * writer. `FileContext` does not cache; the `FileSystem` cache may already
    * hold a default `file:` instance, so that path also disables the cache
    * for `file:`, for the rest of the session: every later `file:` lookup
    * builds a new instance (a few microseconds; a local filesystem instance
    * holds no resources) and other schemes keep their cache. A key the
    * user set, in the session conf or in the Hadoop conf, is left alone, and
    * so is every other scheme. Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    def userSet(key: String): Boolean =
      spark.conf.getOption(key).isDefined || hadoop.get(key) != null &&
        Option(hadoop.getPropertySources(key)).exists(_.exists(_ != CoreDefault))
    def setUnlessUserSet(key: String, value: String): Boolean =
      !userSet(key) && { spark.conf.set(key, value); true }

    setUnlessUserSet("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    if (setUnlessUserSet("fs.file.impl", classOf[NioLocalFileSystem].getName))
      setUnlessUserSet("fs.file.impl.disable.cache", "true")
  }
}
