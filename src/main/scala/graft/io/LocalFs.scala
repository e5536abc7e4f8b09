package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem with its
  * two per-file process forks replaced by `java.nio` calls.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs a
  * `chmod` process for every `setPermission` (each file create and
  * each mkdir, `.crc` files included) and a `readlink` process for
  * every `getFileLinkStatus` (every FileContext rename, so every
  * streaming checkpoint and state-store commit). A fork costs 10-15 ms
  * against ~0.1 ms for the nio call, which makes it the floor of a
  * small write or a micro-batch commit.
  *
  * Wired twice, both keeping Hadoop's `.crc` checksums:
  *  - [[NioLocalFileSystem]] for `fs.file.impl` (the FileSystem API:
  *    Spark's writers, listings, the TSV and parquet sinks);
  *  - [[NioLocalFs]] for `fs.AbstractFileSystem.file.impl` (the
  *    FileContext API: the streaming checkpoint manager).
  * [[graft.GraftSession.builder]] installs both through `spark.hadoop.*`
  * ([[sparkConf]]).
  *
  * Caveat: Hadoop's FileSystem cache keys on scheme, authority and
  * user, not on the Configuration, so a `file:` FileSystem created in
  * the JVM before the session (through `new Configuration()`) is reused
  * by the session and stays Hadoop's own, forks included.
  * AbstractFileSystem instances are not cached, so the FileContext side
  * always follows the session conf.
  */
object LocalFs {

  /** The session options that install both wrappers. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** A plain Hadoop conf with both wrappers set, for a caller with no
    * session: `new Configuration()` alone gets the service loader's
    * `file:` (Hive's forking `ProxyLocalFileSystem` on this classpath),
    * which the FileSystem cache then hands to later sessions too. */
  def hadoopConf(): Configuration = {
    val conf = new Configuration()
    sparkConf.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    conf
  }

  private val Bits: Seq[(Int, PosixFilePermission)] = {
    import PosixFilePermission._
    Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
      OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE).zipWithIndex.map { case (p, i) => (1 << (8 - i)) -> p }
  }

  private[io] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (bit, p) => if ((mode & bit) != 0) s.add(p) }
    s
  }
}

/** `RawLocalFileSystem` without the `chmod` and `readlink` forks. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The rwx bits through `Files.setPosixFilePermissions` (follows a
    * symlink, as `chmod` does). The sticky bit has no nio form and goes
    * through Hadoop's own `chmod`, as does a filesystem without POSIX
    * attributes. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission.toShort.toInt))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's unqualified link status, reading the link with
    * `Files.readSymbolicLink` where Hadoop forks `readlink`. The link is
    * looked up under the same name Hadoop hands `readlink`
    * (`f.toString`), so a scheme-qualified path resolves exactly as it
    * does there. */
  private def linkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      try {
        val fs = getFileStatus(f)
        new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize, fs.getModificationTime,
          fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup, target, f)
      } catch {
        // A dangling link (or one deleted meanwhile), as in Hadoop.
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` (the FileContext binding of the local filesystem) over
  * [[NioRawLocalFileSystem]], with `RawLocalFs`'s own overrides. */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed `LocalFs`
  * shape (a `ChecksumFs`) over [[NioRawLocalFs]]. `(URI, Configuration)`
  * is the constructor Hadoop instantiates; like `LocalFs`, it binds to
  * `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
