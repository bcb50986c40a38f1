package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without child processes.
  *
  * Without `libhadoop` on `java.library.path`, the stock class runs
  * `chmod` through `Shell.execCommand` on every `setPermission` — which
  * every `create` and every `mkdirs` calls — and `readlink` on every
  * `getFileLinkStatus`, which FileContext's `rename` calls on both ends.
  * A Structured Streaming micro-batch writes its offset, commit and
  * source logs through FileContext and its sink output through
  * FileSystem, so a `trend_stream` batch started about 38 processes.
  * These two overrides do the same work with `java.nio`:
  *
  *  - `setPermission` calls `Files.setPosixFilePermissions` on the path
  *    the stock `chmod` is given (the canonical one, so a link's target
  *    changes). A sticky bit, which `java.nio` cannot set, and a file
  *    system without POSIX attributes take the stock path.
  *  - `getFileLinkStatus` is the stock no-native path
  *    (`deprecatedGetFileLinkStatusInternal` plus the qualification in
  *    `getFileLinkStatus`) with `FileUtil.readLink` — `readlink` on
  *    `new File(f.toString)`, trimmed, "" on any failure — replaced by
  *    `Files.readSymbolicLink` on that same file. For a qualified
  *    `file:` path that file is a relative `file:/...` name, which the
  *    stock fork never resolves either, so such a path always reads as
  *    "not a link".
  *
  * Everything else, permission loading (`ls -ld`) included, is the
  * stock code. [[NioLocalFileSystem]] and [[NioLocalFs]] wrap it for
  * FileSystem and FileContext; [[LocalIo]] installs both. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).getCanonicalFile.toPath
      try Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    val status =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link: File.exists follows it and reports missing
        case e: FileNotFoundException =>
          if (target.isEmpty) throw e
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath,
        status.getSymlink))
    status
  }
}

object NioRawLocalFileSystem {

  /** The nine `rwx` bits of `p` as a `java.nio` set. `PosixFilePermission`
    * declares them in mode order, owner read (0400) first. The bits come
    * from `toShort`, not from the `rwx` text: FileContext passes an
    * `FsCreateModes`, whose `toString` is not that text. */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = p.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b))
    set
  }

  /** What `FileUtil.readLink` returns, without running `readlink`. */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
}

/** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]: the
  * `fs.file.impl` that FileSystem users — sink commits, parquet
  * writers — get. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `LocalFs` over [[NioRawLocalFileSystem]]: the
  * `fs.AbstractFileSystem.file.impl` that FileContext users — the
  * streaming checkpoint logs — get. `LocalFs` is `ChecksumFs` over
  * `RawLocalFs`, whose four overrides are repeated here because its
  * constructors are package-private and hard-wire the stock raw file
  * system. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  private final class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
        conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    // like RawLocalFileSystem: the OS validates local names
    override def isValidName(src: String): Boolean = true
  }
}

/** The one definition of the fork-free local file system install.
  *
  * [[graft.Session.builder]] passes [[hadoopConf]] as `spark.hadoop.*`,
  * so every graft main and the test session start with it, and
  * executors of a real cluster get it too.
  * [[graft.functions.GraftExtensions.register]] also sets it on a live
  * session's `hadoopConfiguration` through [[install]], for sessions
  * built elsewhere; that route reaches the driver's JVM only.
  *
  * Caveat: Hadoop caches `FileSystem` instances by scheme and authority,
  * not by configuration. If this JVM cached a `file:` FileSystem before
  * the install — today that is Hive's `ProxyLocalFileSystem`, which
  * hive-exec registers through ServiceLoader and which wraps the stock
  * raw file system — `FileSystem.get` keeps returning it, and sink
  * commits still fork. FileContext creates a new file system per call,
  * so the checkpoint-log half always takes effect. */
object LocalIo {
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  def install(conf: Configuration): Unit =
    hadoopConf.foreach { case (k, v) => conf.set(k, v) }
}
