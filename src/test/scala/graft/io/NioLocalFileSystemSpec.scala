package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[NioRawLocalFileSystem]] against Hadoop's stock classes: the same
  * permissions after `create`, `mkdirs` and FileContext writes, the same
  * `getFileLinkStatus` on every kind of path, and the graft classes live
  * on the session [[graft.Session.builder]] builds. */
class NioLocalFileSystemSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val nio = raw(new NioRawLocalFileSystem)

  private def fileContext(conf: Configuration): FileContext =
    FileContext.getFileContext(root, conf)
  private lazy val stockFc = fileContext(new Configuration())
  private lazy val nioFc = fileContext {
    val c = new Configuration()
    LocalIo.install(c)
    c
  }

  /** A fresh directory per file system, so both see the same names. */
  private def dirs(): (JPath, JPath) =
    (Files.createTempDirectory("stock"), Files.createTempDirectory("nio"))

  private def mode(p: FsPermission): String = f"${p.toShort.toInt}%04o"

  /** Every field a `FileStatus` carries; its `equals` compares the path only. */
  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime, s.getPermission,
      s.getOwner, s.getGroup)

  test("create, mkdirs and FileContext writes leave the stock permissions") {
    val (a, b) = dirs()
    def viaFs(fs: FileSystem, d: JPath): Seq[String] = {
      val f = new Path(d.toUri.toString, "f")
      val sub = new Path(d.toUri.toString, "sub/deeper")
      fs.create(f).close()
      assert(fs.mkdirs(sub))
      Seq(f, sub, sub.getParent).map(p => mode(fs.getFileStatus(p).getPermission))
    }
    def viaFc(fc: FileContext, d: JPath): Seq[String] = {
      val f = new Path(d.toUri.toString, "fc-f")
      val sub = new Path(d.toUri.toString, "fc-sub/deeper")
      fc.create(f, java.util.EnumSet.of(CreateFlag.CREATE)).close()
      fc.mkdir(sub, FsPermission.getDirDefault, true)
      Seq(f, sub, sub.getParent).map(p => mode(fc.getFileStatus(p).getPermission))
    }
    val want = Seq("0644", "0755", "0755")
    assert(viaFs(stock, a) == want)
    assert(viaFs(nio, b) == want)
    assert(viaFc(stockFc, a) == want)
    assert(viaFc(nioFc, b) == want)
  }

  test("explicit setPermission 0600 and 0750 match stock; the sticky bit takes the stock path") {
    val (a, b) = dirs()
    def apply(fs: FileSystem, d: JPath): Seq[String] = {
      val f = new Path(d.toUri.toString, "f")
      val sub = new Path(d.toUri.toString, "sub")
      fs.create(f).close()
      fs.mkdirs(sub)
      Seq(("0600", f), ("0750", f), ("0600", sub), ("0750", sub), ("1755", sub)).map {
        case (m, p) =>
          fs.setPermission(p, new FsPermission(Integer.parseInt(m, 8).toShort))
          mode(fs.getFileStatus(p).getPermission)
      }
    }
    val want = Seq("0600", "0750", "0600", "0750", "1755")
    assert(apply(stock, a) == want)
    // java.nio cannot set a sticky bit, so the last one is stock chmod's
    assert(apply(nio, b) == want)
  }

  test("getFileLinkStatus matches stock on files, directories, links and missing paths") {
    val d = Files.createTempDirectory("links")
    val file = Files.writeString(d.resolve("file"), "abc")
    val dir = Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("abs-link"), file)
    Files.createSymbolicLink(d.resolve("rel-link"), JPath.of("file"))
    Files.createSymbolicLink(d.resolve("dangling"), JPath.of("nowhere"))
    // qualified paths (file:/...): stock readlink never resolves those
    val qualified = Seq(file, dir, d.resolve("abs-link")).map(p => new Path(p.toUri.toString))
    // unqualified paths, so that stock readlink really reads the link
    val plain = Seq("file", "dir", "abs-link", "rel-link", "dangling")
      .map(n => new Path(d.resolve(n).toString))
    val links = (qualified ++ plain).map { p =>
      val s = stock.getFileLinkStatus(p)
      assert(fields(nio.getFileLinkStatus(p)) == fields(s), p)
      p.getName -> s.isSymlink
    }
    assert(links.count(_._2) == 3, links) // the three links reached unqualified
    val target = nio.getFileLinkStatus(new Path(d.resolve("rel-link").toString)).getSymlink
    assert(target == stock.makeQualified(new Path(d.resolve("file").toString)))
    for (p <- qualified.take(2))
      assert(fields(nioFc.getFileLinkStatus(p)) == fields(stockFc.getFileLinkStatus(p)), p)
    val missing = new Path(d.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("the graft classes are live on a session built through Session.builder") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRawFileSystem.getClass == classOf[NioRawLocalFileSystem])
    assert(fileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(stockFc.getDefaultFileSystem.getClass == classOf[LocalFs])
  }
}
