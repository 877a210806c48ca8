package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The java.nio `file://` filesystem must leave on disk exactly what Hadoop's
  * stock local filesystem leaves — same files, `.crc` sidecars and
  * permission bits — on both the FileSystem and the FileContext API, and
  * keep the stock symlink and sticky-bit behaviour. */
class NioLocalFileSystemSpec extends SparkSpec {

  private val LocalUri = new URI("file:///")

  private def fresh(fs: FileSystem): FileSystem = { fs.initialize(LocalUri, new Configuration()); fs }
  private def stockFs: FileSystem = fresh(new LocalFileSystem())
  private def nioFs: FileSystem = fresh(new NioLocalFileSystem())

  private def fileContext(impl: Option[String]): FileContext = {
    val conf = new Configuration()
    impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
    FileContext.getFileContext(AbstractFileSystem.get(LocalUri, conf), conf)
  }

  /** Every entry under `root`: relative path, kind, POSIX mode, bytes. */
  private def tree(root: JPath): Map[String, (Boolean, String, Seq[Byte])] =
    Files.walk(root).iterator.asScala.filterNot(_ == root).map { p =>
      val dir = Files.isDirectory(p)
      root.relativize(p).toString -> ((dir,
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
        if (dir) Seq.empty[Byte] else Files.readAllBytes(p).toSeq))
    }.toMap

  private def write(fs: FileSystem, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** create, mkdirs and rename (onto an existing file too) through the
    * FileSystem API, under the default umask. */
  private def fileSystemOps(fs: FileSystem, root: JPath): Unit = {
    val r = new Path(root.toUri)
    assert(fs.mkdirs(new Path(r, "a/b")))
    assert(fs.mkdirs(new Path(r, "c"), new FsPermission("700")))
    write(fs, new Path(r, "a/b/f1"), "first", overwrite = false)
    write(fs, new Path(r, "a/f2"), "second", overwrite = false)
    write(fs, new Path(r, "a/f2"), "second, rewritten", overwrite = true)
    assert(fs.rename(new Path(r, "a/b/f1"), new Path(r, "a/f3")))
    write(fs, new Path(r, "a/f4"), "fourth", overwrite = false)
    assert(fs.rename(new Path(r, "a/f4"), new Path(r, "a/f2")))
    assert(fs.rename(new Path(r, "a/b"), new Path(r, "c/b")))
  }

  /** The streaming checkpoint pattern: write a temp file through
    * FileContext, then rename it over the target with OVERWRITE. */
  private def fileContextOps(fc: FileContext, root: JPath): Unit = {
    val r = new Path(root.toUri)
    fc.mkdir(new Path(r, "offsets"), FsPermission.getDirDefault, true)
    def put(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    Seq("0" -> "v1 batch 0", "1" -> "v1 batch 1", "1" -> "v1 batch 1 again").foreach {
      case (name, body) =>
        val tmp = new Path(r, s"offsets/.$name.tmp")
        put(tmp, body)
        fc.rename(tmp, new Path(r, s"offsets/$name"), Options.Rename.OVERWRITE)
    }
  }

  private def sameTree(ops: JPath => Unit, nio: JPath => Unit): Unit = {
    val (a, b) = (Files.createTempDirectory("fs-stock"), Files.createTempDirectory("fs-nio"))
    ops(a); nio(b)
    val (ta, tb) = (tree(a), tree(b))
    assert(ta.keySet == tb.keySet, s"stock ${ta.keySet.toSeq.sorted} vs nio ${tb.keySet.toSeq.sorted}")
    ta.foreach { case (k, v) => assert(tb(k) == v, s"$k: stock $v vs nio ${tb(k)}") }
    assert(ta.keySet.exists(_.endsWith(".crc")), s"checksum sidecars expected: ${ta.keySet}")
  }

  test("FileSystem API: create, mkdirs and rename leave the stock files, crc and permissions") {
    sameTree(fileSystemOps(stockFs, _), fileSystemOps(nioFs, _))
    val root = Files.createTempDirectory("fs-nio")
    fileSystemOps(nioFs, root)
    val t = tree(root)
    assert(t("a/f2") == ((false, "rw-r--r--", "fourth".getBytes(UTF_8).toSeq)))
    assert(t("a/.f2.crc")._2 == "rw-r--r--")
    assert(t("c")._2 == "rwx------")
    assert(!t.contains("a/f4") && !t.contains("a/.f4.crc") && t.contains("c/b"))
  }

  test("FileContext API: create and rename-with-overwrite match the stock LocalFs") {
    sameTree(fileContextOps(fileContext(None), _),
      fileContextOps(fileContext(Some(classOf[NioLocalFs].getName)), _))
    assert(fileContext(Some(classOf[NioLocalFs].getName)).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("getFileLinkStatus: symlinks keep the stock answer, a missing path still throws") {
    val dir = Files.createTempDirectory("fs-link")
    val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val (stock, nio) = (stockFs, nioFs)
    def status(fs: FileSystem, p: JPath) = fs.getFileLinkStatus(new Path(p.toString))

    val s = status(nio, link)
    assert(s.isSymlink && s.getSymlink == status(stock, link).getSymlink)
    assert(s.getSymlink.toUri.getPath == target.toString)
    val d = status(nio, dangling)
    assert(d.isSymlink && d.getSymlink == status(stock, dangling).getSymlink)
    val f = status(nio, target)
    assert(!f.isSymlink && f.isFile && f.getLen == 1L)
    intercept[FileNotFoundException](status(stock, dir.resolve("gone")))
    intercept[FileNotFoundException](status(nio, dir.resolve("gone")))
  }

  test("setPermission: rwx bits through java.nio, the sticky bit through Hadoop's path") {
    val raw = new NioRawLocalFileSystem
    raw.initialize(LocalUri, new Configuration())
    val dir = Files.createTempDirectory("fs-perm")
    val p = new Path(dir.toString)
    raw.setPermission(p, new FsPermission("751"))
    assert(Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] % 0x1000 == Integer.parseInt("751", 8))
    // java.nio cannot set the sticky bit: seeing it set proves the fallback
    raw.setPermission(p, new FsPermission("1777"))
    assert(Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] % 0x1000 == Integer.parseInt("1777", 8))
    intercept[FileNotFoundException](
      raw.setPermission(new Path(dir.resolve("gone").toString), new FsPermission("644")))
    intercept[IOException](
      stockFs.setPermission(new Path(dir.resolve("gone").toString), new FsPermission("644")))
  }

  test("GraftSession.builder sessions resolve file:// on both Hadoop APIs to the nio classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(LocalUri, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(new Path(Paths.get("x").toAbsolutePath.toUri).getFileSystem(conf)
      .isInstanceOf[NioLocalFileSystem])
    // other schemes keep their own implementations
    assert(conf.get("fs.AbstractFileSystem.hdfs.impl") == "org.apache.hadoop.fs.Hdfs")
    assert(conf.get("fs.hdfs.impl") == null)
  }
}
