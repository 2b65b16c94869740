package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem}

/** The fork-free local file system against Hadoop's stock one, on temp
  * trees: same permissions, same link statuses, same rename, and
  * the `.crc` integrity check kept on both Hadoop APIs. */
class LocalFsSpec extends SparkSpec {

  private val root = new URI("file:///")

  private def tmp(): File = Files.createTempDirectory("localfs").toFile

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def raw(fs: RawLocalFileSystem, c: Configuration): RawLocalFileSystem = {
    fs.initialize(root, c)
    fs
  }

  /** The stock and the fork-free raw file system over one configuration. */
  private def raws(c: Configuration): Seq[(String, RawLocalFileSystem)] =
    Seq("stock" -> raw(new RawLocalFileSystem, c),
      "forkfree" -> raw(new ForkFreeRawLocalFileSystem, c))

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fields(s: FileStatus): Seq[Any] = Seq(s.getPath, s.getLen,
    s.isFile, s.isDirectory, s.isSymlink,
    if (s.isSymlink) s.getSymlink else null, s.getReplication,
    s.getBlockSize, s.getModificationTime, s.getAccessTime,
    s.getPermission, s.getOwner, s.getGroup)

  private def stockFc(c: Configuration): FileContext = {
    val fc = FileContext.getLocalFSFileContext(c)
    assert(fc.getDefaultFileSystem.getClass == classOf[LocalFs])
    fc
  }

  private def forkFreeFc(c: Configuration): FileContext =
    FileContext.getFileContext(new ForkFreeLocalFs(root, c), c)

  private def write(fc: FileContext, p: Path, body: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  private def flipFirstByte(f: File): Unit = {
    val raf = new RandomAccessFile(f, "rw")
    try {
      val b = raf.read()
      raf.seek(0)
      raf.write(b ^ 0x01)
    } finally raf.close()
  }

  test("create and mkdirs set the stock permissions under umask 022 and 077") {
    val dir = tmp()
    val want = Map("022" -> (oct("644"), oct("755")), "077" -> (oct("600"), oct("700")))
    for ((umask, (fileMode, dirMode)) <- want; (label, fs) <- raws(conf(umask))) {
      val f = new Path(dir.getPath, s"$umask-$label-file")
      fs.create(f).close()
      val d = new Path(dir.getPath, s"$umask-$label-dir/a/b")
      assert(fs.mkdirs(d))
      withClue(s"umask $umask, $label: ") {
        assert(mode(new File(f.toString)) == fileMode)
        Seq("", "/a", "/a/b").foreach { sub =>
          assert(mode(new File(s"$dir/$umask-$label-dir$sub")) == dirMode, sub)
        }
      }
    }
  }

  test("setPermission with a bit java.nio cannot express matches stock chmod") {
    val dir = tmp()
    val sticky = new FsPermission(oct("1777").toShort)
    val modes = raws(conf()).map { case (label, fs) =>
      val d = new File(dir, label)
      assert(d.mkdir())
      fs.setPermission(new Path(d.getPath), sticky)
      mode(d)
    }
    assert(modes == Seq(oct("1777"), oct("1777")))
  }

  test("getFileLinkStatus matches stock field by field, symlinks included") {
    val dir = tmp()
    val file = new File(dir, "file")
    Files.write(file.toPath, "body".getBytes(UTF_8))
    val sub = new File(dir, "dir")
    assert(sub.mkdir())
    Files.createSymbolicLink(Paths.get(dir.getPath, "link"), file.toPath)
    Files.createSymbolicLink(Paths.get(dir.getPath, "dangling"),
      Paths.get(dir.getPath, "gone"))
    val Seq((_, stock), (_, forkFree)) = raws(conf())
    def outcome(fs: RawLocalFileSystem, p: Path): Either[String, FileStatus] =
      try Right(fs.getFileLinkStatus(p))
      catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    val got = (for {
      name <- Seq("file", "dir", "link", "dangling", "missing")
      p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))
    } yield {
      val o = outcome(stock, p)
      assert(outcome(forkFree, p).map(fields) == o.map(fields), p)
      p.toString -> o
    }).toMap
    def isLink(p: String) = got(s"$dir/$p").exists(_.isSymlink)
    assert(isLink("link") && isLink("dangling"))
    assert(!isLink("file") && !isLink("dir"))
    assert(got(s"$dir/missing").isLeft)
  }

  test("FileContext rename with OVERWRITE replaces a file and its .crc as stock does") {
    val c = conf()
    val outcomes = Seq("stock" -> stockFc(c), "forkfree" -> forkFreeFc(c)).map {
      case (label, fc) =>
        val dir = new File(tmp(), label)
        val src = new Path(s"$dir/src")
        val dst = new Path(s"$dir/dst")
        write(fc, dst, "old")
        write(fc, src, "new")
        fc.rename(src, dst, Options.Rename.OVERWRITE)
        val body = new String(Files.readAllBytes(Paths.get(s"$dir/dst")), UTF_8)
        (dir.list().toSeq.sorted, body)
    }
    assert(outcomes.head == ((Seq(".dst.crc", "dst"), "new")))
    assert(outcomes(1) == outcomes.head)
  }

  test("a flipped data byte fails the read with ChecksumException on both APIs") {
    val c = conf()
    val body = "checkpoint bytes " * 64
    // FileContext API, stock LocalFs as the control. The read names a
    // buffer size: Hadoop's FilterFs.open(Path) goes straight to the raw
    // fs, so only ChecksumFs.open(Path, Int) checks the .crc.
    Seq(stockFc(c), forkFreeFc(c)).foreach { fc =>
      val dir = tmp()
      val p = new Path(s"$dir/data")
      write(fc, p, body)
      assert(new File(dir, ".data.crc").isFile)
      assert(new String(fc.open(p, 4096).readAllBytes(), UTF_8) == body)
      flipFirstByte(new File(dir, "data"))
      intercept[ChecksumException](fc.open(p, 4096).readAllBytes())
    }
    // FileSystem API
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(root, c)
    val dir = tmp()
    val p = new Path(s"$dir/data")
    val out = fs.create(p)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    assert(new File(dir, ".data.crc").isFile)
    flipFirstByte(new File(dir, "data"))
    intercept[ChecksumException](fs.open(p).readAllBytes())
  }

  test("a GraftSession resolves both local Hadoop APIs to the fork-free classes") {
    Seq(spark.sparkContext.hadoopConfiguration,
      spark.sessionState.newHadoopConf()).foreach { hc =>
      assert(FileSystem.get(root, hc).isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileSystem.getLocal(hc).isInstanceOf[ForkFreeLocalFileSystem])
      val afs: AbstractFileSystem =
        FileContext.getLocalFSFileContext(hc).getDefaultFileSystem
      assert(afs.isInstanceOf[ForkFreeLocalFs])
    }
  }
}
