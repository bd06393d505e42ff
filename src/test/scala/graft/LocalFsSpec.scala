package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem (`LocalFs.scala`): installed by
  * `core-site.xml` for every `Configuration`, the same observable
  * behaviour as Hadoop's `RawLocalFileSystem`, and no forked process
  * on the create / mkdirs / rename paths lake writes and streaming
  * checkpoints take. */
class LocalFsSpec extends AnyFunSuite {
  private val root = "/tmp/graft_localfs_spec"
  private val fileUri = new URI("file:///")

  private def fresh(name: String): String = {
    val d = s"$root/$name"
    SparkSpec.rmdir(d)
    Files.createDirectories(Paths.get(d))
    d
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(fileUri, new Configuration())
    fs
  }

  private def mode(p: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p)))

  test("core-site.xml installs the fork-free classes in a fresh Configuration") {
    val conf = new Configuration()
    assert(conf.get("fs.file.impl") === classOf[NioLocalFileSystem].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") === classOf[NioLocalFs].getName)
    val fs = FileSystem.newInstance(fileUri, conf)
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    } finally fs.close()
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(SparkSpec.spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ===
      classOf[NioLocalFileSystem].getName)
  }

  test("create, mkdirs and setPermission leave Hadoop's mode bits") {
    val dir = fresh("modes")
    val (ours, hadoop) = (raw(new NioRawLocalFileSystem), raw(new RawLocalFileSystem))
    // (file mode, dir mode): a dir keeps owner rwx so mkdirs can nest
    for ((fm, dm) <- Seq("640" -> "700", "600" -> "750", "444" -> "755", "755" -> "777")) {
      def perm(m: String) = new FsPermission(Integer.parseInt(m, 8).toShort)
      val modes = Seq("ours" -> ours, "hadoop" -> hadoop).map { case (tag, fs) =>
        val f = new Path(s"$dir/$tag-$fm.bin")
        fs.create(f, perm(fm), true, 4096, 1.toShort, 32L << 20, null).close()
        val g = new Path(s"$dir/$tag-$fm.set")
        fs.create(g).close()
        fs.setPermission(g, perm(fm))
        val d = new Path(s"$dir/$tag-$dm.d/sub")
        assert(fs.mkdirs(d, perm(dm)))
        Seq(mode(f.toString), mode(g.toString), mode(d.toString), mode(d.getParent.toString))
      }
      assert(modes(0) === modes(1), s"modes $fm/$dm")
    }
    intercept[FileNotFoundException](
      ours.setPermission(new Path(s"$dir/missing"), new FsPermission("644")))
  }

  test("getFileLinkStatus agrees with Hadoop's on files, dirs, links and missing paths") {
    val dir = fresh("links")
    Files.write(Paths.get(s"$dir/file"), "x".getBytes)
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    val (ours, hadoop) = (raw(new NioRawLocalFileSystem), raw(new RawLocalFileSystem))
    def view(s: FileStatus): Seq[Any] =
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime) ++
        (if (s.isSymlink) Seq(s.getSymlink) else Nil)
    // Hadoop's `readlink` sees a link only on a scheme-less path
    for (name <- Seq("file", "dir", "link", "dangling")) {
      val p = new Path(s"$dir/$name")
      assert(view(ours.getFileLinkStatus(p)) === view(hadoop.getFileLinkStatus(p)), name)
    }
    assert(ours.getFileLinkStatus(new Path(s"$dir/link")).getSymlink ===
      new Path(s"file:$dir/file"))
    assert(ours.getLinkTarget(new Path(s"$dir/link")) === hadoop.getLinkTarget(new Path(s"$dir/link")))
    for (fs <- Seq(ours, hadoop))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/missing")))

    // through FileContext (qualified paths): a link is a link, its
    // target qualified; a plain file is not
    val fc = FileContext.getFileContext(new Configuration())
    val link = fc.getFileLinkStatus(new Path(s"file:$dir/link"))
    assert(link.isSymlink && link.getSymlink === new Path(s"file:$dir/file"))
    assert(!fc.getFileLinkStatus(new Path(s"file:$dir/file")).isSymlink)
    intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"file:$dir/missing")))
  }

  /** Process starts this thread made while `body` ran, from a JFR
    * recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(out)
      val me = Thread.currentThread().getId
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.count(e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getThread).exists(_.getJavaThreadId == me))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("create, mkdirs and rename start no process (JFR jdk.ProcessStart)") {
    val dir = fresh("forks")
    val conf = new Configuration()
    val fs = FileSystem.newInstance(fileUri, conf)
    val fc = FileContext.getFileContext(conf)
    def ops(tag: String): Unit = {
      val d = new Path(s"file:$dir/$tag/a/b")
      assert(fs.mkdirs(d))
      val f = new Path(d, "part.parquet")
      val out = fs.create(f)
      out.write(Array.fill[Byte](100)(1))
      out.close()
      assert(fs.rename(f, new Path(d, "moved.parquet")))
      // the checkpoint log's commit: write a temp file, move it into place
      val log = new Path(s"file:$dir/$tag/offsets")
      fc.mkdir(log, FsPermission.getDirDefault, true)
      for (i <- 0 until 3) {
        val tmp = new Path(log, s".$i.tmp")
        val o = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        o.write(s"v$i".getBytes)
        o.close()
        fc.rename(tmp, new Path(log, "0"), Options.Rename.OVERWRITE)
      }
      assert(new String(Files.readAllBytes(Paths.get(s"$dir/$tag/offsets/0"))) === "v2")
    }
    try {
      ops("warm") // class loading and one-time static set-up
      assert(processStarts(ops("timed")) === 0)
      // the recorder does see Hadoop's own forks, so zero is no blind spot
      if (!NativeCodeLoader.isNativeCodeLoaded) {
        val stock = raw(new RawLocalFileSystem)
        assert(processStarts(stock.mkdirs(new Path(s"$dir/stock"), new FsPermission("700"))) > 0)
      }
    } finally fs.close()
  }
}
