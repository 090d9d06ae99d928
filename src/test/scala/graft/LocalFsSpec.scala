package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem ([[LocalFs]]) starts no process for its metadata
  * calls, and answers them as Hadoop's own does.
  *
  * The census records `jdk.ProcessStart` with an in-process JFR recording
  * around each case and counts the commands Hadoop's local filesystem
  * forks without a native library: `chmod`, `readlink`, `ls` and `stat`.
  * Other processes (Spark's own `rm -rf` cleanup) are not counted.
  */
class LocalFsSpec extends SparkSpec {

  private val Metadata = Set("chmod", "readlink", "ls", "stat")

  /** The metadata commands started while `body` ran, and its result. */
  private def forks[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      val cmds = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      (out, cmds.filter(c => Metadata(c.trim.split("\\s+").head.split('/').last)))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def noForks[A](what: String)(body: => A): A = {
    val (out, cmds) = forks(body)
    assert(cmds.isEmpty, s"$what started ${cmds.size} metadata processes: ${cmds.take(5)}")
    out
  }

  private def withDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
  }

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(new URI("file:///"), conf)
  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
  private def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the census counts a metadata process when one starts") {
    val (_, cmds) = forks(new ProcessBuilder("ls", "-ld", "/").start().waitFor())
    assert(cmds.size === 1)
  }

  test("the session's file: filesystem is graft's, for both Hadoop APIs") {
    assert(fs.getClass === classOf[LocalFs.FileSystemApi])
    assert(AbstractFileSystem.get(new URI("file:///"), conf).getClass ===
      classOf[LocalFs.FileContextApi])
  }

  test("Tables.read of a fresh directory and of a single file starts no process") {
    withDir { dir =>
      spark.range(100).write.parquet(s"$dir/t")
      assert(noForks("Tables.read(dir)")(Tables.read(spark, s"$dir/t").count()) === 100)
      val single = Files.list(dir.resolve("t")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(single, dir.resolve("one.parquet"))
      noForks("Tables.read(file)")(Tables.read(spark, s"$dir/one.parquet").count())
    }
    noForks("Tables.read(events)")(Tables(spark, sf0001).events.count())
  }

  test("a parquet write and its read-back start no process") {
    withDir { dir =>
      val n = noForks("write + read") {
        spark.range(50).selectExpr("id", "id % 3 AS k")
          .write.partitionBy("k").parquet(s"$dir/w")
        spark.read.parquet(s"$dir/w").count()
      }
      assert(n === 50)
    }
  }

  test("FileContext create, overwrite-rename and mkdir start no process") {
    withDir { dir =>
      val fc = FileContext.getFileContext(new URI("file:///"), conf)
      val (src, dst) = (new Path(s"$dir/a/src"), new Path(s"$dir/a/dst"))
      def write(p: Path, b: Int): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(b); out.close()
      }
      noForks("FileContext") {
        fc.mkdir(new Path(s"$dir/a"), FsPermission.getDirDefault, true)
        write(src, 1)
        write(dst, 2)
        fc.rename(src, dst, Options.Rename.OVERWRITE)
      }
      assert(!Files.exists(dir.resolve("a/src")))
      assert(Files.readAllBytes(dir.resolve("a/dst")).toSeq === Seq(1.toByte))
    }
  }

  test("q212's stateful interval join drains without a metadata process") {
    val rows = noForks("q212")(
      graft.queries.Events.queries("q212_stream_interval_join")(spark, sf0001).count())
    assert(rows > 0)
  }

  test("created files and directories get Hadoop's modes after the umask") {
    withDir { dir =>
      val f = new Path(s"$dir/d/f")
      fs.create(f).close()
      assert(mode(dir.resolve("d/f")) === "rw-r--r--")
      assert(mode(dir.resolve("d")) === "rwxr-xr-x")
      val st = fs.getFileStatus(f)
      assert(st.getPermission === perm("644"))
      assert(st.getOwner === Files.getOwner(dir.resolve("d/f")).getName)
      assert(fs.getFileStatus(new Path(s"$dir/d")).getPermission === perm("755"))
      fs.setPermission(f, perm("1640"))
      assert(mode(dir.resolve("d/f")) === "rw-r-----")
      assert(fs.getFileStatus(f).getPermission === perm("1640"))
      assert(fs.listStatus(f).head.getPermission.toString === "rw-r----T")
    }
  }

  test("a symlink still reports as one, with its target") {
    withDir { dir =>
      val target = Files.createFile(dir.resolve("target"))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val st = fs.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath === target.toString)
      val fc = FileContext.getFileContext(new URI("file:///"), conf)
      assert(fc.getFileLinkStatus(new Path(link.toString)).isSymlink)
      assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
    }
  }

  test("setPermission and getFileLinkStatus on a missing path throw FileNotFoundException") {
    withDir { dir =>
      val missing = new Path(s"$dir/missing")
      intercept[FileNotFoundException](fs.setPermission(missing, perm("644")))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    }
  }

  test("a permission read that fails with other than a missing path throws unchecked") {
    withDir { dir =>
      val f = new Path(s"$dir/d/f")
      fs.create(f).close()
      val st = fs.getFileStatus(f) // permission not read yet
      org.apache.commons.io.FileUtils.deleteDirectory(dir.resolve("d").toFile)
      Files.createFile(dir.resolve("d")) // the parent is now a file: ENOTDIR
      intercept[java.io.UncheckedIOException](st.getPermission)
    }
  }
}
