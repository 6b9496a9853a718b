package graft.job

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] leaves the same modes on disk as Hadoop's stock
  * `LocalFileSystem`, and only the writes that ask for it use it. */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("local-fs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def fsPair(umask: String): (FileSystem, FileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    def init(fs: FileSystem) = { fs.initialize(URI.create("file:///"), conf); fs }
    (init(new LocalFileSystem()), init(new LocalFs))
  }

  /** The full mode bits (sticky included) of every path under `root`,
    * keyed by its path relative to `root`. */
  private def modes(root: java.nio.file.Path): Map[String, Int] =
    Files.walk(root).iterator().asScala.map(p =>
      root.relativize(p).toString -> Files.getAttribute(p, "unix:mode").asInstanceOf[Int]).toMap

  /** Creates a file (and its `.crc`) and a nested directory chain with
    * `mode` through `fs` under a fresh directory; returns that directory. */
  private def writeTree(fs: FileSystem, mode: Short): java.nio.file.Path = {
    val root = Files.createTempDirectory("graft-localfs")
    val perm = new FsPermission(mode)
    val out = fs.create(new Path(root.resolve("made/f.bin").toUri), perm, true, 4096,
      1.toShort, 1L << 20, null)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(fs.mkdirs(new Path(root.resolve("a/b/c").toUri), perm))
    root
  }

  test("files, .crc siblings and nested mkdirs get the stock modes") {
    for (umask <- Seq("022", "077"); mode <- Seq("600", "644", "700", "755", "777")) {
      val (stock, ours) = fsPair(umask)
      val want = modes(writeTree(stock, octal(mode)))
      val got = modes(writeTree(ours, octal(mode)))
      assert(want.keySet.contains("made/.f.bin.crc") && want.keySet.contains("a/b/c"))
      // the temp root itself is made by the JVM, not by either file system
      assert(got - "" == want - "", s"umask $umask mode $mode")
    }
  }

  test("a sticky-bit mode takes the stock path and matches it") {
    // create and mkdirs drop the sticky bit with the umask: set it directly
    val (stock, ours) = fsPair("022")
    def sticky(fs: FileSystem): Map[String, Int] = {
      val root = Files.createTempDirectory("graft-localfs")
      Files.createDirectory(root.resolve("d"))
      Files.createFile(root.resolve("f"))
      for (p <- Seq("d", "f"))
        fs.setPermission(new Path(root.resolve(p).toUri), new FsPermission(octal("1777")))
      modes(root) - ""
    }
    val want = sticky(stock)
    assert(sticky(ours) == want)
    // setPosixFilePermissions cannot set the sticky bit: stock chmod did
    assert((want("d") & octal("1000")) != 0, f"${want("d")}%o")
  }

  test("setPermission on a missing path throws FileNotFoundException") {
    val (_, ours) = fsPair("022")
    val missing = Files.createTempDirectory("graft-localfs").resolve("no/such/file")
    intercept[FileNotFoundException](
      ours.setPermission(new Path(missing.toUri), new FsPermission(octal("644"))))
  }

  test("WriteOptions resolve file: to LocalFs; a run leaves the session's file: class") {
    val conf = spark.sessionState.newHadoopConfWithOptions(LocalFs.WriteOptions)
    assert(FileSystem.getFileSystemClass("file", conf) == classOf[LocalFs])
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[LocalFs])
    // Hadoop's LocalFileSystem, or a wrapper of it that a jar on the
    // class path registers for file: (Hive's ProxyLocalFileSystem)
    val session = spark.sparkContext.hadoopConfiguration
    val before = FileSystem.getFileSystemClass("file", session)
    val cached = FileSystem.get(URI.create("file:///"), session)
    val dir = Files.createTempDirectory("graft-localfs-run").toString
    ExtractJob.run(Transcripts.generate(spark, 10),
      ExtractJob.Config(dir, buckets = 4, groups = 2))
    assert(Files.isDirectory(Paths.get(dir, "lineage")))
    assert(before != classOf[LocalFs])
    assert(FileSystem.getFileSystemClass("file", session) == before)
    assert(FileSystem.get(URI.create("file:///"), session) eq cached)
    assert(session.get("fs.file.impl.disable.cache") == null)
  }
}
