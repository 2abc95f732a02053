package graft

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, ParquetTableStore}
import graft.streaming.EventStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session's `file:` FileSystem and FileContext write, rename and
  * check local files without starting a process, keep `.crc` checksums,
  * and answer as Hadoop's stock local FS answers. */
class ForkFreeLocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val ours = rawFs(new ForkFreeRawLocalFileSystem)
  private lazy val stock = rawFs(new RawLocalFileSystem)

  /** An octal mode (Scala has no octal literals). */
  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def unixMode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & oct("7777")

  /** A parquet directory of two files, one micro-batch each. */
  private def twoFileSource(): String = {
    val src = tmpDir("ffs-src") + "/events"
    (1 to 10).toDF("id").coalesce(1).write.parquet(src)
    (11 to 20).toDF("id").coalesce(1).write.mode("append").parquet(src)
    src
  }

  /** Every kind of local write the engine makes, under `root`: Spark-written
    * store overwrite and append, a two-level partitioned table and a
    * `replacePartitions` on it, a `foreachBatch` stream that appends to
    * the store, and a parquet-sink stream checkpointed under `root`. */
  private def writes(root: String, src: String): Unit = {
    val store = new ParquetTableStore(spark, root)
    val flat = (1 to 20).toDF("id").selectExpr("id", "id % 3 AS k")
    store.overwrite("db.flat", flat)
    store.append("db.flat", flat.limit(5))
    store.overwritePartitioned("db.part",
      (1 to 12).toDF("id").selectExpr("id",
        "IF(id % 2 = 0, 'east', 'west') AS region", "id % 3 AS bucket"),
      Seq("region", "bucket"))
    store.replacePartitions("db.part",
      Seq((2, "east", 2)).toDF("id", "region", "bucket"), Seq(Seq("east", "2")))
    EventStream.runStreamForeachBatch(spark, src,
      (batch, _) => store.append("db.stream", batch), Map("maxFilesPerTrigger" -> "1"))
    EventStream.runStreamToParquet(spark, src, s"$root/sink", s"$root/checkpoint",
      identity, Map("maxFilesPerTrigger" -> "1"))
    assert(store.count("db.flat") == 25L && store.count("db.part") == 11L &&
      store.count("db.stream") == 20L)
  }

  /** Runs `body` with Hadoop's stock local FileSystem and FileContext, an
    * uncached FileSystem per call, for every conf the session derives. */
  private def withStockLocalFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val stockKeys = Map(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs",
      "fs.file.impl.disable.cache" -> "true")
    val prev = stockKeys.keys.map(k => k -> Option(hc.get(k)))
    stockKeys.foreach { case (k, v) => hc.set(k, v) }
    try body finally prev.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
  }

  /** (directory?, extension, mode bits) of every entry below `root`. */
  private def modes(root: String): Set[(Boolean, String, Int)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.drop(1).map { p =>
      val n = p.getFileName.toString
      (Files.isDirectory(p), n.substring(n.lastIndexOf('.') + 1), unixMode(p.toFile))
    }.toSet
    finally walk.close()
  }

  test("the session's file: FileSystem and FileContext are the fork-free classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
  }

  test("store writes and checkpointed streams start no process") {
    val src = twoFileSource()
    writes(tmpDir("ffs-warm"), src)   // class loading and first-use setup
    // Spark forks `getconf PAGESIZE` once per JVM, in this class's
    // initializer, at its first executor-metrics poll
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    // the probe does see a process start
    assert(JfrProbe.processStarts(new ProcessBuilder("true").start().waitFor()).size == 1)
    val root = tmpDir("ffs-forks")
    // Spark's artifact cleaner runs `rm -rf` on a stream session's
    // artifact dir whenever GC frees that session: not a file: FS call
    val forks = JfrProbe.processStarts(writes(root, src))
      .filterNot(_.matches("rm -rf .*/artifacts-[^/]*/[^/]*"))
    assert(forks.isEmpty, s"${forks.size} process starts: ${forks.distinct.take(5)}")
    // checksums are still written, by the store and by the sink
    Seq("db/flat", "db/part/region=east/bucket=2", "sink").foreach { d =>
      assert(new File(root, d).list().exists(_.endsWith(".parquet.crc")), d)
    }
  }

  test("files and directories get the stock FS's mode bits") {
    val src = twoFileSource()
    val (oursRoot, stockRoot) = (tmpDir("ffs-ours"), tmpDir("ffs-stock"))
    writes(oursRoot, src)
    // the stock side really ran the stock FS: it forked its chmods
    assert(JfrProbe.processStarts(withStockLocalFs(writes(stockRoot, src)))
      .exists(_.startsWith("chmod")))
    val got = modes(oursRoot)
    assert(got == modes(stockRoot))
    assert(got.exists(_._1) && got.exists(_._2 == "crc") && got.exists(_._2 == "parquet"), got)
  }

  test("setPermission sets the mode chmod sets, sticky and setgid bits included") {
    val dir = tmpDir("ffs-perm")
    for (mode <- Seq("1777", "600", "755").map(oct); isDir <- Seq(false, true)) {
      val got = Seq(ours -> "ours", stock -> "stock").map { case (fs, side) =>
        val f = new File(dir, s"${if (isDir) "d" else "f"}-${mode.toOctalString}-$side")
        if (isDir) f.mkdir() else f.createNewFile()
        fs.setPermission(new Path(f.toString), new FsPermission(mode.toShort))
        unixMode(f)
      }
      assert(got == Seq(mode, mode), s"dir=$isDir ${mode.toOctalString}")
    }
    // a directory keeps its setgid bit, as GNU chmod keeps it for 4 digits
    val kept = Seq(ours, stock).map { fs =>
      val f = Files.createTempDirectory(Paths.get(dir), "sgid").toFile
      Files.setAttribute(f.toPath, "unix:mode", Int.box(oct("2755")))
      fs.setPermission(new Path(f.toString), new FsPermission(oct("700").toShort))
      unixMode(f)
    }
    assert(kept == Seq(oct("2700"), oct("2700")))
    intercept[java.io.IOException](
      ours.setPermission(new Path(dir, "missing"), new FsPermission(oct("644").toShort)))
  }

  test("getFileLinkStatus answers as the stock FS") {
    val dir = tmpDir("ffs-link")
    val file = new File(dir, "f")
    Files.write(file.toPath, "abc".getBytes)
    val sub = new File(dir, "d")
    sub.mkdir()
    val link = new File(dir, "l")
    Files.createSymbolicLink(link.toPath, file.toPath)
    def view(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, Option.when(s.isSymlink)(s.getSymlink))
    // a qualified path is never a link to Hadoop's readlink
    val paths = Seq(file, sub, link).map(f => new Path(f.toString)) :+ new Path(s"file:$link")
    paths.foreach(p => assert(view(ours.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p))
    assert(paths.map(ours.getFileLinkStatus(_).isSymlink) == Seq(false, false, true, false))
    val missing = new Path(dir, "missing")
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test(".crc sidecars are written through FileSystem and FileContext, and verified") {
    val conf = spark.sessionState.newHadoopConf()
    // the session's class, but a checksum failure is only thrown: Hadoop's
    // LocalFileSystem would move the bad file to a `bad_files` directory
    // at the top of its device
    val fs = new ForkFreeLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(URI.create("file:///"), conf)
    val fc = FileContext.getFileContext(conf)
    val dir = tmpDir("ffs-crc")
    val bytes = Array.tabulate(64)(_.toByte)
    def readBack(in: java.io.InputStream): Seq[Byte] =
      try in.readAllBytes().toSeq finally in.close()
    val (viaFs, viaFc) = (new Path(dir, "fs"), new Path(dir, "fc"))
    val o1 = fs.create(viaFs)
    try o1.write(bytes) finally o1.close()
    val o2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
    try o2.write(bytes) finally o2.close()
    Seq("fs", "fc").foreach(n => assert(new File(dir, s".$n.crc").isFile, n))
    assert(readBack(fs.open(viaFs)) == bytes.toSeq && readBack(fc.open(viaFc)) == bytes.toSeq)
    Files.write(new File(dir, "fs").toPath, bytes.reverse)
    intercept[ChecksumException](readBack(fs.open(viaFs)))
  }
}
