package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.flow.NightlyEtl
import graft.stream.Pipeline

/** graft's `file:` filesystem: the same modes, checksums and link
  * results as Hadoop's stock local filesystem, installed by
  * [[graft.GraftSession]], and no forked process on the stream's and the
  * nightly flow's write paths. */
class LocalFsSpec extends SparkSpec with graft.LowStatePartitions {

  private val Root = URI.create("file:///")

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def fileSystem(fs: FileSystem): FileSystem = { fs.initialize(Root, new Configuration()); fs }

  /** A `FileContext` over the `AbstractFileSystem` class named. */
  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(AbstractFileSystem.get(Root, conf), conf)
  }

  private def stockFs = fileSystem(new LocalFileSystem())
  private def graftFs = fileSystem(new GraftLocalFileSystem())
  private def stockFc = fileContext("org.apache.hadoop.fs.local.LocalFs")
  private def graftFc = fileContext(classOf[GraftLocalFs].getName)

  /** Every file and directory under `root`, `.crc` files included, with
    * its POSIX mode. */
  private def modes(root: String): Map[String, String] = {
    val base = Paths.get(root)
    Files.walk(base).iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
    }.toMap
  }

  private def exercise(fs: FileSystem, fc: FileContext, root: String): Unit = {
    def p(rel: String) = new Path(s"$root/$rel")
    fs.create(p("fs/a/b/plain")).close()
    fs.create(p("fs/c640"), perm("640"), true, 4096, 1.toShort, 1L << 25, null).close()
    fs.mkdirs(p("fs/m/n"))
    fs.mkdirs(p("fs/d750"), perm("750"))
    for (mode <- Seq("600", "640", "750")) {
      fs.create(p(s"fs/p$mode")).close()
      fs.setPermission(p(s"fs/p$mode"), perm(mode))
    }
    fs.setPermission(p("fs/m"), perm("750"))
    // The checkpoint path: create a temp file, rename it into place.
    val flags = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    val tmp = fc.create(p("fc/x/.1.tmp"), flags, Options.CreateOpts.createParent())
    tmp.write(Array[Byte](1, 2, 3))
    tmp.close()
    fc.rename(p("fc/x/.1.tmp"), p("fc/x/1"), Options.Rename.OVERWRITE)
    fc.mkdir(p("fc/d750/e"), perm("750"), true)
    for (mode <- Seq("600", "640", "750")) {
      fc.create(p(s"fc/p$mode"), flags).close()
      fc.setPermission(p(s"fc/p$mode"), perm(mode))
    }
  }

  test("create, mkdirs and setPermission leave the stock filesystem's modes and .crc files") {
    val dir = Files.createTempDirectory("graft-localfs").toString
    exercise(stockFs, stockFc, s"$dir/stock")
    exercise(graftFs, graftFc, s"$dir/graft")
    val (stock, graft) = (modes(s"$dir/stock"), modes(s"$dir/graft"))
    assert(stock.keySet.exists(_.endsWith(".crc")), stock.keySet)
    assert(stock("fs/p640") === "rw-r-----")
    assert(graft === stock)
  }

  /** What a link-status lookup returns, or the exception it throws. */
  private def linkStatus(lookup: Path => FileStatus, p: Path): Either[String, Seq[Any]] =
    try {
      val s = lookup(p)
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        if (s.isSymlink) s.getSymlink else None, s.getPermission, s.getOwner))
    } catch { case e: FileNotFoundException => Left(e.getClass.getName) }

  test("link status matches the stock filesystem's for files, directories and links") {
    val dir = Files.createTempDirectory("graft-localfs").toRealPath()
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2))
    Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val raw = Seq(new RawLocalFileSystem(), new GraftRawLocalFileSystem()).map(fileSystem)
    val fcs = Seq(stockFc, graftFc)
    val names = Seq("file", "sub", "link", "dangling", "missing")
    val paths = names.flatMap { n =>
      val local = dir.resolve(n).toString
      Seq(new Path(local), new Path(s"file:$local"))
    }
    for (p <- paths) {
      val Seq(stock, graft) = raw.map(fs => linkStatus(fs.getFileLinkStatus, p))
      assert(graft === stock, p)
      val Seq(stockCtx, graftCtx) = fcs.map(fc => linkStatus(fc.getFileLinkStatus, p))
      assert(graftCtx === stockCtx, s"FileContext $p")
    }
    val link = linkStatus(raw(1).getFileLinkStatus, new Path(dir.resolve("link").toString))
    assert(link.exists(_(3) == true), link)
    assert(link.exists(_(6) == new Path(s"file:$file")), link)
    assert(linkStatus(raw(1).getFileLinkStatus, new Path(dir.resolve("missing").toString)).isLeft)
  }

  test("a GraftSession resolves file: to graft's filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Root, conf).getClass === classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[GraftRawLocalFileSystem])
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem.getClass === classOf[GraftLocalFs])
    assert(FileContext.getFileContext(Root, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass === classOf[GraftLocalFs])
  }

  /** What a listed status reports, the mode and owner included. */
  private def listed(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)

  test("listed statuses carry the stock filesystem's modes and owners") {
    val dir = Files.createTempDirectory("graft-localfs").toRealPath()
    val stock = fileSystem(new RawLocalFileSystem())
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2))
    for (mode <- Seq("600", "640", "755")) Files.createFile(dir.resolve(s"p$mode"))
    Files.createDirectories(dir.resolve("sub/deeper"))
    Files.write(dir.resolve("sub/deeper/leaf"), Array[Byte](3))
    Files.createDirectory(dir.resolve("sticky"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    for (mode <- Seq("600", "640", "755")) stock.setPermission(new Path(s"$dir/p$mode"), perm(mode))
    stock.setPermission(new Path(s"$dir/sub"), perm("750"))
    stock.setPermission(new Path(s"$dir/sticky"), perm("1777"))
    val root = new Path(dir.toString)
    def located(fs: FileSystem) = {
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(i => listed(i.next())).toSeq.sortBy(_.head.toString)
    }
    val Seq(stockFs, graftFs) = Seq(stock, fileSystem(new GraftRawLocalFileSystem()))
    val top = stockFs.listStatus(root).map(listed).sortBy(_.head.toString).toSeq
    assert(top.map(_(6)).contains(perm("1777")), top)
    assert(graftFs.listStatus(root).map(listed).sortBy(_.head.toString).toSeq === top)
    assert(located(graftFs) === located(stockFs))
    val one = new Path(s"$dir/p640")
    assert(graftFs.listStatus(one).map(listed).toSeq === stockFs.listStatus(one).map(listed).toSeq)

    val gone = graftFs.listStatus(one).head
    Files.delete(dir.resolve("p640"))
    assert((gone.getPermission, gone.getOwner, gone.getGroup) === ((FsPermission.getFileDefault, "", "")))
  }

  /** Process launches inside `body` whose stack passes through Hadoop's
    * `Shell`, from a JFR recording of `jdk.ProcessStart` alone. */
  private def shellLaunches(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(out)
    } finally rec.close()
    try jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.count { e =>
      e.getEventType.getName == "jdk.ProcessStart" && Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
    } finally Files.delete(out)
  }

  test("a two-batch stream drain and its nightly ETL launch no Hadoop Shell process") {
    val dir = Files.createTempDirectory("graft-localfs").toString
    // The recording sees a stock chmod.
    val probe = Files.createFile(Paths.get(s"$dir/probe"))
    val stockRaw = fileSystem(new RawLocalFileSystem())
    assert(shellLaunches(stockRaw.setPermission(new Path(probe.toString), perm("600"))) === 1)

    def line(ts: String, machine: String, v: Double) =
      s"""{"timestamp":"2025-01-01T$ts","machine_id":"$machine","sensor_type":"temperature","value":$v}"""
    Files.createDirectories(Paths.get(s"$dir/topic"))
    Files.write(Paths.get(s"$dir/topic/f-0.json"),
      Seq(line("10:00:10", "CNC-001", 85.5), line("10:00:40", "LATHE-002", 1.4)).asJava)
    Files.write(Paths.get(s"$dir/topic/f-1.json"),
      Seq(line("10:02:30", "CNC-001", 86.1), line("10:03:30", "CNC-001", 86.4)).asJava)
    val launches = shellLaunches {
      val src = graft.ops.Ingest.decode(
        spark.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/topic")
          .withColumnRenamed("value", "raw"), org.apache.spark.sql.functions.col("raw"))
      val (rq, aq) = Pipeline.run(spark, src,
        _.write.mode("append").parquet(s"$dir/raw"),
        _.write.mode("append").parquet(s"$dir/agg"), s"$dir/ckpt")
      rq.awaitTermination()
      aq.awaitTermination()
      assert(rq.recentProgress.count(_.numInputRows > 0) === 2)
      val etl = NightlyEtl.runTable(spark, ParquetSource(s"$dir/raw"), LakeSink(s"$dir/lake"), "timestamp")
      assert(etl.rows === 4)
    }
    assert(launches === 0)
  }

  test("a lake append lists its files with no Hadoop Shell process") {
    val dir = Files.createTempDirectory("graft-localfs").toString
    // The recording sees a stock listing's `ls -ld`.
    Files.createFile(Paths.get(s"$dir/probe"))
    val stockFs = fileSystem(new LocalFileSystem())
    assert(shellLaunches(stockFs.listFiles(new Path(dir), false).next().getPermission) === 1)

    import spark.implicits._
    val lake = Snapshot.Lake(spark, s"$dir/lake", Seq("k"))
    val launches = shellLaunches {
      lake.append((0L until 40L).map(k => (k, s"row$k")).toDF("k", "v").repartition(4))
      lake.append((40L until 50L).map(k => (k, s"row$k")).toDF("k", "v"))
    }
    assert(lake.read().count() === 50)
    assert(launches === 0)
  }
}
