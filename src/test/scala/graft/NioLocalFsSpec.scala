package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{NioLocalFs, StreamingJobs}

/** graft.streaming.NioLocalFs against Hadoop's stock LocalFs, both
  * reached through FileContext as Spark's checkpoint file manager reaches
  * them: the same statuses, errors, permissions, rename semantics and
  * checkpoint files.
  */
class NioLocalFsSpec extends AnyFunSuite {
  import SparkFixture._

  private val FsKey = "fs.AbstractFileSystem.file.impl"
  private val StockFs = "org.apache.hadoop.fs.local.LocalFs"
  private val NioFs = classOf[NioLocalFs.Checksummed].getName

  private def context(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(FsKey, impl)
    FileContext.getFileContext(conf)
  }
  private lazy val stock = context(StockFs)
  private lazy val nio = context(NioFs)

  private def tempDir(tag: String): java.nio.file.Path =
    Files.createTempDirectory(s"graft_niofs_$tag")

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getReplication, s.getBlockSize, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else None)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("statuses of a file, a directory and symlinks equal the stock LocalFs's") {
    assert(nio.getDefaultFileSystem.isInstanceOf[NioLocalFs.Checksummed])
    val dir = tempDir("status")
    try {
      val file = Files.write(dir.resolve("f"), "graft".getBytes)
      val sub = Files.createDirectory(dir.resolve("d"))
      Files.createSymbolicLink(dir.resolve("lf"), file)
      Files.createSymbolicLink(dir.resolve("ld"), sub)
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("missing"))
      val names = Seq("f", "d", "lf", "ld")
      // the unqualified form is the one the stock readlink resolves as a link
      for (n <- names; p <- Seq(new Path(dir.resolve(n).toString),
          new Path(dir.resolve(n).toUri))) {
        assert(fields(nio.getFileStatus(p)) === fields(stock.getFileStatus(p)), p)
        assert(fields(nio.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)), p)
      }
      val link = new Path(dir.resolve("lf").toString)
      assert(nio.getFileLinkStatus(link).isSymlink)
      assert(nio.getFileLinkStatus(link).getSymlink === stock.getFileLinkStatus(link).getSymlink)
      val dangling = new Path(dir.resolve("dangling").toString)
      assert(fields(nio.getFileLinkStatus(dangling)) === fields(stock.getFileLinkStatus(dangling)))
    } finally deleteRecursively(dir)
  }

  test("a missing path throws FileNotFoundException") {
    val missing = new Path(tempDir("missing").resolve("nope").toString)
    try {
      Seq(stock, nio).foreach { fc =>
        intercept[FileNotFoundException](fc.getFileStatus(missing))
        intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
      }
    } finally deleteRecursively(Paths.get(missing.getParent.toString))
  }

  test("create and rename match the stock LocalFs with and without OVERWRITE") {
    def scenario(fc: FileContext): (Seq[String], Seq[Int], String) = {
      val dir = tempDir("rename")
      try {
        def write(name: String, body: String): Path = {
          val p = new Path(dir.resolve(name).toString)
          val out = fc.create(p, EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.createParent())
          try out.write(body.getBytes) finally out.close()
          p
        }
        val a = write("sub/a.tmp", "first")
        val b = write("sub/b", "second")
        intercept[FileAlreadyExistsException](fc.rename(a, b))
        fc.rename(a, b, Options.Rename.OVERWRITE)
        val c = write("sub/c.tmp", "third")
        fc.rename(c, new Path(dir.resolve("sub/c").toString))
        val walk = Files.walk(dir)
        val files = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]).sorted
          finally walk.close()
        (files.map(p => dir.relativize(p).toString).toSeq, files.map(mode).toSeq,
          new String(Files.readAllBytes(dir.resolve("sub/b"))))
      } finally deleteRecursively(dir)
    }
    val (stockFiles, stockModes, stockBody) = scenario(stock)
    assert(stockFiles.contains("sub/.b.crc"), stockFiles)
    assert(scenario(nio) === ((stockFiles, stockModes, stockBody)))
    assert(stockBody === "first")
  }

  test("setPermission sets the stock mode bits, the sticky bit included") {
    val dir = tempDir("perm")
    try {
      val file = Files.write(dir.resolve("f"), Array[Byte](1))
      val sub = Files.createDirectory(dir.resolve("d"))
      for ((p, perm) <- Seq(file -> "640", file -> "400", sub -> "1750", sub -> "755")) {
        val fsPerm = new FsPermission(perm)
        stock.setPermission(new Path(p.toString), fsPerm)
        val want = mode(p)
        Files.setPosixFilePermissions(p, java.nio.file.attribute.PosixFilePermissions
          .fromString("rwxrwxrwx"))
        nio.setPermission(new Path(p.toString), fsPerm)
        assert(mode(p) === want, s"$p $perm")
        assert(nio.getFileStatus(new Path(p.toString)).getPermission === fsPerm)
      }
    } finally deleteRecursively(dir)
  }

  test("stream_state_reader checkpoint files, modes and state equal the stock LocalFs's") {
    val nioCkpt = Paths.get(System.getProperty("java.io.tmpdir"), "graft_rt",
      "niofs_spec_sr_ckpt")
    val stockCkpt = tempDir("stock_ckpt").resolve("ckpt")
    try {
      val nioState = StreamingJobs.stateReaderCounts(spark, stagedEventsDir, "niofs_spec_sr")
        .collect().toSet
      // the same query through the stock filesystem, under run's other
      // pinned settings (the state-partition count read off the tree)
      val parts = nioCkpt.resolve("state/0").toFile.list().count(_.forall(_.isDigit))
      val pinned = Seq("spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true", FsKey -> StockFs)
      val set = spark.conf.getAll
      val saved = pinned.map { case (k, _) => k -> set.get(k) }
      pinned.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        StreamingJobs.readEventsStream(spark, stagedEventsDir)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .writeStream.trigger(Trigger.AvailableNow()).format("memory")
          .queryName("niofs_spec_sr_stock").option("checkpointLocation", stockCkpt.toString)
          .outputMode(OutputMode.Complete()).start().awaitTermination()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      val stockState = spark.read.format("statestore").load(stockCkpt.toString)
        .select(col("key.user_id").as("user_id"), col("value.count").as("n"))
        .collect().toSet
      def tree(root: java.nio.file.Path): Seq[(String, Int)] = {
        val walk = Files.walk(root)
        try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .map(p => root.relativize(p).toString -> mode(p)).toSeq.sorted
        finally walk.close()
      }
      val stockTree = tree(stockCkpt)
      // Hadoop's `.<name>.crc` sidecars, and Spark's `<name>.crc` file
      // checksums (spark.sql.streaming.checkpoint.fileChecksum.enabled)
      val names = stockTree.map(p => Paths.get(p._1).getFileName.toString)
        .filter(_.endsWith(".crc"))
      assert(names.exists(_.startsWith(".")) && names.exists(!_.startsWith(".")), stockTree)
      assert(tree(nioCkpt) === stockTree)
      assert(nioState === stockState)
      assert(nioState.nonEmpty)
    } finally {
      deleteRecursively(nioCkpt)
      deleteRecursively(stockCkpt.getParent)
      spark.catalog.dropTempView("niofs_spec_sr")
      spark.catalog.dropTempView("niofs_spec_sr_stock")
    }
  }

  /** One staged copy of the events file (file streams list directories). */
  private lazy val stagedEventsDir: String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_niofs_events")
    Files.createDirectories(dir)
    Files.copy(Paths.get(sf, "events.parquet"), dir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }
}
