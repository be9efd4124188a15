package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The stats [[LakeFileWriter]] computes while writing equal what one
  * aggregate over the written files gives: per file (grouped by
  * `input_file_name()`) the row count, min/max of each stats column's
  * long encoding ([[LakeTable.statLong]]) or string, its null count and
  * `hll_sketch_agg(_, HllLgK)` bytes. That aggregate is the reference
  * here, for every shape a lake write takes.
  */
class LakeStageStatsSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_stage_stats_$tag").toFile
    d.deleteOnExit()
    new File(d, "t").getAbsolutePath
  }

  private val statsCols = Seq("k", "i", "d", "ts", "s", "ni", "ns")

  /** `n` rows from `from` covering every stats type: long, int, date
    * and timestamp with nulls, a string column of empty strings, nulls
    * and non-ASCII values longer than the 64-char stats cut, two
    * all-null columns, and a partition column `p` with nulls.
    */
  private def rows(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(
      col("id").as("k"),
      when(col("id") % 11 =!= 0, (col("id") % 13).cast("int")).as("i"),
      when(col("id") % 7 =!= 0,
        date_add(lit("2020-01-01").cast("date"), (col("id") % 50).cast("int"))).as("d"),
      when(col("id") % 5 =!= 0, timestamp_micros(col("id") * 1000003L)).as("ts"),
      when(col("id") % 4 === 0, lit(""))
        .when(col("id") % 4 === 1, concat(repeat(lit("é中ß"), 30), col("id").cast("string")))
        .when(col("id") % 4 === 3, concat(lit("k"), col("id").cast("string")))
        .as("s"),
      lit(null).cast("int").as("ni"),
      lit(null).cast("string").as("ns"),
      when(col("id") % 10 =!= 0, (col("id") % 3).cast("int")).as("p"))

  /** The reference entry of every file in `t`'s current snapshot. */
  private def reference(t: LakeTable): Map[String, FileEntry] = {
    val m = t.manifest(t.currentVersion)
    val reread = spark.read.schema(m.physSchema)
      .parquet(m.files.map(f => s"${t.path}/${f.name}"): _*)
    val cols = m.statsCols.map(m.physOf)
    val (strCols, longCols) = cols.partition(c => reread.schema(c).dataType == StringType)
    def nulls(c: String): Column = count(lit(1)).minus(count(col(c))).as(s"_nulls_$c")
    val aggs = count(lit(1)).as("_rows") +: (longCols.flatMap { c =>
      val enc = LakeTable.statLong(c, reread.schema(c).dataType)
      Seq(min(enc).as(s"_min_$c"), max(enc).as(s"_max_$c"), nulls(c),
        hll_sketch_agg(enc, LakeTable.HllLgK).as(s"_hll_$c"))
    } ++ strCols.flatMap { c =>
      Seq(min(col(c)).as(s"_min_$c"), max(col(c)).as(s"_max_$c"), nulls(c),
        hll_sketch_agg(col(c), LakeTable.HllLgK).as(s"_hll_$c"))
    })
    reread.groupBy(input_file_name().as("_file")).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val name = new File(r.getAs[String]("_file")).getName
        def some(c: String) = r.getAs[Any](s"_min_$c") != null
        name -> FileEntry(name, r.getAs[Long]("_rows"),
          longCols.filter(some).map(c =>
            c -> ((r.getAs[Long](s"_min_$c"), r.getAs[Long](s"_max_$c")))).toMap,
          strStats = strCols.filter(some).map(c =>
            c -> ((LakeTable.truncMin(r.getAs[String](s"_min_$c")),
              LakeTable.truncMax(r.getAs[String](s"_max_$c"))))).toMap,
          nulls = cols.map(c => c -> r.getAs[Long](s"_nulls_$c")).toMap,
          hll = cols.map(c => c ->
            java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](s"_hll_$c"))).toMap)
      }.toMap
  }

  /** Every file of the current snapshot records the reference stats;
    * returns the snapshot's files.
    */
  private def assertStatsMatch(t: LakeTable): Seq[FileEntry] = {
    val files = t.manifest(t.currentVersion).files
    val ref = reference(t)
    assert(files.map(_.name).toSet === ref.keySet, "every file has rows")
    files.foreach { f =>
      val r = ref(f.name)
      assert(f.rows === r.rows, s"${f.name} rows")
      assert(f.stats === r.stats, s"${f.name} stats")
      assert(f.strStats === r.strStats, s"${f.name} strStats")
      assert(f.nulls === r.nulls, s"${f.name} nulls")
      assert(f.hll === r.hll, s"${f.name} hll")
    }
    files
  }

  test("a single-file stage records the reference stats") {
    val t = LakeTable.create(spark, freshDir("one"), rows(0, 300).coalesce(1), statsCols)
    val files = assertStatsMatch(t)
    assert(files.size === 1)
    // min is the empty string; the max, a non-ASCII value past the
    // 64-char cut, is recorded as its bumped 64-char prefix
    assert(files.head.strStats("s")._1 === "")
    assert(files.head.strStats("s")._2.map(_.length) === Some(LakeTable.StrStatLen))
    assert(!files.head.stats.contains("ni") && !files.head.strStats.contains("ns"))
    assert(files.head.nulls("ni") === 300L && files.head.nulls("ns") === 300L)
  }

  test("a multi-file stage records the reference stats per file") {
    val t = LakeTable.create(spark, freshDir("multi"), rows(0, 40).coalesce(1), statsCols)
    t.append(rows(1000, 900).repartition(3))
    assert(assertStatsMatch(t).size === 4)
  }

  test("a partitioned stage writes one file per value, null included") {
    val t = LakeTable.create(spark, freshDir("part"), rows(0, 600).repartition(2),
      statsCols, Seq("p"))
    val files = assertStatsMatch(t)
    // 2 tasks x (3 values + null)
    assert(files.size === 8)
    files.foreach { f =>
      f.stats.get("p") match {
        case Some((lo, hi)) => assert(lo === hi && f.nulls("p") === 0L)
        case None => assert(f.nulls("p") === f.rows)
      }
    }
  }

  test("a bucketed stage names each file by its task's bucket") {
    val t = LakeTable.create(spark, freshDir("bucket"), rows(0, 500), statsCols,
      Nil, Seq("k"), 4)
    val files = assertStatsMatch(t)
    assert(files.size === 4)
    assert(files.map(_.name.takeRight(14)).sorted ===
      (0 until 4).map(b => f"_$b%05d.parquet"))
  }

  test("compaction records the reference stats") {
    val t = LakeTable.create(spark, freshDir("compact"), rows(0, 50).coalesce(1), statsCols)
    (1 to 3).foreach(i => t.append(rows(i * 100L, 50).coalesce(1)))
    t.compact(smallFileRows = 1000, targetRows = 120)
    assert(t.history().last.operation === "compact")
    assert(assertStatsMatch(t).size === 2)
  }

  test("the writer's own filesystem leaves the session and the JVM's local one as they were") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def localFs = FileSystem.get(new java.net.URI("file:///"), hadoopConf).getClass
    val (confBefore, fsBefore) = (spark.conf.getAll, localFs)
    val df = rows(0, 300).coalesce(1)
    val t = LakeTable.create(spark, freshDir("niofs"), df, statsCols)
    assert(spark.conf.getAll === confBefore)
    assert(localFs === fsBefore)
    assertStatsMatch(t)
    assert(t.read().collect().map(_.toString).sorted.toSeq ===
      df.collect().map(_.toString).sorted.toSeq)
    // the footer a stock DataFrame write of the same rows gives
    val stock = freshDir("niofs_stock")
    df.write.parquet(stock)
    def footer(file: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), hadoopConf))
      try (r.getFooter.getFileMetaData.getSchema, r.getFooter.getBlocks.asScala.toSeq.map(b =>
        (b.getRowCount, b.getColumns.asScala.toSeq.map(c =>
          (c.getPath.toDotString, c.getValueCount, c.getStatistics.toString)))))
      finally r.close()
    }
    val Seq(lakeFile) = t.fileNames(t.currentVersion)
    val stockFile = new File(stock).list((_, n) => n.endsWith(".parquet")).head
    assert(footer(s"${t.path}/$lakeFile") === footer(s"$stock/$stockFile"))
  }

  test("the writer ships no Hadoop conf in its tasks; no conf broadcast outlives a write") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.sql.graftbridge.WriterConfBlocks
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    // a destroyed broadcast leaves the block manager asynchronously
    def settlesAt(ids: Set[Long]): Unit =
      eventually(timeout(30.seconds), interval(50.millis)) { assert(WriterConfBlocks.ids() === ids) }
    val before = WriterConfBlocks.ids()
    val data = rows(0, 300)
    val f = LakeFileWriter.factory(spark, Files.createTempDirectory("graft_stage_conf"),
      data.schema, statsCols, Seq("p"))
    try {
      val closure = SparkEnv.get.closureSerializer.newInstance().serialize(f).limit()
      assert(closure < 16 * 1024, s"a writer task closure is $closure bytes")
      assert((WriterConfBlocks.ids() -- before).size === 1, "the conf ships as one broadcast")
    } finally f.release()
    settlesAt(before)

    val t = LakeTable.create(spark, freshDir("conf"), data.repartition(2), statsCols, Seq("p"))
    t.append(rows(300, 200).repartition(3))
    settlesAt(before)

    val wh = Files.createTempDirectory("graft_stage_conf_wh").toFile
    wh.deleteOnExit()
    spark.conf.set("spark.sql.catalog.graft_conf", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_conf.warehouse", wh.getAbsolutePath)
    val dyn = LakeTable.create(spark, s"${wh.getAbsolutePath}/dyn", data.repartition(2),
      statsCols, Seq("p"))
    rows(5000, 400).writeTo("graft_conf.dyn").overwritePartitions()
    assert(dyn.history().last.operation === "overwrite-dynamic")
    settlesAt(before)
    val v = dyn.currentVersion
    // a failing writer task aborts the write
    intercept[Exception] {
      rows(6000, 400).withColumn("k",
        when(col("k") === 6100L, raise_error(lit("boom"))).otherwise(col("k")))
        .writeTo("graft_conf.dyn").overwritePartitions()
    }
    assert(dyn.currentVersion === v)
    settlesAt(before)
  }

  test("a v2 dynamic overwrite records the reference stats") {
    val wh = Files.createTempDirectory("graft_stage_stats_wh").toFile
    wh.deleteOnExit()
    spark.conf.set("spark.sql.catalog.graft_stats", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_stats.warehouse", wh.getAbsolutePath)
    val t = LakeTable.create(spark, s"${wh.getAbsolutePath}/dyn",
      rows(0, 300).repartition(2), statsCols, Seq("p"))
    rows(5000, 400).writeTo("graft_stats.dyn").overwritePartitions()
    assert(t.history().last.operation === "overwrite-dynamic")
    assertStatsMatch(t)
  }
}
