package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** A merge's key range ([[LakeTable.keyRangeOf]], one job of per-task
  * partial ranges) against its reference, the aggregate
  * `min`/`max`/`count` of the key's stats encoding over the source: the
  * same range, counts and candidate files for every stats key type.
  */
class LakeMergeRangeSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_merge_range_$tag").toFile
    d.deleteOnExit()
    new File(d, "t").getAbsolutePath
  }

  private val keys = Seq("b", "i", "l", "d", "ts", "s")

  /** One key column per stats type, each increasing with `id`; every
    * fourth key NULL when `nulls`.
    */
  private def rows(ids: Dataset[_], nulls: Boolean): DataFrame = {
    def key(c: org.apache.spark.sql.Column) =
      if (nulls) when(col("id") % 4 =!= 0, c) else c
    ids.toDF().select(col("id"),
      key((col("id") / 4 - 50).cast("byte")).as("b"),
      key((col("id") * 7919 - 100000).cast("int")).as("i"),
      key(col("id") * 1000003L - 7L).as("l"),
      key(date_add(lit("1960-01-01").cast("date"), (col("id") * 13).cast("int"))).as("d"),
      key(timestamp_micros(col("id") * 999999937L)).as("ts"),
      key(concat(lit("k"), lpad(col("id").cast("string"), 4, "0"), lit("é中"))).as("s"))
  }

  test("the one-job merge key range equals the aggregate's, candidates included") {
    // 4 range-clustered files over ids 0..399
    val t = LakeTable.create(spark, freshDir("keys"),
      rows(spark.range(0, 400), nulls = false).repartitionByRange(4, col("id")), keys)
    val base = t.manifest(t.currentVersion)
    assert(base.files.size === 4)
    val sources = Seq(
      // ids 150..159 in the first of 8 partitions, 7 empty ones
      "one full partition" -> rows(spark.range(150, 230, 1, 8), nulls = false)
        .filter(col("id") < 160),
      // 5 round-robin partitions with NULL keys, plus 3 empty ones
      "nulls, empty partitions" -> rows(spark.range(90, 310, 1, 3), nulls = true)
        .repartition(5).union(rows(spark.range(0, 30, 1, 3), nulls = true).filter(lit(false))))
    for ((name, src) <- sources; k <- keys) {
      val range = LakeTable.keyRangeOf(src, k)
      val isString = src.schema(k).dataType == StringType
      val enc = if (isString) col(k) else LakeTable.statLong(k, src.schema(k).dataType)
      val ref = src.agg(min(enc), max(enc), count(lit(1)), count(col(k))).head()
      assert(range.rows === ref.getLong(2), s"$name $k rows")
      assert(range.rows - range.nulls === ref.getLong(3), s"$name $k non-null")
      assert(range.isString === isString)
      if (isString) {
        assert((range.strLo.toString, range.strHi.toString) ===
          ((ref.getString(0), ref.getString(1))), s"$name $k range")
      } else {
        assert((range.lo, range.hi) === ((ref.getLong(0), ref.getLong(1))), s"$name $k range")
      }
      def refScope(f: FileEntry): Boolean =
        if (isString) f.strOverlaps(k, Some(ref.getString(0)), Some(ref.getString(1)))
        else f.overlaps(k, ref.getLong(0), ref.getLong(1))
      val candidates = base.files.filter(t.mergeKeyRange(src, k, base)).map(_.name)
      assert(candidates === base.files.filter(refScope).map(_.name), s"$name $k candidates")
      if (name == "one full partition") assert(candidates.size === 1, s"$name $k candidates")
    }
  }

  test("empty and all-NULL-key sources keep their errors over many partitions") {
    val t = LakeTable.create(spark, freshDir("errors"),
      rows(spark.range(0, 40), nulls = false).coalesce(1), keys)
    val base = t.manifest(t.currentVersion)
    val empty = rows(spark.range(0, 40, 1, 4), nulls = false).filter(col("id") < 0)
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], empty.schema)
    val allNull = rows(spark.range(0, 40, 1, 4), nulls = true).filter(col("id") % 4 === 0)
    for (k <- keys) {
      Seq(empty, noPartitions).foreach { src =>
        val ex = intercept[IllegalArgumentException](t.mergeKeyRange(src, k, base))
        assert(ex.getMessage.contains("empty updates frame"), k)
      }
      val ex = intercept[IllegalArgumentException](t.mergeKeyRange(allNull, k, base))
      assert(ex.getMessage.contains(s"only NULL $k keys"), k)
    }
  }
}
