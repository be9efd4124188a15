package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary: pins the parquet-derived type of every column the
  * engine reads, per table, against the live testdata. When the driver
  * regenerates testdata with a different encoding (it re-encoded
  * `events.ts` from INT64-ns to timestamp[us] mid-round-4, silently
  * breaking 22 queries), this suite fails ONE named test that says which
  * table/column drifted — instead of 32 scattered events-rooted failures.
  *
  * `ts`-like columns accept the set of encodings Tables.normalizeEventsTs
  * can handle; anything else is a real drift that needs a loader change.
  */
class SchemaCanarySpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  private val sf = SparkFixture.sf

  // parquet footer types as Spark reads them (nanosAsLong on, like Tables)
  private def schemaOf(table: String): Map[String, DataType] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf/$table.parquet")
      .schema.fields.map(f => f.name -> f.dataType).toMap
  }

  private val tsEncodings: Set[DataType] =
    Set(LongType, TimestampNTZType, TimestampType)

  private def assertCols(table: String,
      fixed: Map[String, DataType],
      adaptive: Map[String, Set[DataType]] = Map.empty): Unit = {
    val actual = schemaOf(table)
    val expectedNames = fixed.keySet ++ adaptive.keySet
    assert(actual.keySet == expectedNames,
      s"$table columns drifted: on-disk ${actual.keySet.toSeq.sorted} vs " +
        s"engine-assumed ${expectedNames.toSeq.sorted}")
    for ((name, tpe) <- fixed)
      assert(actual(name) == tpe,
        s"$table.$name drifted to ${actual(name)} (engine assumes $tpe)")
    for ((name, ok) <- adaptive)
      assert(ok.contains(actual(name)),
        s"$table.$name drifted to ${actual(name)} — not one of the " +
          s"encodings the adaptive loader handles ($ok); extend " +
          "Tables.normalizeEventsTs")
  }

  test("Tables.events leaves the session conf as it found it on timestamp[us] data") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val before = spark.conf.getAll
      val events = Tables.events(spark, sf)
      assert(events.schema("ts").dataType == TimestampType)
      assert(events.count() > 0)
      assert(spark.conf.getAll == before)
    } finally saved.foreach(spark.conf.set(key, _))
  }

  test("events schema matches an encoding the adaptive loader handles") {
    assertCols("events",
      fixed = Map("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType),
      adaptive = Map("ts" -> tsEncodings))
  }

  test("lineitem schema matches engine assumptions") {
    assertCols("lineitem", Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType),
      adaptive = Map("l_shipdate" -> tsEncodings))
  }

  test("orders schema matches engine assumptions") {
    assertCols("orders", Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderpriority" -> StringType),
      adaptive = Map("o_orderdate" -> tsEncodings))
  }

  test("customer schema matches engine assumptions") {
    assertCols("customer", Map(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
  }

  test("supplier schema matches engine assumptions") {
    assertCols("supplier", Map(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
  }

  test("part schema matches engine assumptions") {
    assertCols("part", Map(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
  }

  test("nation and region schemas match engine assumptions") {
    assertCols("nation", Map(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assertCols("region", Map(
      "r_regionkey" -> IntegerType, "r_name" -> StringType))
  }

  test("documents schema matches engine assumptions") {
    assertCols("documents", Map(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
  }

  test("embeddings schema matches engine assumptions") {
    assertCols("embeddings", Map(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))
  }
}
