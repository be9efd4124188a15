package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** DSv2 TableCatalog over graft.lake (graft.lake.GraftCatalog): SQL DDL,
  * DataFrameWriterV2, native DELETE via SupportsDelete, UPDATE/MERGE via
  * the extended rule fallback, native VERSION AS OF via
  * loadTable(ident, version), and both read tiers (vectorized v2
  * ParquetScan with manifest pruning; V1Scan fallback under deletion
  * vectors).
  */
class GraftCatalogSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val warehouse: String = {
    val d = Files.createTempDirectory("graft_cat_wh").toFile
    d.deleteOnExit()
    spark.conf.set("spark.sql.catalog.graft_test", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_test.warehouse", d.getAbsolutePath)
    d.getAbsolutePath
  }

  private def kv(r: Range) = r.toDF("k")
    .select(col("k").cast("long").as("k"), (col("k") % 7).cast("long").as("v"))

  test("CREATE TABLE + INSERT INTO + SELECT through the catalog") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_test.ns1")
    spark.sql("CREATE TABLE graft_test.ns1.t1 (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft_test.ns1.t1 SELECT id AS k, id % 7 AS v FROM range(1, 101)")
    assert(spark.sql("SELECT count(*) FROM graft_test.ns1.t1").head().getLong(0) === 100)
    spark.sql("INSERT INTO graft_test.ns1.t1 VALUES (1000, 3)")
    assert(spark.sql("SELECT count(*) FROM graft_test.ns1.t1").head().getLong(0) === 101)
    // INSERT OVERWRITE truncates then writes
    spark.sql("INSERT OVERWRITE graft_test.ns1.t1 SELECT id, id % 3 FROM range(1, 11)")
    assert(spark.sql("SELECT count(*) FROM graft_test.ns1.t1").head().getLong(0) === 10)
  }

  test("catalog read plans a v2 BatchScan with pushed filters and manifest pruning") {
    warehouse
    val path = s"$warehouse/ns2/pruned"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_test.ns2")
    LakeTable.create(spark, path,
      kv(1 to 400).repartitionByRange(4, col("k")), Seq("k"))
    val q = spark.sql("SELECT k, v FROM graft_test.ns2.pruned WHERE k <= 50")
    assert(q.count() === 50)
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("BatchScan"), s"expected a v2 BatchScan:\n$physical")
    assert(physical.contains("PushedFilters") || physical.contains("LessThanOrEqual"),
      s"filter must reach the parquet scan:\n$physical")
    // manifest-stats pruning: only 1 of the 4 range-clustered files read
    val files = q.queryExecution.executedPlan.collectLeaves().head
      .metrics.get("numFiles").map(_.value)
    files.foreach(n => assert(n <= 1, s"manifest pruning should keep 1 file, read $n"))
  }

  test("DataFrameWriterV2 create / append / overwrite") {
    warehouse
    kv(1 to 50).writeTo("graft_test.w2t").create()
    assert(spark.table("graft_test.w2t").count() === 50)
    kv(51 to 60).writeTo("graft_test.w2t").append()
    assert(spark.table("graft_test.w2t").count() === 60)
    // CTAS via SQL as well
    spark.sql("CREATE TABLE graft_test.w2ctas AS SELECT * FROM graft_test.w2t WHERE k <= 10")
    assert(spark.table("graft_test.w2ctas").count() === 10)
  }

  test("DELETE FROM resolves natively through SupportsDelete") {
    warehouse
    kv(1 to 100).writeTo("graft_test.delt").create()
    spark.sql("DELETE FROM graft_test.delt WHERE k <= 40")
    assert(spark.table("graft_test.delt").count() === 60)
    // the lake history carries the copy-on-write delete commit
    val t = LakeTable.forPath(spark, s"$warehouse/delt")
    assert(t.history().exists(_.operation == "delete"))
  }

  test("UPDATE and MERGE run through the v2-extended rule fallback") {
    warehouse
    kv(1 to 100).writeTo("graft_test.dmlt").create()
    spark.sql("UPDATE graft_test.dmlt SET v = v + 100 WHERE k <= 10")
    assert(spark.table("graft_test.dmlt").filter(col("v") >= 100).count() === 10)
    kv(90 to 110).createOrReplaceTempView("dml_src")
    spark.sql(
      """MERGE INTO graft_test.dmlt t USING dml_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(spark.table("graft_test.dmlt").count() === 110)
    // matched rows took the source value back (v = k % 7)
    assert(spark.table("graft_test.dmlt")
      .filter(col("k") === 95 && col("v") === 95 % 7).count() === 1)
  }

  test("VERSION AS OF resolves natively via loadTable(ident, version)") {
    warehouse
    kv(1 to 30).writeTo("graft_test.ttt").create()
    val t = LakeTable.forPath(spark, s"$warehouse/ttt")
    val v1 = t.currentVersion
    kv(31 to 60).writeTo("graft_test.ttt").append()
    assert(spark.sql(s"SELECT count(*) FROM graft_test.ttt VERSION AS OF $v1")
      .head().getLong(0) === 30)
    assert(spark.table("graft_test.ttt").count() === 60)
  }

  test("non-integer time travel fails with a clear unsupported error") {
    warehouse
    kv(1 to 5).writeTo("graft_test.ttbad").create()
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    def wantClear(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(chain(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
          c.getMessage.contains("integer version")),
        s"want the integer-version UnsupportedOperationException for [$sql], got: $e")
    }
    wantClear("SELECT * FROM graft_test.ttbad VERSION AS OF 'not_a_number'")
    wantClear("SELECT * FROM graft_test.ttbad TIMESTAMP AS OF '2026-01-01'")
  }

  test("deletion-vector snapshots read through the V1Scan fallback") {
    warehouse
    kv(1 to 100).writeTo("graft_test.dvt").create()
    val t = LakeTable.forPath(spark, s"$warehouse/dvt")
    t.deleteWhereMoR(col("k") <= 20) // merge-on-read: DV sidecar, files untouched
    val df = spark.table("graft_test.dvt").filter(col("k") <= 50)
    assert(df.count() === 30)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("BatchScanExec(ParquetScan"),
      s"DV snapshot must not serve the raw parquet tier:\n$physical")
  }

  test("ALTER TABLE ADD COLUMNS is a metadata-only schema-evolution commit") {
    warehouse
    kv(1 to 20).writeTo("graft_test.alt").create()
    val t = LakeTable.forPath(spark, s"$warehouse/alt")
    val filesBefore = t.fileNames(t.currentVersion).toSet
    spark.sql("ALTER TABLE graft_test.alt ADD COLUMNS (note STRING, score DOUBLE)")
    // zero data files touched; reads null-backfill
    assert(t.fileNames(t.currentVersion).toSet === filesBefore)
    assert(t.history().last.operation === "add-columns")
    val df = spark.table("graft_test.alt")
    assert(df.columns.toSeq === Seq("k", "v", "note", "score"))
    assert(df.filter(col("note").isNull).count() === 20)
    // new column is writable going forward
    spark.sql("INSERT INTO graft_test.alt VALUES (100, 1, 'x', 0.5)")
    assert(df.count() === 20) // old handle pinned to its snapshot
    assert(spark.table("graft_test.alt").filter(col("note") === "x").count() === 1)
    // duplicate column is rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_test.alt ADD COLUMNS (k BIGINT)")
    }
    assert(e.getMessage.toLowerCase.contains("exist"))
  }

  test("filtered overwrite (SupportsOverwrite) is one atomic replaceWhere commit") {
    warehouse
    kv(1 to 100).writeTo("graft_test.rw").create()
    val t = LakeTable.forPath(spark, s"$warehouse/rw")
    val vBefore = t.currentVersion
    // overwrite rows with k <= 20 by fresh data: one commit, atomic
    kv(1 to 10).select(col("k"), lit(999L).as("v"))
      .writeTo("graft_test.rw").overwrite(col("k") <= 20)
    assert(t.currentVersion === vBefore + 1, "replaceWhere must be ONE commit")
    assert(t.history().last.operation === "replaceWhere")
    val rows = spark.table("graft_test.rw").as[(Long, Long)].collect().toMap
    assert(rows.size === 90) // 100 - 20 replaced-out + 10 new
    assert((1L to 10L).forall(rows(_) === 999L))
    assert(!(11L to 20L).exists(rows.contains))
    assert(rows(50L) === 50 % 7) // untouched range intact
  }

  test("dynamic partition overwrite replaces exactly the partitions present in the data") {
    warehouse
    val path = s"$warehouse/dyn"
    LakeTable.create(spark, path,
      kv(1 to 100).withColumn("p", col("k") % 4), Seq.empty, Seq("p"))
    val t = LakeTable.forPath(spark, path)
    val vBefore = t.currentVersion
    // new data only for partitions 0 and 1 — partitions 2, 3 must survive
    val newData = kv(200 to 219).withColumn("p", col("k") % 2)
    newData.writeTo("graft_test.dyn").overwritePartitions()
    assert(t.currentVersion === vBefore + 1, "dynamic overwrite must be ONE commit")
    // NATIVE v2 BatchWrite, not the LakeDmlRule rewrite: the native
    // path commits "overwrite-dynamic"; the rewrite commits
    // "replaceWhere" — so the operation name is the path pin
    assert(t.history().last.operation === "overwrite-dynamic")
    val rows = spark.table(s"graft_test.dyn").select("k", "p").as[(Long, Long)].collect()
    // partitions 0/1 now hold ONLY the new rows; 2/3 keep the originals
    assert(rows.filter(_._2 <= 1).map(_._1).forall(_ >= 200))
    assert(rows.count(_._2 == 2) === 25 && rows.count(_._2 == 3) === 25)
    assert(rows.count(_._2 <= 1) === 20)
  }

  test("dynamic partition overwrite adopts partition-pure files without a distinct job") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, OverwritePartitionsDynamic}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    warehouse
    val path = s"$warehouse/dynpure"
    LakeTable.create(spark, path,
      kv(1 to 400).withColumn("p", col("k") % 8), Seq.empty, Seq("p"))
    val t = LakeTable.forPath(spark, path)
    val before = t.fileNames(t.currentVersion).toSet
    // every plan the write runs, as "<grouping columns>" per aggregate;
    // the command's own plan arrives after every nested one
    val groupings = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    @volatile var commandSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        qe.optimizedPlan.foreach {
          case a: Aggregate => groupings.add(a.groupingExpressions.map(_.sql))
          case _ =>
        }
        if (qe.analyzed.exists(_.isInstanceOf[OverwritePartitionsDynamic])) commandSeen = true
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      kv(1000 to 1099).withColumn("p", col("k") % 3)
        .writeTo("graft_test.dynpure").overwritePartitions()
      val deadline = System.currentTimeMillis() + 30000
      while (!commandSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(commandSeen, "the overwrite command's plan never reached the listener")
    assert(!groupings.asScala.exists(_ == Seq("p")),
      s"the commit must not collect the partition tuples with a distinct job: $groupings")
    val m = graft.lake.LakeTestAccess.fileStats(t, t.currentVersion)
    val adopted = m.filterNot { case (n, _) => before(n) }
    assert(adopted.map(_._2("p")).sorted === Seq((0L, 0L), (1L, 1L), (2L, 2L)),
      "one adopted file per partition value, each with min = max on p")
  }

  test("SQL INSERT OVERWRITE in dynamic mode runs the native v2 BatchWrite") {
    warehouse
    val path = s"$warehouse/dynsql"
    LakeTable.create(spark, path,
      kv(1 to 100).withColumn("p", col("k") % 4), Seq.empty, Seq("p"))
    val t = LakeTable.forPath(spark, path)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql("""INSERT OVERWRITE graft_test.dynsql
        |SELECT id AS k, id % 7 AS v, CAST(0 AS BIGINT) AS p
        |FROM range(300, 310)""".stripMargin)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert(t.history().last.operation === "overwrite-dynamic")
    val rows = spark.table("graft_test.dynsql").select("k", "p").as[(Long, Long)].collect()
    assert(rows.count(_._2 == 0) === 10, "partition 0 replaced by the 10 new rows")
    assert(rows.filter(_._2 == 0).map(_._1).forall(_ >= 300))
    assert(rows.count(_._2 == 1) === 25 && rows.count(_._2 == 2) === 25 &&
      rows.count(_._2 == 3) === 25, "other partitions untouched")
  }

  test("renamed-column snapshots keep the LakeDmlRule fallback for dynamic overwrite") {
    warehouse
    val path = s"$warehouse/dynren"
    LakeTable.create(spark, path,
      kv(1 to 40).withColumn("p", col("k") % 2), Seq.empty, Seq("p"))
    val t = LakeTable.forPath(spark, path)
    t.renameColumn("v", "v2") // physNames non-identity: no native capability
    kv(200 to 204).withColumn("p", lit(0L))
      .select(col("k"), col("v").as("v2"), col("p"))
      .writeTo("graft_test.dynren").overwritePartitions()
    assert(t.history().last.operation === "replaceWhere",
      "renamed snapshot must route through the rewrite fallback")
    val rows = spark.table("graft_test.dynren").select("k", "p").as[(Long, Long)].collect()
    assert(rows.count(_._2 == 0) === 5)
    assert(rows.count(_._2 == 1) === 20)
  }

  test("untranslatable overwrite filters are rejected at analysis (canOverwrite)") {
    warehouse
    kv(1 to 10).writeTo("graft_test.rwbad").create()
    val e = intercept[Exception] {
      kv(1 to 5).writeTo("graft_test.rwbad")
        .overwrite(substring(col("k").cast("string"), 1, 1) === "1")
    }
    // clear analysis-time rejection, not a V2Writes internal error
    assert(e.getMessage != null)
  }

  test("table lifecycle: exists, list, rename, drop") {
    warehouse
    kv(1 to 5).writeTo("graft_test.lc1").create()
    assert(spark.sql("SHOW TABLES IN graft_test").collect()
      .exists(_.getString(1) == "lc1"))
    // the RENAME TO target resolves inside the table's catalog — an
    // unqualified name stays in the same (root) namespace
    spark.sql("ALTER TABLE graft_test.lc1 RENAME TO lc2")
    assert(spark.table("graft_test.lc2").count() === 5)
    spark.sql("DROP TABLE graft_test.lc2")
    assert(!spark.sql("SHOW TABLES IN graft_test").collect()
      .exists(_.getString(1) == "lc2"))
  }
}
