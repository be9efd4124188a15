package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** The Catalyst-integrated scan path (graft.lake.LakeFileIndex):
  * a plain `.filter()` on `LakeTable.scan()` must prune
  * non-overlapping files via manifest stats inside the planner,
  * conservatively (unsupported predicates keep every file) and
  * exactly (the residual filter restores row-level precision).
  */
class LakeFileIndexSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_lfi_$tag").toFile
    d.deleteOnExit()
    new File(d, "t").getAbsolutePath
  }

  /** 4 range-clustered files over k = 1..400 (1..100, 101..200, ...). */
  private def clustered(tag: String): LakeTable = {
    val path = freshDir(tag)
    val df = (1 to 400).toDF("k")
      .select(col("k").cast("long").as("k"), (col("k") % 7).as("v"))
      .repartitionByRange(4, col("k"))
    LakeTable.create(spark, path, df, Seq("k"))
  }

  private def filesOpened(df: DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  test("scan() content equals read() on a multi-file table") {
    val t = clustered("content")
    assert(t.scan().as[(Long, Long)].collect().sorted.toSeq ==
      t.read().as[(Long, Long)].collect().sorted.toSeq)
  }

  test("range filter on the stats column opens only overlapping files") {
    val t = clustered("range")
    assert(filesOpened(t.scan()) == 4)
    val q = t.scan().filter(col("k").between(120L, 180L))
    assert(filesOpened(q) == 1)
    assert(q.count() == 61)
    // exactness mid-file: the residual filter still applies row-level
    assert(q.agg(sum("k")).head().getLong(0) == (120L to 180L).sum)
  }

  test("point and IN filters prune; strict bounds stay exact") {
    val t = clustered("point")
    assert(filesOpened(t.scan().filter(col("k") === 250L)) == 1)
    assert(t.scan().filter(col("k") === 250L).count() == 1)
    assert(filesOpened(t.scan().filter(col("k").isin(5L, 42L, 99L))) == 1)
    val strict = t.scan().filter(col("k") > 300L)
    assert(filesOpened(strict) == 1)
    assert(strict.count() == 100)
    assert(t.scan().filter(col("k") > 300L && col("k") < 302L)
      .as[(Long, Long)].collect().map(_._1).toSeq == Seq(301L))
  }

  test("filters on non-stats columns are conservative (open all files)") {
    val t = clustered("nonstats")
    val q = t.scan().filter(col("v") === 3L)
    assert(filesOpened(q) == 4)
    assert(q.count() == (1 to 400).count(_ % 7 == 3))
    // OR across the stats column: no single conjunct bound → all files
    val or = t.scan().filter(col("k") < 10L || col("k") > 390L)
    assert(or.count() == 19)
  }

  test("predicates still reach the parquet reader (row-group pushdown)") {
    val t = clustered("pushdown")
    val plan = t.scan().filter(col("k") > 300L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(k,300)"),
      s"expected parquet pushdown in plan:\n$plan")
  }

  test("scanVersion time-travels and prunes per-version manifests") {
    val t = clustered("tt")
    t.deleteWhere(col("k").between(101L, 200L))
    // v1: four files, the deleted range still present
    assert(t.scanVersion(1).filter(col("k").between(120L, 180L)).count() == 61)
    assert(filesOpened(t.scanVersion(1).filter(col("k").between(120L, 180L))) == 1)
    // v2: that file is gone from the manifest entirely
    assert(t.scan().filter(col("k").between(120L, 180L)).count() == 0)
    assert(t.scan().count() == 300)
  }

  test("format(\"graft.lake\") reads the same relation, pruning included") {
    val t = clustered("fmt")
    t.deleteWhere(col("k").between(101L, 200L))
    val cur = spark.read.format("graft.lake").load(t.path)
    assert(cur.count() == 300)
    // pruning applies to format-string readers too
    assert(filesOpened(cur.filter(col("k") <= 100L)) == 1)
    // version option = time travel
    val v1 = spark.read.format("graft.lake").option("version", "1").load(t.path)
    assert(v1.count() == 400)
    assert(v1.filter(col("k").between(120L, 180L)).count() == 61)
  }

  test("write.format(\"graft.lake\") creates, appends, and overwrites") {
    val path = freshDir("wfmt") + "/t"
    def df(r: Range, tag: String) = r.toDF("k")
      .select(col("k").cast("long").as("k"), lit(tag).as("v"))
    df(1 to 50, "a").write.format("graft.lake")
      .option("statsCols", "k").save(path)
    df(51 to 80, "b").write.format("graft.lake").mode("append").save(path)
    val t = LakeTable.forPath(spark, path)
    assert(t.currentVersion == 2)
    assert(t.read().count() == 80)
    // stats recorded via the option → pruning works on the scan
    t.append(df(1000 to 1100, "c").coalesce(1))
    assert(filesOpened(t.scan().filter(col("k") >= 1000L)) <
      filesOpened(t.scan()))
    df(1 to 5, "d").write.format("graft.lake").mode("overwrite").save(path)
    assert(LakeTable.forPath(spark, path).read().count() == 5)
    intercept[IllegalStateException] {
      df(1 to 5, "e").write.format("graft.lake")
        .mode("errorifexists").save(path)
    }
  }

  test("appendStream skips replayed batch ids, even after later commits") {
    val path = freshDir("txn") + "/t"
    def df(r: Range) = r.toDF("k").select(col("k").cast("long").as("k"))
    val t = LakeTable.create(spark, path, df(1 to 10).coalesce(1), Seq("k"))
    assert(t.lastStreamBatchId("qA") == -1L)
    t.appendStream(df(11 to 20).coalesce(1), "qA", 0L)
    t.appendStream(df(21 to 30).coalesce(1), "qA", 1L)
    assert(t.currentVersion == 3 && t.read().count() == 30)
    assert(t.lastStreamBatchId("qA") == 1L)
    // replay of batch 1 (recomputed, even different data): skipped
    t.appendStream(df(21 to 35).coalesce(1), "qA", 1L)
    assert(t.currentVersion == 3 && t.read().count() == 30)
    // a batch id REGRESSING below the ledger can only mean a fresh
    // checkpoint restarted ids under the same appId — fail loudly
    // instead of silently dropping data
    intercept[IllegalArgumentException] {
      t.appendStream(df(999 to 999).coalesce(1), "qA", 0L)
    }
    assert(t.currentVersion == 3 && t.read().count() == 30)
    // the txn ledger survives interleaved BATCH commits
    t.append(df(31 to 40).coalesce(1))
    t.appendStream(df(41 to 45).coalesce(1), "qA", 1L) // still a replay
    assert(t.currentVersion == 4 && t.read().count() == 40)
    t.appendStream(df(41 to 45).coalesce(1), "qA", 2L) // fresh id: lands
    assert(t.currentVersion == 5 && t.read().count() == 45)
    // skipped replays leave no orphan data files behind
    val onDisk = new File(path).list((_, n) => n.endsWith(".parquet")).toSet
    assert(onDisk == t.fileNames(t.currentVersion).toSet)
  }

  test("appendStream ledgers are per-app: two queries never skip each other") {
    val path = freshDir("txn2") + "/t"
    def df(r: Range) = r.toDF("k").select(col("k").cast("long").as("k"))
    val t = LakeTable.create(spark, path, df(1 to 10).coalesce(1), Seq("k"))
    // query A commits batches 0..2, then query B starts at ITS batch 0:
    // under a global ledger B's batches 0..2 would all be dropped
    t.appendStream(df(11 to 15).coalesce(1), "qA", 0L)
    t.appendStream(df(16 to 20).coalesce(1), "qA", 1L)
    t.appendStream(df(21 to 25).coalesce(1), "qA", 2L)
    t.appendStream(df(26 to 30).coalesce(1), "qB", 0L)
    t.appendStream(df(31 to 35).coalesce(1), "qB", 1L)
    assert(t.read().count() == 35)
    assert(t.lastStreamBatchId("qA") == 2L && t.lastStreamBatchId("qB") == 1L)
    // each replays its own last batch: both skipped, independently
    val v = t.currentVersion
    t.appendStream(df(900 to 910).coalesce(1), "qA", 2L)
    t.appendStream(df(900 to 910).coalesce(1), "qB", 1L)
    assert(t.currentVersion == v && t.read().count() == 35)
    // the ledger survives a reopen (it is manifest state, not memory)
    val t2 = LakeTable.forPath(spark, path)
    assert(t2.lastStreamBatchId("qA") == 2L && t2.lastStreamBatchId("qB") == 1L)
  }

  test("boundsOf resolves user predicates (deleteWhere's input)") {
    val df = clustered("bof").read()
    def b(c: org.apache.spark.sql.Column) =
      graft.lake.LakeTestAccess.boundsOf(df, c, Set("k"))
    assert(b(col("k") <= 10L) == Map("k" -> (Long.MinValue, 10L)))
    // Int literal against a long column: the analyzer's coercion cast
    // around the literal must fold
    assert(b(col("k") <= 10) == Map("k" -> (Long.MinValue, 10L)))
    assert(b(col("k") % 10 === 0 && col("k") >= 5L) ==
      Map("k" -> (5L, Long.MaxValue)))
    assert(b(col("k").between(3L, 7L)) == Map("k" -> (3L, 7L)))
    // OR, non-stats columns: no bound (conservative)
    assert(b(col("k") < 10L || col("k") > 20L).isEmpty)
    assert(b(col("v") === 1L).isEmpty)
    // contradictory conjuncts give an empty range (lo > hi): prunes all
    val contradiction = b(col("k") > 10L && col("k") < 5L)("k")
    assert(contradiction._1 > contradiction._2)
    // WIDENING casts strip (exact on the long stats); NARROWING casts
    // must NOT — CAST(longCol AS INT) wraps on overflow, so a row far
    // outside the derived bound can still satisfy the predicate
    val mixed = Seq((5, 5L)).toDF("i", "k")
    def bm(c: org.apache.spark.sql.Column) =
      graft.lake.LakeTestAccess.boundsOf(mixed, c, Set("i", "k"))
    assert(bm(col("i").cast("long") <= 10L) == Map("i" -> (Long.MinValue, 10L)))
    assert(bm(col("k").cast("int") <= 10).isEmpty,
      "narrowing cast must not contribute a bound")
  }

  test("narrowing-cast predicate does not mis-prune a wrapping row") {
    val path = freshDir("narrow")
    val wrap = (1L << 32) + 5L // casts to INT as 5 under legacy wrap
    val df = Seq(5L, 1000L, wrap).toDF("k")
      .repartitionByRange(3, col("k")) // one value per file
    val t = LakeTable.create(spark, path, df, Seq("k"))
    // legacy (non-ANSI) cast wraps instead of throwing — the silent-
    // wrong-results shape the stats pruning must stay conservative for
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val got = t.scan().filter(col("k").cast("int") < 10)
        .as[Long].collect().toSet
      assert(got == Set(5L, wrap),
        s"the wrapping row must survive file pruning, got $got")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("zorderCompact stays correct and clustering-effective on a full-long-span column") {
    val path = freshDir("zwide")
    val step = Long.MaxValue / 2048
    val df = (0 until 2048).toDF("i")
      .select((col("i").cast("long") * step - lit(Long.MaxValue / 2)).as("k"))
      .repartition(4)
    val t = LakeTable.create(spark, path, df, Seq("k"))
    t.zorderCompact(128, Seq("k")) // 16 files over a ~2^63 span
    val nFiles = t.fileNames(t.currentVersion).size
    assert(nFiles >= 8)
    // content identical
    assert(t.read().as[Long].collect().sorted.toSeq ==
      (0 until 2048).map(i => i * step - Long.MaxValue / 2).sorted)
    // and the layout actually clusters: a narrow range opens few files
    // (the pre-fix long overflow garbled z into noise → every file
    // spanned everything and pruning opened all of them)
    val lo = -Long.MaxValue / 2
    val opened = t.prunedRead("k", lo, lo + 100 * step).inputFiles.length
    assert(opened <= nFiles / 4,
      s"wide-span zorder should prune: opened $opened of $nFiles")
  }

  test("deleteWhere stays exact for predicates pruning can't bound") {
    val t = clustered("delor")
    // OR predicate: probe falls back to all files, result still exact
    t.deleteWhere(col("k") < 10L || col("k") > 390L)
    assert(t.read().count() == 400 - 19)
    // bounds that miss every file: version unchanged
    val v = t.currentVersion
    assert(t.deleteWhere(col("k") > 10000L) == v)
    // non-stats predicate: conservative probe, exact delete
    t.deleteWhere(col("v") === 3L)
    assert(t.read().count() ==
      (10 to 390).count(k => k % 7 != 3))
  }

  test("zorderCompact prunes range reads on BOTH columns; 1-D doesn't") {
    // grid data: a and b independent, so range-clustering by a gives
    // ZERO locality on b
    def grid(tag: String): LakeTable = {
      val path = freshDir(tag) + "/t"
      val df = (0 until 4096).toDF("i").select(
        (col("i") / 64).cast("long").as("a"),
        (col("i") % 64).cast("long").as("b"))
      LakeTable.create(spark, path, df.repartition(16), Seq("a", "b"))
    }
    def opened(df: DataFrame): Long =
      df.select(input_file_name()).distinct().count()

    val oneD = grid("zorder1d")
    oneD.compact(Long.MaxValue, 4096 / 16 + 1, clusterBy = Seq("a"))
    val zed = grid("zorder2d")
    zed.zorderCompact(4096 / 16 + 1, Seq("a", "b"))
    val nFiles1 = opened(oneD.scan())
    val nFilesZ = opened(zed.scan())
    assert(nFiles1 >= 8 && nFilesZ >= 8)
    // leading column: both prune well
    assert(opened(oneD.scan().filter(col("a").between(10L, 13L))) <= 2)
    assert(opened(zed.scan().filter(col("a").between(10L, 13L))) < nFilesZ / 2)
    // second column: range clustering opens EVERYTHING, zorder prunes
    val q = (t: LakeTable) => t.scan().filter(col("b").between(10L, 13L))
    assert(opened(q(oneD)) == nFiles1)
    assert(opened(q(zed)) < nFilesZ / 2,
      s"zorder should prune on b: opened ${opened(q(zed))} of $nFilesZ")
    // content identical to pre-zorder data
    assert(zed.scan().count() == 4096)
    assert(zed.scan().agg(sum(col("a") * 64 + col("b"))).head().getLong(0) ==
      (0L until 4096L).sum)
    // point read on the 2-D combination: a handful of files
    assert(opened(zed.scan().filter(col("a") === 5L && col("b") === 5L)) <= 2)
  }

  test("CREATE TABLE ... USING graft.lake exposes the table to SQL") {
    val t = clustered("sqlddl")
    t.deleteWhere(col("k").between(101L, 200L))
    spark.sql(s"""CREATE TABLE lake_sql_ddl USING graft.lake
      OPTIONS (path '${t.path}')""")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM lake_sql_ddl")
        .head().getLong(0) == 300)
      // pruning applies through the SQL surface too
      val q = spark.sql("SELECT sum(k) AS s FROM lake_sql_ddl WHERE k <= 100")
      assert(q.head().getLong(0) == (1L to 100L).sum)
      assert(filesOpened(
        spark.table("lake_sql_ddl").filter(col("k") <= 100L)) == 1)
    } finally spark.sql("DROP TABLE IF EXISTS lake_sql_ddl")
  }

  test("raced duplicates of one streaming batch: exactly one commits") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("race") + "/t"
    def df(r: Range, tag: String) = r.toDF("k")
      .select(col("k").cast("long").as("k"), lit(tag).as("v"))
    val t = LakeTable.create(spark, path, df(1 to 10, "base").coalesce(1), Seq("k"))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val writers = (1 to 4).map { i =>
      Future {
        gate.await()
        t.appendStream(df(100 to 120, s"w$i").coalesce(1), "race", 0L)
      }
    }
    gate.countDown()
    Await.result(Future.sequence(writers), 120.seconds)
    // exactly one of the four landed batch 0
    assert(t.currentVersion == 2)
    assert(t.read().count() == 31)
    assert(t.lastStreamBatchId("race") == 0L)
    // and the losers' staged files were cleaned up
    val onDisk = new File(path).list((_, n) => n.endsWith(".parquet")).toSet
    assert(onDisk == t.fileNames(2).toSet)
  }

  test("merge with a delete arm: update, delete, insert, unmatched-delete-inserts") {
    val path = freshDir("mgdel") + "/t"
    def df(rows: Seq[(Long, String)]) =
      rows.toDF("k", "v")
    val t = LakeTable.create(spark, path,
      df((1L to 10L).map(k => k -> s"base$k")).coalesce(1), Seq("k"))
    val src = df(Seq(
      2L -> "upd",      // matched, no delete arm → replaced
      4L -> "DEL",      // matched + delete arm → row 4 vanishes
      20L -> "ins",     // unmatched, no delete arm → inserted
      21L -> "DEL"))    // unmatched + delete arm → falls through to INSERT
      .coalesce(1)
    t.merge(src, "k", Some(col("v") === "DEL"))
    val out = t.read().as[(Long, String)].collect().toMap
    assert(out.size == 11) // 10 - 1 deleted + 2 inserted
    assert(out(2L) == "upd")
    assert(!out.contains(4L))
    assert(out(20L) == "ins")
    // SQL MERGE scopes WHEN MATCHED ... DELETE to matched rows; the
    // unmatched delete-arm row reaches WHEN NOT MATCHED THEN INSERT
    assert(out(21L) == "DEL")
    assert(out(3L) == "base3")
    // a NULL delete condition is NOT the delete arm (SQL MERGE treats
    // NULL as false): the matched row must be UPDATED, not deleted
    t.merge(df(Seq(6L -> null)).coalesce(1), "k",
      Some(col("v") === "DEL"))
    val out2 = t.read().as[(Long, String)].collect().toMap
    assert(out2.contains(6L) && out2(6L) == null,
      s"NULL-cond matched row must survive as an update, got ${out2.get(6L)}")
    // and a NULL-cond UNMATCHED row is inserted, not swallowed
    t.merge(df(Seq(30L -> null)).coalesce(1), "k",
      Some(col("v") === "DEL"))
    assert(t.read().filter(col("k") === 30L).count() == 1)
    // plain upsert unchanged through the overload
    t.merge(df(Seq(5L -> "up2")).coalesce(1), "k")
    assert(t.read().count() == 12)
  }

  test("sizeInBytes comes from manifest-recorded file sizes") {
    val t = clustered("bytes")
    val fromDisk = t.fileNames(1)
      .map(n => new File(new File(t.path), n).length()).sum
    assert(fromDisk > 0)
    // the scan's FileIndex reports exactly the manifest-recorded sizes
    assert(graft.lake.LakeTestAccess.indexSizeInBytes(spark, t, 1) == fromDisk)
  }

  /** 4 files range-clustered on a STRING id: ids "id000".."id399". */
  private def strClustered(tag: String): LakeTable = {
    val path = freshDir(tag)
    val df = (0 until 400).toDF("i")
      .select(format_string("id%03d", col("i")).as("id"),
        col("i").cast("long").as("v"))
      .repartitionByRange(4, col("id"))
    LakeTable.create(spark, path, df, Seq("id"))
  }

  test("string stats prune equality, range, IN, and prefix filters") {
    val t = strClustered("sprune")
    assert(filesOpened(t.scan()) == 4)
    // equality: one file
    val eq = t.scan().filter(col("id") === "id250")
    assert(filesOpened(eq) == 1 && eq.count() == 1)
    // range: the 120..180 band sits in one file
    val rg = t.scan().filter(col("id") >= "id120" && col("id") <= "id180")
    assert(filesOpened(rg) == 1 && rg.count() == 61)
    // IN: all three in the first file
    assert(filesOpened(t.scan().filter(
      col("id").isin("id005", "id042", "id099"))) == 1)
    // prefix (LIKE 'id3%'): only the last file holds id300..id399
    val pre = t.scan().filter(col("id").startsWith("id3"))
    assert(filesOpened(pre) == 1 && pre.count() == 100)
    // non-stats predicates stay conservative and exact
    assert(t.scan().filter(upper(col("id")) === "ID250").count() == 1)
  }

  test("string stats truncate long values without losing rows") {
    val path = freshDir("strunc")
    // values share a >64-char prefix and differ only at the tail, so the
    // truncated [min, bumped-max] must still cover every row
    val long0 = "x" * 80
    val df = (0 until 100).toDF("i")
      .select(concat(lit(long0), format_string("%03d", col("i"))).as("id"),
        col("i").cast("long").as("v"))
    val t = LakeTable.create(spark, path, df.coalesce(1), Seq("id"))
    assert(t.scan().filter(col("id") === (long0 + "050")).count() == 1)
    assert(t.scan().filter(col("id").startsWith(long0)).count() == 100)
    // a probe past the bumped max opens nothing
    assert(filesOpened(t.scan().filter(col("id") > ("y" * 80))) == 0)
    // the manifest line itself stays bounded (no untruncated 83-char values)
    val manifestText = Files.readString(
      new File(new File(t.path, "_graft_log"), "v00000001.manifest").toPath)
    assert(!manifestText.contains(long0 + "0"),
      "manifest must carry truncated string stats")
  }

  test("truncMin/truncMax/prefixUpper bound correctly in UTF-8 order") {
    import graft.lake.LakeTestAccess.{strTruncMin, strTruncMax, strPrefixUpper}
    assert(strTruncMin("short") == "short")
    assert(strTruncMax("short") == Some("short"))
    val long = "a" * 70
    assert(strTruncMin(long) == "a" * 64)
    assert(strTruncMax(long) == Some("a" * 63 + "b"))
    assert(strPrefixUpper("src1") == Some("src2"))
    // a non-BMP suffix (surrogate pair) must not get bumped into an
    // invalid string: the bump lands on the last safe char before it
    val emoji = "ab" + new String(Character.toChars(0x1F600))
    val bumped = strPrefixUpper(emoji).get
    assert(bumped == "ac", s"expected the safe bump, got $bumped")
  }

  test("partitioned table: files split per value; filters prune to the partition") {
    val path = freshDir("part")
    val df = (1 to 300).toDF("i").select(col("i").cast("long").as("k"),
      (col("i") % 3).cast("string").as("p"))
    val t = LakeTable.create(spark, path, df.coalesce(1), Seq("k"), Seq("p"))
    // one input task x 3 partition values = 3 files, one per value
    assert(t.fileNames(1).size == 3)
    val q = t.scan().filter(col("p") === "1")
    assert(filesOpened(q) == 1 && q.count() == 100)
    // partition columns are stored IN the data files: plain reads work
    assert(t.read().columns.toSeq == Seq("k", "p"))
    assert(t.read().count() == 300)
    // appends keep the layout: the appended slice lands in its own
    // per-value file and the partition filter opens old + new only
    t.append(df.filter(col("p") === "2").coalesce(1))
    assert(filesOpened(t.scan().filter(col("p") === "2")) == 2)
    assert(filesOpened(t.scan().filter(col("p") === "1")) == 1)
    // stats pruning composes on top within a partition
    assert(t.scan().filter(col("p") === "1" && col("k") === 10L).count() == 1)
  }

  test("setPartitionBy evolves the spec for future writes only (metadata-only)") {
    val path = freshDir("partevo")
    val df = (1 to 300).toDF("i").select(col("i").cast("long").as("k"),
      (col("i") % 3).cast("string").as("p"))
    // starts unpartitioned: one file
    val t = LakeTable.create(spark, path, df.coalesce(1), Seq("k"))
    assert(t.fileNames(t.currentVersion).size == 1)
    val v = t.setPartitionBy(Seq("p"))
    // metadata-only: same files, one new manifest
    assert(t.fileNames(v).size == 1)
    // future appends split per partition value and prune
    t.append(df.coalesce(1))
    assert(t.fileNames(t.currentVersion).size == 4) // 1 old + 3 per-value
    val q = t.scan().filter(col("p") === "1")
    // opens the old (unsplit, conservative) file + the p=1 file only
    assert(filesOpened(q) == 2 && q.count() == 200)
    assert(t.read().count() == 600)
    // back to unpartitioned: also metadata-only
    t.setPartitionBy(Nil)
    t.append(df.limit(5).coalesce(1))
    assert(t.read().count() == 605)
  }

  test("partitioned table: NULL partition values stay readable, unpruned") {
    val path = freshDir("partnull")
    val dfn = Seq((1L, "a"), (2L, null)).toDF("k", "p")
    val t = LakeTable.create(spark, path, dfn.coalesce(1), Seq("k"), Seq("p"))
    assert(t.fileNames(1).size == 2)
    assert(t.read().count() == 2)
    assert(t.read().filter(col("p").isNull).select("k").as[Long].head() == 2L)
    assert(t.scan().filter(col("p") === "a").count() == 1)
  }

  test("renameColumn: metadata-only, reads old+new files, keeps pruning") {
    val t = clustered("ren") // 4 files over k, stats on k
    val physBefore = new File(t.path).list((_, n) =>
      n.startsWith("part-") && n.endsWith(".parquet")).toSet
    t.renameColumn("k", "id")
    // zero data movement: same physical files, one new manifest
    assert(new File(t.path).list((_, n) =>
      n.startsWith("part-") && n.endsWith(".parquet")).toSet == physBefore)
    assert(t.read().columns.toSeq == Seq("id", "v"))
    assert(t.read().agg(sum(col("id"))).head().getLong(0) == (1L to 400L).sum)
    // stats pruning rides the physical mapping: a filter on the NEW
    // name still opens 1 of 4 files
    assert(filesOpened(t.scan().filter(col("id").between(120L, 180L))) == 1)
    // time travel to the pre-rename version keeps the OLD name
    assert(t.readVersion(t.currentVersion - 1).columns.toSeq == Seq("k", "v"))
    // writes after the rename use the new logical name and mix with old
    // files transparently (same physical name under the hood)
    t.append((401 to 410).toDF("i")
      .select(col("i").cast("long").as("id"), lit(0).as("v")).coalesce(1))
    assert(t.read().count() == 410)
    assert(t.scan().filter(col("id") > 400L).count() == 10)
    // mutations under the new name: merge prunes, delete rewrites
    t.merge(Seq((5L, 99)).toDF("id", "v").coalesce(1), "id")
    assert(t.read().filter(col("id") === 5L).select("v").as[Long].head() == 99L)
    t.deleteWhere(col("id") > 400L)
    assert(t.read().count() == 400)
    // rename again (chains compose onto the original physical name)
    t.renameColumn("id", "key")
    assert(t.read().columns.toSeq == Seq("key", "v"))
    assert(filesOpened(t.scan().filter(col("key").between(120L, 180L))) == 1)
  }

  test("renameColumn guards: checks must migrate; new-column collisions rejected") {
    val t = clustered("renguard")
    t.addCheck("k_pos", "k > 0")
    val e = intercept[IllegalArgumentException] { t.renameColumn("k", "id") }
    assert(e.getMessage.contains("k_pos"))
    t.dropCheck("k_pos")
    t.renameColumn("k", "id")
    // constraints added under the new name enforce on appends
    t.addCheck("id_pos", "id > 0")
    intercept[graft.lake.CheckViolationException] {
      t.append(Seq((-1L, 0)).toDF("id", "v"))
    }
    // a NEW column named like the retired physical name would silently
    // alias the renamed column's storage — rejected with a clear error
    val e2 = intercept[IllegalArgumentException] {
      t.appendEvolve(Seq((500L, 0, "x")).toDF("id", "v", "k"))
    }
    assert(e2.getMessage.contains("physical"))
    // an unrelated new column evolves fine post-rename
    t.appendEvolve(Seq((500L, 0, "x")).toDF("id", "v", "tag").coalesce(1))
    assert(t.read().filter(col("tag").isNotNull).count() == 1)
    assert(t.read().filter(col("id") === 500L).count() == 1)
  }

  test("zorderCompact clusters STRING columns too (order-preserving encode)") {
    val path = freshDir("zstr")
    val df = (0 until 400).toDF("i").select(
      format_string("u%03d", col("i") % 20).as("uid"),
      col("i").cast("long").as("k"))
    val t = LakeTable.create(spark, path, df.repartition(4), Seq("uid", "k"))
    // hash layout: a uid point read opens all 4 files
    assert(filesOpened(t.scan().filter(col("uid") === "u005")) == 4)
    t.zorderCompact(100, Seq("uid", "k"))
    // content identical, and the string-stats [min,max] of the z-laid
    // files prune BOTH a uid point read and a k range read
    assert(t.read().count() == 400)
    assert(t.scan().agg(sum(col("k"))).head().getLong(0) == (0L until 400L).sum)
    val nAll = filesOpened(t.scan())
    assert(filesOpened(t.scan().filter(col("uid") === "u005")) < nAll)
    assert(filesOpened(t.scan().filter(col("k") < 100L)) < nAll)
  }

  test("bucketed lake tables join WITHOUT a shuffle; content stays exact") {
    def mk(tag: String, r: Range, vTag: String): LakeTable = {
      val path = freshDir(tag)
      val df = r.toDF("i").select(col("i").cast("long").as("k"),
        concat(lit(vTag), col("i")).as("v"))
      LakeTable.create(spark, path, df, Seq("k"), Nil, Seq("k"), 8)
    }
    val a = mk("bkta", 1 to 400, "a")
    val b = mk("bktb", 201 to 600, "b")
    val joined = a.scan().join(b.scan().hint("merge"), "k")
    val got = joined.agg(count(lit(1)), sum(col("k"))).head()
    assert(got.getLong(0) == 200 && got.getLong(1) == (201L to 400L).sum)
    // the whole point: the join engages the bucketed scans (a bare scan
    // rightly reports "disabled by query planner" — no distribution
    // need) and plans NO exchange on either side
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"join must engage the bucketed scan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"equal-bucketed join must not shuffle:\n$plan")
    // appends keep the layout (multiple files per bucket are grouped)
    a.append((401 to 450).toDF("i").select(col("i").cast("long").as("k"),
      concat(lit("a"), col("i")).as("v")))
    val joined2 = a.scan().join(b.scan().hint("merge"), "k")
    assert(joined2.count() == 250)
    assert(!joined2.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
    // content parity with a plain read
    assert(a.scan().count() == a.read().count())
    // mis-use guards
    intercept[IllegalArgumentException] { a.zorderCompact(100, Seq("k")) }
  }

  test("renameColumn remaps bucketBy; overwrite requires bucket columns") {
    def kv(r: Range, c1: String, c2: String) = r.toDF("i")
      .select(col("i").cast("long").as(c1), col("i").cast("string").as(c2))
    val t = LakeTable.create(spark, freshDir("bktren"),
      kv(1 to 400, "k", "v"), Seq("k"), Nil, Seq("k"), 8)
    t.renameColumn("k", "id")
    // post-rename writes still bucket by the renamed column (physical k)
    t.append(kv(401 to 450, "id", "v"))
    // the dangerous case: rename ANOTHER column INTO the freed name "k".
    // With a stale bucketBy=["k"], physOf("k") would now resolve to v's
    // physical name — new files would silently bucket by the WRONG
    // column while the scan still advertises the BucketSpec. The remap
    // keeps bucketBy=["id"] → physical k, consistently.
    t.renameColumn("v", "k")
    t.append(kv(451 to 500, "id", "k"))
    val b = LakeTable.create(spark, freshDir("bktren2"),
      kv(201 to 600, "id", "k"), Seq("id"), Nil, Seq("id"), 8)
    val joined = t.scan().join(b.scan().hint("merge"), "id")
    val got = joined.agg(count(lit(1)), sum(col("id"))).head()
    assert(got.getLong(0) == 300 && got.getLong(1) == (201L to 500L).sum,
      "bucket-colocated join must stay correct across renames")
    assert(!joined.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
    // overwrite missing the bucket column fails up-front and actionably
    // (not an opaque AnalysisException from inside staging)
    val e = intercept[IllegalArgumentException] {
      t.overwrite(kv(1 to 10, "x", "k")) // missing bucket column id
    }
    assert(e.getMessage.contains("bucket"))
  }

  test("streaming appends preserve the partition layout (per-value files)") {
    val path = freshDir("partstream")
    val df = (1 to 90).toDF("i").select(col("i").cast("long").as("k"),
      (col("i") % 3).cast("string").as("p"))
    val t = LakeTable.create(spark, path, df.coalesce(1), Seq("k"), Seq("p"))
    assert(t.fileNames(1).size == 3)
    // the exactly-once streaming sink stages through the same layout
    t.appendStream(df.filter(col("p") =!= "2").coalesce(1), "q", 0L)
    assert(t.fileNames(t.currentVersion).size == 5) // +2 per-value files
    assert(filesOpened(t.scan().filter(col("p") === "2")) == 1)
    assert(filesOpened(t.scan().filter(col("p") === "1")) == 2)
    assert(t.read().count() == 150)
    // replay skipped, no layout disturbance
    t.appendStream(df.filter(col("p") =!= "2").coalesce(1), "q", 0L)
    assert(t.fileNames(t.currentVersion).size == 5)
  }

  test("a DV-masked bucketed join is still exchange-free on the fact side") {
    val path = freshDir("bktdv")
    def df(r: Range) = r.toDF("i").select(col("i").cast("long").as("k"),
      (col("i") % 7).cast("long").as("v"))
    val a = LakeTable.create(spark, path, df(1 to 400), Seq("k"), Nil, Seq("k"), 8)
    val b = LakeTable.create(spark, freshDir("bktdv2"), df(201 to 600),
      Seq("k"), Nil, Seq("k"), 8)
    a.deleteWhereMoR(col("k") % 10 === 0) // a now carries a DV sidecar
    val joined = a.scan().join(b.scan().hint("merge"), "k")
    // masked keys vanish from the join; the broadcast LeftAnti DV mask
    // preserves the streamed side's bucket partitioning, so the
    // bucket-colocated join still plans with no hash exchange
    assert(joined.count() == 200 - 20)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"DV mask must not reintroduce a shuffle:\n$plan")
  }

  test("merge prunes candidate files by STRING key stats") {
    val t = strClustered("smerge")
    val before = t.fileNames(t.currentVersion).toSet
    // all update keys live in the first file (id000..id099)
    val updates = (0 until 100 by 10).toDF("i")
      .select(format_string("id%03d", col("i")).as("id"), lit(-1L).as("v"))
    t.merge(updates.coalesce(1), "id")
    val after = t.fileNames(t.currentVersion).toSet
    // the three untouched files carry over by reference
    assert((before intersect after).size == 3,
      s"expected 3 files carried by reference, got ${(before intersect after).size}")
    assert(t.read().filter(col("v") === -1L).count() == 10)
    assert(t.read().count() == 400)
  }

  test("a NULL appended into a column created NOT NULL stays visible to null filters") {
    val t = LakeTable.create(spark, freshDir("nullable"), spark.range(3).toDF("k"), Seq("k"))
    t.append(Seq(Some(5L), None).toDF("k")) // same name and type: accepted
    assert(t.read().filter(col("k").isNull).count() == 1)
    assert(t.scan().filter(col("k").isNull).count() == 1)
  }

  test("every read of table data plans through LakeFileIndex") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val path = freshDir("onereader")
    val seed = (1 to 200).toDF("i").select(col("i").cast("long").as("k"),
      (col("i") % 7).cast("long").as("v"), format_string("s%03d", col("i")).as("s"))
    val t = LakeTable.create(spark, path,
      seed.filter(col("k") <= 100L).coalesce(1), Seq("k"))
    t.append(seed.filter(col("k") > 100L).coalesce(1))
    t.renameColumn("v", "w") // files keep the physical name v
    val vRenamed = t.currentVersion
    t.deleteWhereMoR(col("k") % 5 === 0L) // a DV on both files
    val vMasked = t.currentVersion

    // every executed query's plan, from the listener; a marker query
    // run after each call shows that all of its events were delivered
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    object walk extends AdaptiveSparkPlanHelper
    // file scans, including those inside a cached relation's plan
    def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
      walk.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => Seq(s)
        case c: InMemoryTableScanExec => fileScans(c.relation.cachedPlan)
      }.flatten
    def tableScans(qe: QueryExecution): Seq[FileSourceScanExec] =
      fileScans(qe.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(path)))
    var marker = 0
    def scansOf(op: => Unit): Seq[FileSourceScanExec] = {
      seen.clear()
      op
      marker += 1
      val tag = s"graft_marker_$marker"
      spark.range(1).select(col("id").as(tag)).collect()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(seen.toArray.exists(_.asInstanceOf[QueryExecution]
          .analyzed.output.exists(_.name == tag)))
      }
      seen.toArray.toSeq.map(_.asInstanceOf[QueryExecution]).flatMap(tableScans)
    }
    val updates = Seq((3L, 30L, "u003"), (250L, 1L, "u250")).toDF("k", "w", "s")
    spark.listenerManager.register(listener)
    try Seq[(String, () => Unit)](
      "read" -> (() => t.read().collect()),
      "readVersion" -> (() => t.readVersion(vRenamed).collect()),
      "prunedRead" -> (() => t.prunedRead("k", 1L, 50L).collect()),
      "readAppendsSince" -> (() => t.readAppendsSince(1).collect()),
      "changesBetween" -> (() => t.changesBetween(vRenamed, vMasked).collect()),
      "deleteWhere" -> (() => t.deleteWhere(col("k") === 7L)),
      "updateWhereMoR" -> (() => t.updateWhereMoR(col("k") === 11L, Map("w" -> lit(0L)))),
      "mergeGeneral" -> (() => t.mergeGeneral(Seq((13L, 99L)).toDF("_src_k", "_src_w"),
        col("k") === col("_src_k"),
        Seq(None -> graft.lake.MergeArm.Update(Map("w" -> col("_src_w")))), Nil, Nil)),
      "purgeDeletes" -> (() => t.purgeDeletes()),
      "merge" -> (() => t.merge(updates, "k")),
      "compact" -> { () => t.deleteWhereMoR(col("k") === 12L); t.compact(1000L, 1000L) },
      "addCheck" -> (() => t.addCheck("k_pos", "k > 0")),
      "buildBloomIndex" -> (() => t.buildBloomIndex(Seq("s")))
    ).foreach { case (name, op) =>
      val scans = scansOf(op())
      assert(scans.nonEmpty, s"$name ran no scan over the table's files")
      scans.foreach { s =>
        assert(s.relation.location.getClass.getName == "graft.lake.LakeFileIndex",
          s"$name scans table data through ${s.relation.location.getClass.getName}")
      }
    }
    finally spark.listenerManager.unregister(listener)
    // rows stay exact through the renamed, masked, rewritten history
    val live = (1L to 200L).filterNot(k => k % 5 == 0 || k == 7L || k == 12L) :+ 250L
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == live.sorted)
    assert(t.read().filter(col("k") === 3L).select("w", "s").as[(Long, String)]
      .collect().toSeq == Seq((30L, "u003")))
    assert(t.read().filter(col("k") === 13L).select("w", "s").as[(Long, String)]
      .collect().toSeq == Seq((99L, "s013")))
  }
}
