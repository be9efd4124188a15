package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{CheckViolationException, ConcurrentWriteConflictException,
  LakeTable}

/** A gate the first caller of [[DmlGate.pass]] blocks at until the test
  * opens it — orders a concurrent commit INSIDE a running lake write
  * without sleeps. A Scala object, so the executor-side UDF and the
  * test thread share it in local mode. Only the first caller blocks, so
  * the other task slots stay free for the interleaved commit's jobs.
  */
object DmlGate {
  @volatile private var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile private var gate = new java.util.concurrent.CountDownLatch(1)
  private val first = new java.util.concurrent.atomic.AtomicBoolean(false)

  def arm(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
    first.set(false)
  }

  def pass(): Unit =
    if (first.compareAndSet(false, true)) {
      entered.countDown()
      gate.await(120, java.util.concurrent.TimeUnit.SECONDS)
    }

  /** Wait until a caller is blocked at the gate (or `done` holds). */
  def awaitEntered(done: => Boolean): Unit =
    while (!entered.await(50, java.util.concurrent.TimeUnit.MILLISECONDS) && !done) ()

  def open(): Unit = gate.countDown()
}

/** Round-9 lake surface: merge-on-read DELETE via deletion-vector
  * files of per-file Roaring bitmaps (no data file rewritten; every
  * read path masks the recorded positions), RESTORE to a retained
  * version, and CHECK constraints validated per write delta.
  */
class LakeDvSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_ldv_$tag").toFile
    d.deleteOnExit()
    new File(d, "t").getAbsolutePath
  }

  private def kv(r: Range) = r.toDF("k")
    .select(col("k").cast("long").as("k"), (col("k") % 7).cast("long").as("v"))

  /** 4 range-clustered files over k = 1..400. */
  private def table(tag: String): LakeTable = {
    val path = freshDir(tag)
    LakeTable.create(spark, path,
      kv(1 to 400).repartitionByRange(4, col("k")), Seq("k"))
  }

  private def dataFiles(t: LakeTable): Set[String] =
    new File(t.path).list((_, n) =>
      n.startsWith("part-") && n.endsWith(".parquet")).toSet

  private def dvFiles(t: LakeTable): Set[String] =
    new File(t.path).list((_, n) => n.startsWith("dv-")).toSet

  test("MoR delete rewrites NO data file; all read paths mask the rows") {
    val t = table("mor")
    val physBefore = dataFiles(t)
    t.deleteWhereMoR(col("k") % 10 === 0)
    // zero copy-on-write: the data files on disk are byte-for-byte the
    // same set; only a dv sidecar appeared
    assert(dataFiles(t) == physBefore)
    assert(new File(t.path).list((_, n) => n.startsWith("dv-")).length == 1)
    val expect = (1L to 400L).filterNot(_ % 10 == 0)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == expect)
    assert(t.scan().select("k").as[Long].collect().sorted.toSeq == expect)
    assert(t.scan().filter(col("k") <= 100L).count() == 90)
    assert(t.prunedRead("k", 1, 100).count() == 90)
    // time travel still sees the pre-delete snapshot
    assert(t.readVersion(t.currentVersion - 1).count() == 400)
  }

  // AQE hides stage plans behind QueryStageExec nodes; unwrap them
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansOf(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scansOf(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scansOf)
  }

  /** Data files the executed plan actually opened (DV sidecars excluded). */
  private def opened(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // materialize so AQE finalizes and metrics land
    scansOf(df.queryExecution.executedPlan)
      .filter(!_.metadata.get("Location").exists(_.contains("dv-")))
      .map(_.metrics("numFiles").value).sum
  }

  test("DV overlay keeps pushed-filter file pruning in scan()") {
    val t = table("morp") // 4 range-clustered files
    t.deleteWhereMoR(col("k") % 10 === 0)
    // the filter must reach LakeFileIndex THROUGH the DV anti-join:
    // a k <= 100 point read opens 1 of 4 data files, not all of them
    val pruned = opened(t.scan().filter(col("k") <= 100L))
    val full = opened(t.scan())
    assert(full >= 4, s"expected >=4 data files in the full scan, got $full")
    assert(pruned <= 2, s"DV overlay broke file pruning: opened $pruned of $full")
  }

  test("MoR deletes stack; a fully-masked file drops out of the manifest") {
    val t = table("mor2")
    t.deleteWhereMoR(col("k") % 2 === 0)
    t.deleteWhereMoR(col("k") % 3 === 0)
    val expect = (1L to 400L).filter(k => k % 2 != 0 && k % 3 != 0)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == expect)
    // delete an entire file's range: its entry must vanish (not linger
    // as an all-masked husk), while the physical file stays until vacuum
    t.deleteWhereMoR(col("k") <= 100L)
    assert(t.fileNames(t.currentVersion).size == 3)
    assert(t.read().count() == expect.count(_ > 100))
    // a delete matching nothing commits nothing
    val v = t.currentVersion
    t.deleteWhereMoR(col("k") > 10000L)
    assert(t.currentVersion == v)
  }

  test("MoR + merge/compact/changes interop; vacuum keeps live sidecars") {
    val t = table("morx")
    val v1 = t.currentVersion
    t.deleteWhereMoR(col("k") % 10 === 0)
    val vDel = t.currentVersion
    // changesBetween across the MoR delete: 40 deletes, 0 inserts —
    // the file kept its NAME but not its logical content
    val ch = t.changesBetween(v1, vDel)
    assert(ch.filter(col("_change_type") === "delete").count() == 40)
    assert(ch.filter(col("_change_type") === "insert").count() == 0)
    // merge on a DV'd candidate file: masked rows must NOT resurrect
    t.merge(Seq((5L, 99L)).toDF("k", "v"), "k")
    assert(t.read().count() == 360)
    assert(t.read().filter(col("k") === 5L).select("v").as[Long].head() == 99L)
    assert(t.read().filter(col("k") === 10L).count() == 0)
    // compact purges DVs (rewritten files carry none)
    t.compact(Long.MaxValue, 1000L)
    assert(t.read().count() == 360)
    // vacuum to the current version only: pre-compact sidecars and
    // files die, the current snapshot stays exact
    t.vacuum(1)
    assert(t.read().count() == 360)
    assert(new File(t.path).list((_, n) => n.startsWith("dv-")).isEmpty)
  }

  test("MoR update rewrites NO file; delta appended; purge repays the debt") {
    val t = table("moru")
    val physBefore = dataFiles(t)
    t.updateWhereMoR(col("k") % 10 === 0, Map("v" -> lit(-1L)))
    // zero rewrites: every pre-update file still on disk AND still
    // referenced by the new manifest; only a sidecar + delta are new
    assert(physBefore.subsetOf(dataFiles(t)))
    assert(physBefore.subsetOf(t.fileNames(t.currentVersion).toSet))
    assert(new File(t.path).list((_, n) => n.startsWith("dv-")).length == 1)
    // content agrees on both read paths; row count preserved
    assert(t.read().count() == 400)
    assert(t.read().filter(col("v") === -1L).count() == 40)
    assert(t.scan().filter(col("k") % 10 === 0 && col("v") =!= -1L).count() == 0)
    // time travel still sees the pre-update values
    assert(t.readVersion(t.currentVersion - 1)
      .filter(col("v") === -1L).count() == 0)
    // a NULL/never-true condition commits nothing (SQL UPDATE keeps rows)
    val v0 = t.currentVersion
    t.updateWhereMoR(lit(null).cast("boolean"), Map("v" -> lit(0L)))
    assert(t.currentVersion == v0)
    // CHECK constraints gate the rewritten delta; a rejected update
    // leaves no commit, no staged delta, and no orphan sidecar
    t.addCheck("v_floor", "v >= -1")
    val vChecked = t.currentVersion
    val filesBefore = dataFiles(t)
    val dvBefore = new File(t.path).list((_, n) => n.startsWith("dv-")).toSet
    intercept[CheckViolationException] {
      t.updateWhereMoR(col("k") === 7L, Map("v" -> lit(-5L)))
    }
    assert(t.currentVersion == vChecked)
    assert(dataFiles(t) == filesBefore)
    assert(new File(t.path).list((_, n) => n.startsWith("dv-")).toSet == dvBefore)
    t.dropCheck("v_floor")
    // MoR update and MoR delete stack; purgeDeletes then retires every
    // sidecar with content identical
    t.deleteWhereMoR(col("v") === -1L)
    assert(t.read().count() == 360)
    t.purgeDeletes()
    assert(t.dvDebt == 0.0)
    assert(t.read().count() == 360)
    assert(t.read().filter(col("v") === -1L).count() == 0)
  }

  test("MoR merge masks matched rows only; source lands as delta files") {
    val t = table("morm")
    val physBefore = dataFiles(t)
    // matched keys confined to the first range file → candidate probing
    // touches one file; DVs land only there
    t.mergeMoR(Seq((5L, 500L), (10L, 1000L), (50L, 5000L)).toDF("k", "v")
      .coalesce(1), "k")
    assert(physBefore.subsetOf(t.fileNames(t.currentVersion).toSet))
    assert(t.read().count() == 400)
    assert(t.read().filter(col("k") === 5L).select("v").as[Long].head() == 500L)
    assert(t.read().filter(col("k") === 50L).select("v").as[Long].head() == 5000L)
    assert(graft.lake.LakeTestAccess.dvEntries(t, t.currentVersion)
      .count(_._2.nonEmpty) == 1,
      "DVs must land only in the single candidate file")
    // upsert with inserts: new keys append, nothing new is masked
    t.mergeMoR(Seq((5L, 501L), (900L, 9000L)).toDF("k", "v").coalesce(1), "k")
    assert(t.read().count() == 401)
    assert(t.read().filter(col("k") === 5L).select("v").as[Long].head() == 501L)
    assert(t.read().filter(col("k") === 900L).select("v").as[Long].head() == 9000L)
    // pure insert (no key matches): no sidecar written at all
    val dvCount = new File(t.path).list((_, n) => n.startsWith("dv-")).length
    t.mergeMoR(Seq((901L, 1L)).toDF("k", "v").coalesce(1), "k")
    assert(new File(t.path).list((_, n) => n.startsWith("dv-")).length == dvCount)
    assert(t.read().count() == 402)
    // changesBetween across a MoR merge: update = delete + insert
    val ch = t.changesBetween(t.currentVersion - 2, t.currentVersion - 1)
    assert(ch.filter(col("_change_type") === "delete" && col("k") === 5L)
      .select("v").as[Long].head() == 500L)
    assert(ch.filter(col("_change_type") === "insert" && col("k") === 5L)
      .select("v").as[Long].head() == 501L)
    // purge retires the merge sidecars too
    t.purgeDeletes()
    assert(t.dvDebt == 0.0 && t.read().count() == 402)
  }

  test("vacuum retains sidecars referenced by retained versions") {
    val t = table("morv")
    t.deleteWhereMoR(col("k") % 10 === 0)
    t.append(kv(401 to 410).coalesce(1))
    t.vacuum(2) // retains the DV'd version and the append
    assert(new File(t.path).list((_, n) => n.startsWith("dv-")).length == 1)
    assert(t.read().count() == 370)
  }

  test("CoW deleteWhere keeps NULL-condition rows (SQL DELETE semantics)") {
    val path = freshDir("nullc")
    val df = Seq((1L, "a"), (2L, null), (3L, "x")).toDF("k", "s")
    val t = LakeTable.create(spark, path, df.coalesce(1), Seq("k"))
    t.deleteWhere(col("s") === "x") // NULL for k=2 → kept, not deleted
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    t.deleteWhereMoR(col("s") === "a")
    assert(t.read().select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("restore makes a retained snapshot current, as a new commit") {
    val t = table("rst")
    t.deleteWhere(col("k") <= 200L)
    assert(t.read().count() == 200)
    val v = t.currentVersion
    t.restore(1)
    assert(t.currentVersion == v + 1)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ==
      (1L to 400L))
    assert(t.history().last.operation == "restore")
    // the streaming ledger survives the restore (never rolls back)
    t.appendStream(kv(401 to 405).coalesce(1), "q", 7L)
    t.restore(1)
    assert(t.lastStreamBatchId("q") == 7L)
    // restoring the current version is a no-op
    val cur = t.currentVersion
    t.restore(cur)
    assert(t.currentVersion == cur)
  }

  test("timestamp stats prune time-range scans off the manifest") {
    val path = freshDir("tss")
    val epoch0 = 1700000000000000L // µs
    val df = (0 until 1440).toDF("i").select(
      col("i").cast("long").as("event_id"),
      timestamp_micros(col("i").cast("long") * 60000000L + lit(epoch0)).as("ts"))
      .repartitionByRange(4, col("ts")) // 4 files, 6h of minutes each
    val t = LakeTable.create(spark, path, df, Seq("ts"))
    // manual pruned read in epoch micros: first hour lives in 1 file
    val hour = 3600L * 1000000L
    assert(t.prunedRead("ts", epoch0, epoch0 + hour - 1).inputFiles.length == 1)
    assert(t.prunedRead("ts", epoch0, epoch0 + hour - 1)
      .filter(col("ts") < timestamp_micros(lit(epoch0 + hour))).count() == 60)
    // Catalyst path: a plain timestamp-literal filter on scan() prunes —
    // the TIMESTAMP literal's micros match the manifest's unix_micros
    val q = t.scan().filter(col("ts") < timestamp_micros(lit(epoch0 + hour)))
    assert(q.count() == 60)
    assert(opened(q) == 1, s"expected 1 of 4 files, opened ${opened(q)}")
    // a string literal coerced to timestamp folds and prunes too
    val iso = java.time.Instant.ofEpochSecond(1700000000L + 3600L).toString
    val q2 = t.scan().filter(col("ts") < lit(iso.replace("Z", "")).cast("timestamp"))
    assert(opened(q2) <= 2)
    // deleteWhere candidate pruning rides the same bounds: a one-hour
    // delete rewrites only the file holding that hour
    val before = t.fileNames(t.currentVersion).toSet
    t.deleteWhere(col("ts") < timestamp_micros(lit(epoch0 + hour)))
    val after = t.fileNames(t.currentVersion).toSet
    assert((before -- after).size == 1, "only the lo file should rewrite")
    assert(t.read().count() == 1380)
  }

  test("merge keyed on a timestamp column prunes in micros, not seconds") {
    val path = freshDir("tsm")
    val epoch0 = 1700000000000000L // µs
    def mk(r: Range, v: Long) = r.toDF("i").select(
      timestamp_micros(col("i").cast("long") * 60000000L + lit(epoch0)).as("ts"),
      lit(v).as("v"))
    val t = LakeTable.create(spark, path,
      mk(0 until 1440, 1L).repartitionByRange(4, col("ts")), Seq("ts"))
    val before = t.fileNames(t.currentVersion).toSet
    t.merge(mk(0 until 10, 999L).coalesce(1), "ts")
    // a seconds-encoded key range would miss every candidate file and
    // DUPLICATE the updated keys instead of replacing them
    assert(t.read().count() == 1440)
    assert(t.read().filter(col("v") === 999L).count() == 10)
    // and only the overlapping file was rewritten
    val after = t.fileNames(t.currentVersion).toSet
    assert((before -- after).size == 1)
  }

  test("the format reader masks deletion vectors (with pruning intact)") {
    val t = table("fmtdv")
    t.deleteWhereMoR(col("k") % 10 === 0)
    val df = spark.read.format("graft.lake").load(t.path)
    assert(df.count() == 360, "format reader must apply the DV mask")
    assert(df.filter(col("k") === 10L).count() == 0)
    assert(df.filter(col("k") <= 100L).count() == 90)
    // version option: the pre-delete snapshot has no DVs → native path
    val v1 = spark.read.format("graft.lake")
      .option("version", "1").load(t.path)
    assert(v1.count() == 400)
    // column prune + filter through the PrunedFilteredScan shim
    assert(df.select("v").where(col("k") === 11L).as[Long].head() ==
      11L % 7)
  }

  test("merge rejects empty and all-NULL-key updates with clear errors") {
    val t = table("mrgnull")
    val empty = kv(1 to 1).filter(col("k") < 0L)
    val exEmpty = intercept[IllegalArgumentException] { t.merge(empty, "k") }
    assert(exEmpty.getMessage.contains("empty updates frame"))
    val nullKeys = kv(1 to 3)
      .select(lit(null).cast("long").as("k"), col("v"))
    val exNull = intercept[IllegalArgumentException] { t.merge(nullKeys, "k") }
    assert(exNull.getMessage.contains("NULL"))
    assert(t.read().count() == 400) // untouched either way
  }

  test("restore keeps head constraints active and re-proves restored data") {
    val t = table("rstchk")
    t.deleteWhere(col("k") <= 100L) // v2: keys 101..400
    t.addCheck("k_min", "k > 100")  // v3: proven against current data
    // restoring v1 would resurrect rows 1..100 that violate k_min
    intercept[CheckViolationException] { t.restore(1) }
    assert(t.read().count() == 300) // restore rejected atomically
    // restore to a COMPATIBLE snapshot carries the constraint forward
    t.deleteWhere(col("k") <= 200L) // v4: keys 201..400
    t.restore(2)                     // v2 data (101..400) satisfies k_min
    assert(t.read().count() == 300)
    assert(t.checks.keySet == Set("k_min"), "constraints must survive restore")
    intercept[CheckViolationException] {
      t.append(kv(1 to 1).coalesce(1)) // still gated after the restore
    }
  }

  test("appendStream honors a legacy global txn ledger as the floor") {
    val t = table("legacy")
    // hand-craft a v2 manifest in the PRE-SCOPING format: same files,
    // head carries the old single global `txn` long instead of `txns`
    val log = new File(t.path, "_graft_log")
    val v1 = Files.readString(new File(log, "v00000001.manifest").toPath)
    assert(v1.contains("\"txns\":{}"))
    Files.writeString(new File(log, "v00000002.manifest").toPath,
      v1.replace("\"txns\":{}", "\"txn\":7"))
    // a replay of the legacy batch id is recognized under ANY app id
    val v = t.currentVersion
    t.appendStream(kv(500 to 509).coalesce(1), "resumed-query", 7L)
    assert(t.currentVersion == v && t.read().count() == 400)
    // regressing below the legacy floor fails loudly
    intercept[IllegalArgumentException] {
      t.appendStream(kv(500 to 509).coalesce(1), "resumed-query", 3L)
    }
    // the next batch lands and migrates the ledger to the scoped form
    t.appendStream(kv(500 to 509).coalesce(1), "resumed-query", 8L)
    assert(t.read().count() == 410)
    assert(t.lastStreamBatchId("resumed-query") == 8L)
  }

  test("legacy single-txn manifests parse into the per-app ledger") {
    val head = "{\"operation\":\"x\",\"schema\":\"{}\"," +
      "\"statsCols\":[],\"txn\":5}"
    assert(graft.lake.LakeTestAccess.parseTxns(head + "\n") ==
      Map("_legacy" -> 5L))
    val headNone = "{\"operation\":\"x\",\"schema\":\"{}\"," +
      "\"statsCols\":[],\"txn\":-1}"
    assert(graft.lake.LakeTestAccess.parseTxns(headNone + "\n").isEmpty)
  }

  test("date stats: DATE literals bound pruning in epoch days") {
    val path = freshDir("dts")
    val df = (0 until 400).toDF("i").select(
      col("i").cast("long").as("k"),
      date_add(to_date(lit("2024-01-01")), col("i")).as("d"))
      .repartitionByRange(4, col("d"))
    val t = LakeTable.create(spark, path, df, Seq("d"))
    val q = t.scan().filter(col("d") < to_date(lit("2024-02-01")))
    assert(q.count() == 31)
    assert(opened(q) == 1, s"expected 1 of 4 files, opened ${opened(q)}")
  }

  test("optimistic rebase: disjoint concurrent writes both land; overlaps conflict") {
    // two range-disjoint files: lo = 1..200, hi = 201..400
    val path = freshDir("reb")
    val t = LakeTable.create(spark, path,
      kv(1 to 200).coalesce(1), Seq("k"))
    t.append(kv(201 to 400).coalesce(1))
    val v = t.currentVersion // 2
    val loFile = t.fileNames(1).head
    // a DISJOINT append slips in between plan and commit: the planned
    // mutation (drop the lo file, scope k in [1,200]) must REBASE —
    // both writes land, serializably
    t.append(kv(1000 to 1099).coalesce(1)) // v3, k-range [1000,1099]
    graft.lake.LakeTestAccess.commitMutation(
      t, v, "delete", Set(loFile), ("k", 1L, 200L))
    assert(t.currentVersion == 4)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ==
      ((201L to 400L) ++ (1000L to 1099L)))
    // an OVERLAPPING append (k=150 is inside the mutation's scope)
    // planned-over must conflict, not silently merge
    val v4 = t.currentVersion
    t.append(kv(150 to 150).coalesce(1)) // v5: k=150 is inside [101,400]
    intercept[graft.lake.ConcurrentWriteConflictException] {
      graft.lake.LakeTestAccess.commitMutation(
        t, v4, "delete", Set.empty, ("k", 101L, 400L))
    }
    // a mutation whose CONSUMED file was itself rewritten must conflict
    val v6 = t.currentVersion
    val someFile = t.fileNames(v6).head
    t.compact(Long.MaxValue, 100000L) // rewrites everything
    intercept[graft.lake.ConcurrentWriteConflictException] {
      graft.lake.LakeTestAccess.commitMutation(
        t, v6, "delete", Set(someFile), ("k", 1L, 1L))
    }
    // end-to-end: real merge racing a real disjoint append (threads)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(1)
    val n0 = t.read().count()
    val fa = Future { gate.await(); t.append(kv(5000 to 5099).coalesce(1)) }
    val fm = Future {
      gate.await()
      t.merge(Seq((201L, 777L)).toDF("k", "v"), "k")
    }
    gate.countDown()
    Await.result(Future.sequence(Seq(fa, fm)), 120.seconds)
    assert(t.read().count() == n0 + 100)
    assert(t.read().filter(col("k") === 201L)
      .select("v").as[Long].head() == 777L)
  }

  test("shallow clone is zero-copy and ages independently of the source") {
    val t = table("cln")
    t.deleteWhereMoR(col("k") % 10 === 0) // clone must carry the DV too
    val clonePath = freshDir("clnT")
    val c = t.clone(clonePath)
    // zero-copy: every cloned file shares its inode with the source
    val linked = new File(clonePath).list((_, n) => n.endsWith(".parquet"))
    assert(linked.nonEmpty)
    linked.foreach { n =>
      val ino = Files.getAttribute(
        java.nio.file.Paths.get(clonePath, n), "unix:ino")
      val srcIno = Files.getAttribute(
        java.nio.file.Paths.get(t.path, n), "unix:ino")
      assert(ino == srcIno, s"$n was copied, not hard-linked")
    }
    assert(c.read().count() == 360) // DV mask carried over
    // diverge: mutate the clone, source unchanged — and vice versa
    c.append(kv(1000 to 1009).coalesce(1))
    assert(c.read().count() == 370 && t.read().count() == 360)
    t.deleteWhere(col("k") <= 200L)
    assert(t.read().count() == 180 && c.read().count() == 370)
    // vacuum the SOURCE down to its rewritten current version: the
    // clone still reads its own references (hardlinked inodes survive
    // the source's unlink)
    t.vacuum(1)
    assert(c.read().count() == 370)
    // double-clone to the same target is refused
    intercept[IllegalArgumentException] { t.clone(clonePath) }
  }

  test("CHECK constraints gate writes on the incoming delta only") {
    val t = table("chk")
    t.addCheck("k_pos", "k > 0")
    t.addCheck("v_range", "v BETWEEN 0 AND 6")
    assert(t.checks.keySet == Set("k_pos", "v_range"))
    // valid append lands
    t.append(kv(401 to 410).coalesce(1))
    assert(t.read().count() == 410)
    // violating append is rejected atomically: no version, no orphans
    val v = t.currentVersion
    val physBefore = dataFiles(t)
    intercept[CheckViolationException] {
      t.append(Seq((-1L, 3L)).toDF("k", "v"))
    }
    assert(t.currentVersion == v && dataFiles(t) == physBefore)
    // NULL evaluations PASS (SQL CHECK three-valued semantics)
    t.append(Seq((500L, null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v").select(col("k"), col("v").cast("long")))
    assert(t.read().count() == 411)
    // merge is gated too (on the surviving rows)
    intercept[CheckViolationException] {
      t.merge(Seq((5L, 100L)).toDF("k", "v"), "k")
    }
    // delete-arm rows are exempt (they remove, not insert)
    t.merge(Seq((5L, 100L)).toDF("k", "v"), "k", Some(lit(true)))
    assert(t.read().filter(col("k") === 5L).count() == 0)
    // adding a constraint the EXISTING data violates is rejected
    intercept[CheckViolationException] { t.addCheck("bad", "k >= 2") }
    // drop, then the formerly-violating write lands
    t.dropCheck("v_range")
    t.append(Seq((600L, 100L)).toDF("k", "v"))
    assert(t.read().count() == 411)
  }

  private def collectPlan[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case o => o.children
    }
    pf.lift(p).toSeq ++ kids.flatMap(collectPlan(_)(pf))
  }

  /** The Spark jobs `op` runs: a listener collects the tag of every
    * job started under a local-property tag, and a marker job run after
    * `op` shows that all of its events were delivered.
    */
  private def jobsOf(op: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try op finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"$tag-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(seen.contains(s"$tag-marker"))
      }
      seen.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("the DV mask is a per-row filter in scan(): no join, exchange or broadcast") {
    val t = table("morbc")
    t.deleteWhereMoR(col("k") % 10 === 0)
    val df = t.scan()
    val rows = df.collect() // finalize AQE
    // a join would need the fact side shuffled or a broadcast exchange
    // built; the bitmap filter needs neither, whatever the DV size
    val joinsOrExchanges = collectPlan(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(joinsOrExchanges.isEmpty,
      s"DV mask must plan no join or exchange; got:\n${df.queryExecution.executedPlan}")
    assert(rows.map(_.toString).sorted.toSeq ==
      t.read().collect().map(_.toString).sorted.toSeq)
    assert(rows.length == 360)
  }

  test("MoR jobs: a delete runs only its probe, an update two; DVs add no read job") {
    val t = table("morjobs")
    val cleanRead = jobsOf(t.read().collect())
    assert(jobsOf(t.deleteWhereMoR(col("k") % 10 === 0)) == 1)
    assert(jobsOf(t.updateWhereMoR(col("k") % 10 === 1, Map("v" -> lit(-1L)))) == 2)
    val maskedRead = jobsOf(t.read().collect())
    assert(maskedRead <= cleanRead, s"a DV'd read ran $maskedRead jobs, a clean one $cleanRead")
    assert(t.read().count() == 360 && t.read().filter(col("v") === -1L).count() == 40)
  }

  test("DML jobs: a CoW delete or update probes in one job; a merge's key range is one job") {
    val t = table("dmljobs")
    assert(jobsOf(t.deleteWhere(col("k") % 10 === 0)) == 2)
    assert(jobsOf(t.updateWhere(col("k") % 10 === 1, Map("v" -> lit(-1L)))) == 2)
    // a source the optimizer cannot fold into a local relation, so its
    // key range and its match probe each run in a job
    def upserts(from: Long) =
      spark.range(from, from + 20).select(col("id").as("k"), lit(-2L).as("v"))
    val merge = jobsOf(t.merge(upserts(390), "k"))
    assert(merge <= 3, s"merge ran $merge jobs")
    val mergeMoR = jobsOf(t.mergeMoR(upserts(10), "k"))
    assert(mergeMoR <= 4, s"mergeMoR ran $mergeMoR jobs")
    // 360 survivors, keys 390, 400, 10, 20 and 401..409 inserted
    assert(t.read().count() == 373 && t.read().filter(col("v") === -2L).count() == 40)
    assert(t.read().filter(col("v") === -1L).count() == 37)
  }

  test("a general merge's affected files and a dynamic overwrite's partitions are one job each") {
    val t = table("genjobs")
    val general = jobsOf(t.mergeGeneral(
      spark.range(395, 405).select(col("id").as("_src_k"), lit(9L).as("_src_w")),
      col("k") === col("_src_k"),
      Seq(None -> graft.lake.MergeArm.Update(Map("v" -> col("_src_w")))),
      Seq(None -> Map("k" -> col("_src_k"), "v" -> col("_src_w"))), Nil))
    assert(general == 10, s"mergeGeneral ran $general jobs")
    assert(t.read().count() == 404 && t.read().filter(col("v") === 9L).count() == 10)

    val p = LakeTable.create(spark, freshDir("dynjobs"),
      kv(1 to 400).withColumn("p", (col("k") % 4).cast("int")).repartition(2),
      Seq("k"), Seq("p"))
    val dynamic = jobsOf(p.overwritePartitionsDynamic(
      spark.range(1000, 1100).select(col("id").as("k"), lit(0L).as("v"),
        (col("id") % 2).cast("int").as("p"))))
    // the partition tuples, the hit probe and the write
    assert(dynamic == 3, s"overwritePartitionsDynamic ran $dynamic jobs")
    // partitions 0 and 1 replaced by the 100 new rows, 2 and 3 kept
    assert(p.read().count() == 300 && p.read().filter(col("k") >= 1000L).count() == 100)
  }

  test("two MoR deletes on one file mask exactly their union; dvRows counts it") {
    val t = LakeTable.create(spark, freshDir("union"), kv(1 to 100).coalesce(1), Seq("k"))
    val Seq(file) = t.fileNames(t.currentVersion)
    t.deleteWhereMoR(col("k") % 2 === 0)
    t.deleteWhereMoR(col("k") % 3 === 0) // overlaps the first at k % 6 == 0
    val live = (1L to 100L).filter(k => k % 2 != 0 && k % 3 != 0)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == live)
    assert(dvFiles(t).size == 2)
    val v = t.currentVersion
    // one file of 100 rows in k order: row index = k - 1
    val masked = (1L to 100L).filterNot(live.contains).map(_ - 1L).toSet
    assert(graft.lake.LakeTestAccess.maskedPositions(t, v) == Map(file -> masked))
    assert(graft.lake.LakeTestAccess.dvRows(t, v) == Map(file -> masked.size.toLong))
    // a delete of only masked rows matches nothing and commits nothing
    t.deleteWhereMoR(col("k") % 4 === 0)
    assert(t.currentVersion == v && dvFiles(t).size == 2)
  }

  test("a manifest naming a legacy parquet DV sidecar fails with a clear error") {
    val t = table("legacydv")
    val log = new File(t.path, "_graft_log")
    val lines = Files.readString(new File(log, "v00000001.manifest").toPath)
      .split('\n').filter(_.nonEmpty)
    lines(1) = lines(1).stripSuffix("}") + ""","dv":["dv-0123456789ab.parquet"],"dvRows":1}"""
    Files.writeString(new File(log, "v00000002.manifest").toPath, lines.mkString("\n"))
    val e = intercept[IllegalArgumentException](t.read())
    assert(e.getMessage.contains("dv-0123456789ab.parquet") && e.getMessage.contains("legacy"),
      e.getMessage)
  }

  test("DV files keep row positions at and past 2^31 exactly") {
    val big = Seq(0L, (1L << 31) - 1, 1L << 31, (1L << 31) + 5, 1L << 40, Long.MaxValue)
    val dv = Map("part-a.parquet" -> big, "part-b.parquet" -> Seq(3L))
    val back = graft.lake.LakeTestAccess.dvRoundTrip(dv)
    // equal sets: (1 << 31) + 5 did not come back as its low 31 bits, 5
    assert(back.map { case (f, ps) => f -> ps.toSet } == dv.map { case (f, ps) => f -> ps.toSet })
  }

  test("purgeDeletes repays DV debt above the threshold only") {
    val t = table("purge") // 4 range-clustered files, 100 rows each
    t.deleteWhereMoR(col("k") <= 50L)   // first file: 50% of its rows
    t.deleteWhereMoR(col("k") === 150L) // second file: 1% of its rows
    assert(t.dvDebt > 0.12 && t.dvDebt < 0.13, s"debt=${t.dvDebt}")
    val expect = (1L to 400L).filter(k => k > 50 && k != 150)
    // threshold between the two per-file ratios: only the heavy file
    // rewrites; the 1%-debt file keeps its sidecar
    t.purgeDeletes(minDebt = 0.25)
    val dvAfter = graft.lake.LakeTestAccess.dvEntries(t, t.currentVersion)
    assert(dvAfter.values.count(_.nonEmpty) == 1,
      s"exactly one file should keep DV debt, got $dvAfter")
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == expect)
    // full purge: no entry carries a DV, content identical, and the
    // retired sidecars are vacuum-collectable
    t.purgeDeletes()
    assert(graft.lake.LakeTestAccess.dvEntries(t, t.currentVersion)
      .values.forall(_.isEmpty))
    assert(t.dvDebt == 0.0)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == expect)
    t.vacuum(1)
    assert(new File(t.path).list((_, n) => n.startsWith("dv-")).isEmpty)
    // nothing over the threshold → no-op commit
    val v = t.currentVersion
    assert(t.purgeDeletes() == v && t.currentVersion == v)
  }

  test("first scoped commit consumes the legacy ledger; new apps start clean") {
    val t = table("legacy2")
    val log = new File(t.path, "_graft_log")
    val v1 = Files.readString(new File(log, "v00000001.manifest").toPath)
    Files.writeString(new File(log, "v00000002.manifest").toPath,
      v1.replace("\"txns\":{}", "\"txn\":7"))
    // before any scoped commit, a fresh-checkpoint query (batch 0)
    // inherits the legacy floor — conservative, data would be dropped
    intercept[IllegalArgumentException] {
      t.appendStream(kv(500 to 509).coalesce(1), "new-query", 0L)
    }
    // the resuming writer's commit consumes _legacy...
    t.appendStream(kv(500 to 509).coalesce(1), "resumed", 8L)
    assert(t.lastStreamBatchId("resumed") == 8L)
    // ...so a genuinely new query can now start at batch 0
    t.appendStream(kv(600 to 604).coalesce(1), "new-query", 0L)
    assert(t.lastStreamBatchId("new-query") == 0L)
    assert(t.read().count() == 415)
    // even AFTER consumption, an entry-less app replaying EXACTLY the
    // legacy floor is the pre-upgrade writer's crash-replay of its last
    // batch: it must be SKIPPED, never re-appended (dropping the floor
    // on the first scoped commit would duplicate these rows)
    val v = t.currentVersion
    t.appendStream(kv(700 to 709).coalesce(1), "old-writer", 7L)
    assert(t.currentVersion == v && t.read().count() == 415,
      "legacy-floor replay after consumption must be skipped, not duplicated")
    // but any OTHER batch id under a fresh app starts clean
    t.appendStream(kv(700 to 704).coalesce(1), "old-writer", 9L)
    assert(t.read().count() == 420)
  }

  test("rejected writes clean their staged files (no orphans until vacuum)") {
    val t = table("orphan")
    val physBefore = dataFiles(t)
    // appendStream: ledger regression cleans staged files
    t.appendStream(kv(401 to 410).coalesce(1), "app", 5L)
    val physAfter5 = dataFiles(t)
    intercept[IllegalArgumentException] {
      t.appendStream(kv(411 to 420).coalesce(1), "app", 2L)
    }
    assert(dataFiles(t) == physAfter5, "regressed batch left orphan files")
    // append: schema mismatch cleans staged files
    intercept[IllegalArgumentException] {
      t.append(Seq(("x", 1L)).toDF("s", "k"))
    }
    assert(dataFiles(t) == physAfter5, "schema-rejected append left orphans")
    assert(physBefore.subsetOf(physAfter5))
    // a row-level change whose commit conflicts with an overlapping
    // append deletes its staged files and its DV sidecar: the gated UDF
    // holds the change inside its first Spark job while the append
    // (k = 5, inside every scope below) commits
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gated = udf { (k: Long) => DmlGate.pass(); k }
    val src = kv(1 to 10).select(gated(col("k")).as("k"), col("v"))
    // the orphans each change left behind, by entry point
    def orphans(change: => Int): Set[String] = {
      val (data0, dv0) = (dataFiles(t), dvFiles(t))
      DmlGate.arm()
      val f = Future(change)
      DmlGate.awaitEntered(f.isCompleted)
      val appended = try t.append(kv(5 to 5).coalesce(1)) finally DmlGate.open()
      intercept[ConcurrentWriteConflictException](Await.result(f, 120.seconds))
      (dataFiles(t) -- data0 -- t.fileNames(appended)) ++ (dvFiles(t) -- dv0)
    }
    // every touched file keeps survivors, so even a CoW delete stages
    val hit = gated(col("k")) % 10L === 0L
    val left = Map(
      "deleteWhere" -> orphans(t.deleteWhere(hit)),
      "deleteWhereMoR" -> orphans(t.deleteWhereMoR(hit)),
      "updateWhere" -> orphans(t.updateWhere(hit, Map("v" -> lit(0L)))),
      "updateWhereMoR" -> orphans(t.updateWhereMoR(hit, Map("v" -> lit(0L)))),
      "merge" -> orphans(t.merge(src, "k")),
      "mergeMoR" -> orphans(t.mergeMoR(src, "k")),
      "replaceWhere" -> orphans(t.replaceWhere(hit, kv(1 to 3))))
    assert(left.filter(_._2.nonEmpty).isEmpty, "conflicting changes left orphans")
  }

  test("copy-on-write and merge-on-read DML agree row for row") {
    // one random delete/update/merge sequence applied through the CoW
    // methods on table A and through their MoR twins on table B: a
    // partitioned table with a renamed column (physical names differ),
    // a nullable `x` (NULL conditions keep their rows) and a string key
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def seed0 = (1 to 48).toDF("k").select(
      col("k").cast("long").as("k"),
      format_string("id%03d", col("k")).as("s"),
      (col("k") % 3).cast("int").as("p"),
      when(col("k") % 4 =!= 0, (col("k") % 5).cast("long")).as("x"),
      (col("k") * 10).cast("long").as("v0"))
    def sourceOf(ks: Seq[Long], delta: Long) = ks.toDF("k").select(
      col("k"), format_string("id%03d", col("k")).as("s"),
      (col("k") % 3).cast("int").as("p"),
      when(col("k") % 2 === 0, col("k") % 5).as("x"),
      (col("k") * 10 + delta).as("v"))
    Seq(11L, 12L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def fresh(tag: String): LakeTable = {
        val t = LakeTable.create(spark, freshDir(s"eq$tag$seed"),
          seed0.repartition(2), Seq("k", "s"), Seq("p"))
        t.renameColumn("v0", "v")
        t
      }
      val (a, b) = (fresh("cow"), fresh("mor"))
      // every op kind once, in random order, plus one more
      val ops = rnd.shuffle((0 to 4).toList :+ rnd.nextInt(5))
      ops.zipWithIndex.foreach { case (op, step) =>
        val keys = a.read().select("k").as[Long].collect().toSeq
        val lo = keys(rnd.nextInt(keys.size))
        val r = rnd.nextInt(5).toLong
        val label = s"seed $seed step $step"
        op match {
          case 0 => // NULL x keeps the row
            a.deleteWhere(col("x") === r); b.deleteWhereMoR(col("x") === r)
          case 1 => // stats-pruned range
            val c = col("k").between(lo, lo + 6)
            a.deleteWhere(c); b.deleteWhereMoR(c)
          case 2 =>
            val set = Map("v" -> (col("v") + 1000), "x" -> lit(null).cast("long"))
            a.updateWhere(col("x") > r, set); b.updateWhereMoR(col("x") > r, set)
          case key =>
            val ks = (rnd.shuffle(keys).take(3) :+ (100L + step)).sorted
            val keyCol = if (key == 3) "k" else "s"
            a.merge(sourceOf(ks, step.toLong), keyCol)
            b.mergeMoR(sourceOf(ks, step.toLong), keyCol)
        }
        assert(a.currentVersion == b.currentVersion, label)
        assert(rows(a.read()) == rows(b.read()), s"$label: read()")
        assert(rows(a.scan()) == rows(b.scan()), s"$label: scan()")
        val v = rnd.nextInt(a.currentVersion) + 1
        assert(rows(a.readVersion(v)) == rows(b.readVersion(v)),
          s"$label: readVersion($v)")
      }
      b.purgeDeletes(0.0)
      assert(b.dvDebt == 0.0)
      assert(rows(b.read()) == rows(a.read()), s"seed $seed: after purge")
    }
  }

  test("overwrite rejects a schema that invalidates a CHECK, before staging") {
    val t = table("chkschema")
    t.addCheck("v_low", "v < 7")
    val physBefore = dataFiles(t)
    val e = intercept[IllegalArgumentException] {
      t.overwrite(Seq((1L, "a")).toDF("k", "s")) // drops column v
    }
    assert(e.getMessage.contains("v_low") &&
      e.getMessage.toLowerCase.contains("drop constraint"),
      s"error must name the constraint and the remedy: ${e.getMessage}")
    assert(dataFiles(t) == physBefore, "rejected overwrite staged orphans")
    // restore to a pre-schema-change snapshot with an unresolvable check
    // gets the same clear error (not an opaque AnalysisException)
    t.dropCheck("v_low")
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    t.addCheck("s_nonempty", "length(s) > 0")
    intercept[IllegalArgumentException] { t.restore(1) } // v1 has no `s`
  }
}
