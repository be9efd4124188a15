package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** What the lake workload adds to a run record. */
final case class LakeOut(e2e: Map[String, Double], layer: Map[String, Double],
    checks: Int, failures: Seq[String])

/** A seeded operation stream against one `LakeTable` created from
  * `orders`: about half writes (append, copy-on-write and merge-on-read
  * delete / update / merge), about half reads (snapshot, stats-pruned
  * range, time travel, stats report), and a compact / purge / vacuum
  * at the end of every cycle. The seed draws the key ranges and price
  * deltas; the order of a cycle is fixed. Every read is checked, after the
  * timed loop, against a DataFrame model that replays the same operations.
  */
final class LakeWorkload(spark: SparkSession, a: Args, dir: Path, sliceOf: Int = 1) {
  import LakeWorkload._

  private val path = dir.resolve("orders").toString
  private val key = "o_orderkey"
  /** `orders`, or every `sliceOf`-th key of it for a small warm-up table. */
  private lazy val base: DataFrame = {
    val o = graft.Tables.orders(spark, a.data)
    if (sliceOf == 1) o else o.filter(col(key) % sliceOf === 0)
  }
  private var maxKey = 0L
  private var stride = 0L
  private var span = 0L
  private var oldest = 1
  private var seq = 0
  private val log = mutable.ArrayBuffer[Entry]()
  private val openMs = mutable.ArrayBuffer[Double]()
  private val bytesAdded = mutable.Map[Int, Long]()
  private val prunedFiles = mutable.ArrayBuffer[Long]()
  private val dvDebt = mutable.ArrayBuffer[Double]() // before each cycle's maintenance

  def create(): Unit = {
    maxKey = base.agg(max(col(key))).collect()(0).getAs[Number](0).longValue
    stride = math.pow(10, math.ceil(math.log10(maxKey + 1.0))).toLong
    span = math.max(1L, maxKey / 300)
    LakeTable.create(spark, path, base.repartitionByRange(InitialFiles, col(key)), Seq(key))
    oldest = 1
  }

  private def open(): LakeTable = {
    val t0 = System.nanoTime()
    val t = LakeTable.forPath(spark, path)
    openMs += (System.nanoTime() - t0) / 1e6
    t
  }

  private def range(lo: Long, hi: Long): Column = col(key) >= lo && col(key) < hi

  /** Rows of the base table with keys in [lo, hi), moved to a key block
    * no other operation uses, so appended and inserted keys stay unique. */
  private def fresh(lo: Long, hi: Long): DataFrame = {
    seq += 1
    base.filter(range(lo, hi)).withColumn(key, col(key) + lit(seq * stride))
  }

  private def repriced(df: DataFrame, delta: Double): DataFrame =
    df.withColumn(PriceCol, (col(PriceCol) + lit(delta)).cast(df.schema(PriceCol).dataType))

  /** A range start inside one of the eight initial files, never
    * straddling a file boundary, so every seed's ranges touch one file. */
  private def draw(r: Random): Long = {
    val width = maxKey / InitialFiles
    r.nextInt(InitialFiles) * width + (r.nextDouble() * (width - 5 * span)).toLong
  }

  /** One cycle: each write once and each read twice, interleaved in a
    * fixed order, then compact, purge and vacuum. */
  def cycle(run: Run, r: Random): Unit = ops(run, r, Cycle)

  /** Each operation once: the warm-up of a scratch table. */
  def warmup(run: Run, r: Random): Unit = ops(run, r, Writes ++ Reads)

  private def ops(run: Run, r: Random, kinds: Seq[String]): Unit = {
    kinds.foreach { k => step(run, k, r); run.hygiene() }
    if (a.trace) dvDebt += LakeTable.forPath(spark, path).dvDebt
    Maintenance.foreach { k => step(run, k, r); run.hygiene() }
  }

  private def step(run: Run, kind: String, r: Random): Unit = {
    val lo = draw(r)
    val hi = lo + span
    val delta = 0.25 * (1 + r.nextInt(8))
    val before = if (a.trace && Writes.contains(kind)) dirBytes() else 0L
    val cls = if (Writes.contains(kind)) "write" else if (Reads.contains(kind)) "read" else "maint"
    var entry = Entry(kind, lo, hi, delta, 0, 0, 0, None, -1)
    val (rec, fp, agg) = run.timed(kind, cls) {
      val t = open()
      val cur = t.currentVersion
      def wrote(v: Int): Option[DataFrame] = { entry = entry.copy(version = v); None }
      def reading(v: Int, df: DataFrame): Option[DataFrame] = {
        entry = entry.copy(version = cur, readVersion = v); Some(df)
      }
      kind match {
        case "append" =>
          val src = fresh(lo, hi)
          entry = entry.copy(seq = seq)
          wrote(t.append(src))
        case "delete" => wrote(t.deleteWhere(range(lo, hi)))
        case "delete_mor" => wrote(t.deleteWhereMoR(range(lo, hi)))
        case "update" => wrote(t.updateWhere(range(lo, hi), updateSet(delta)))
        case "update_mor" => wrote(t.updateWhereMoR(range(lo, hi), updateSet(delta)))
        case "merge" | "merge_mor" =>
          val src = mergeSource(lo, hi, delta)
          entry = entry.copy(seq = seq)
          wrote(if (kind == "merge") t.merge(src, key) else t.mergeMoR(src, key))
        case "read" => reading(cur, t.read())
        case "pruned_read" =>
          reading(cur, t.prunedRead(key, lo, hi + 3 * span).filter(range(lo, hi + 3 * span)))
        case "time_travel" =>
          val v = math.max(oldest, cur - TravelBack)
          reading(v, t.readVersion(v))
        case "stats_report" =>
          val rows = t.statsReport().filter(col("column") === key).select(col("row_count"))
          entry = entry.copy(version = cur, readVersion = cur)
          Some(rows)
        case "compact" => wrote(t.compact(SmallFileRows, TargetRows))
        case "purge" => wrote(t.purgeDeletes(PurgeDebt))
        case "vacuum" =>
          t.vacuum(RetainVersions)
          oldest = math.max(oldest, cur - RetainVersions + 1)
          wrote(cur)
      }
    }(_ => true)
    if (a.trace) {
      if (Writes.contains(kind)) bytesAdded(rec.idx) = dirBytes() - before
      if (kind == "pruned_read") agg.foreach(d =>
        prunedFiles += ScanStats.of(d.queryExecution.executedPlan).files)
    }
    log += entry.copy(fp = fp, op = rec.idx)
  }

  private def updateSet(delta: Double): Map[String, Column] =
    Map(PriceCol -> (col(PriceCol) + lit(delta)))

  /** Existing keys in [lo, hi) repriced, plus as many brand-new keys. */
  private def mergeSource(lo: Long, hi: Long, delta: Double): DataFrame =
    repriced(base.filter(range(lo, hi)), delta).unionByName(fresh(hi, hi + span))

  // ---- the model (untimed) --------------------------------------------------

  /** Replay the logged operations on a DataFrame model, check every read
    * (snapshot, pruned range and time travel by their rows, the stats
    * report by its row count) and the final snapshot against it, and
    * measure space.
    * Every model fingerprint is computed in one grouped aggregate. */
  def finish(ops: Seq[OpRec], tracer: Option[Tracer]): LakeOut = {
    val t0 = System.nanoTime()
    val failures = mutable.ArrayBuffer[String]()
    val byIdx = ops.map(o => o.idx -> o).toMap
    val priceType = base.schema(PriceCol).dataType
    var model: DataFrame = base.localCheckpoint()
    val versions = mutable.Map[Int, DataFrame](1 -> model)
    // tag -> rows to fingerprint: "r<op>" the model side of a checked read,
    // "c<op>" the rows a write changed (traced runs only)
    val wanted = mutable.ArrayBuffer[(String, DataFrame)]()
    log.foreach { e =>
      val ok = byIdx.get(e.op).exists(_.ok)
      def setPrice(df: DataFrame, c: Column) =
        df.withColumn(PriceCol, when(c, (col(PriceCol) + lit(e.delta)).cast(priceType))
          .otherwise(col(PriceCol)))
      def reseq(df: DataFrame) = df.withColumn(key, col(key) + lit(e.seq * stride))
      lazy val mergeSrc = repriced(base.filter(range(e.lo, e.hi)), e.delta)
        .unionByName(reseq(base.filter(range(e.hi, e.hi + span))))
      val next: Option[DataFrame] = e.kind match {
        case "append" => Some(model.unionByName(reseq(base.filter(range(e.lo, e.hi)))))
        case "delete" | "delete_mor" => Some(model.filter(!range(e.lo, e.hi)))
        case "update" | "update_mor" => Some(setPrice(model, range(e.lo, e.hi)))
        case "merge" | "merge_mor" =>
          Some(model.join(mergeSrc.select(col(key)), Seq(key), "left_anti").unionByName(mergeSrc))
        case "compact" | "purge" => Some(model)
        case _ => None
      }
      if (ok) next.foreach { n =>
        if (a.trace) e.kind match {
          case "append" => wanted += s"c${e.op}" -> base.filter(range(e.lo, e.hi))
          case "merge" | "merge_mor" => wanted += s"c${e.op}" -> mergeSrc
          case "compact" | "purge" => ()
          case _ => wanted += s"c${e.op}" -> model.filter(range(e.lo, e.hi))
        }
        // materialize every version once, so each check below is a scan of
        // its version instead of a replay of the writes since a checkpoint
        if (!(n eq model)) model = n.localCheckpoint()
        versions(e.version) = model
        versions.keys.filter(_ < e.version - RetainVersions - 1).toList.foreach(versions.remove)
      }
      if (ok && e.fp.isDefined) versions.get(e.readVersion) match {
        case Some(m) => wanted += s"r${e.op}" -> (e.kind match {
          case "pruned_read" => m.filter(range(e.lo, e.hi + 3 * span))
          case "stats_report" => m.agg(count(lit(1)).as("row_count"))
          case _ => m
        })
        case None => failures += s"${e.kind}@v${e.readVersion} op ${e.op}: no model version"
      }
    }
    wanted += "final" -> model
    val t1 = System.nanoTime()
    val fps = Fingerprint.tagged(wanted.toSeq)
    val t2 = System.nanoTime()
    log.filter(e => fps.contains(s"r${e.op}")).foreach { e =>
      val want = fps(s"r${e.op}")
      if (!e.fp.contains(want))
        failures += s"${e.kind}@v${e.readVersion} op ${e.op}: got ${e.fp.map(_.render)}, " +
          s"model ${want.render}"
    }
    val t = LakeTable.forPath(spark, path)
    val finalFp = Fingerprint.read(Fingerprint.of(t.read()))
    val modelFp = fps("final")
    if (finalFp != modelFp)
      failures += s"final snapshot: got ${finalFp.render}, model ${modelFp.render}"
    val changedRows = fps.collect { case (k, f) if k.startsWith("c") => f.rows }.sum
    val plain = dir.resolve("plain_parquet").toString
    model.coalesce(1).write.mode("overwrite").parquet(plain)
    val plainBytes = treeBytes(java.nio.file.Paths.get(plain))
    val tableBytes = dirBytes()
    val rows = math.max(1L, modelFp.rows)
    System.err.println(f"[perfbench] lake model: replay ${(t1 - t0) / 1e9}%.2f s, " +
      f"fingerprints ${(t2 - t1) / 1e9}%.2f s, final read and space ${(System.nanoTime() - t2) / 1e9}%.2f s")

    def lat(kinds: Set[String]) = ops.filter(o => kinds(o.name)).map(_.latencyMs)
    val writes = ops.filter(_.kind == "write")
    val e2e = Map(
      "write_p50_ms" -> Stats.latency(writes.map(_.latencyMs))._1,
      "read_p50_ms" -> Stats.latency(ops.filter(_.kind == "read").map(_.latencyMs))._1,
      "space_amp" -> tableBytes.toDouble / plainBytes)
    val layer = mutable.LinkedHashMap[String, Double]()
    if (a.trace) {
      layer("lake.open_ms") = Stats.median(openMs.toSeq)
      (Writes ++ Reads ++ Maintenance).foreach { k =>
        layer(s"lake.${k}_ms") = Stats.median(lat(Set(k)))
      }
      tracer.foreach { tr =>
        val jobs = writes.map(o => tr.jobsIn(o.startMs, o.endMs))
        val wallMs = writes.map(o => (o.endMs - o.startMs).toDouble).sum
        val outside = writes.zip(jobs).map { case (o, js) =>
          (o.endMs - o.startMs) - Tracer.covered(js, o.startMs, o.endMs) }.sum
        layer("lake.jobs_per_write") = jobs.map(_.size).sum.toDouble / math.max(1, writes.size)
        layer("lake.outside_job_frac_write") = if (wallMs > 0) outside / wallMs else 0.0
      }
      layer("lake.write_amp") =
        bytesAdded.values.sum.toDouble / math.max(1.0, changedRows * plainBytes.toDouble / rows)
      layer("lake.files_live") = t.fileNames(t.currentVersion).size
      layer("lake.log_versions") = t.history().size
      layer("lake.dv_debt") = if (dvDebt.isEmpty) 0.0 else dvDebt.sum / dvDebt.size
      layer("lake.files_read_per_pruned_read") =
        if (prunedFiles.isEmpty) 0.0 else prunedFiles.sum.toDouble / prunedFiles.size
      layer ++= e2e.map { case (k, v) => s"lake.$k" -> v }
    }
    LakeOut(e2e, layer.toMap, 1, failures.toSeq)
  }

  private def dirBytes(): Long = treeBytes(java.nio.file.Paths.get(path))

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

object LakeWorkload {
  val PriceCol = "o_totalprice"
  val Writes: IndexedSeq[String] =
    Vector("append", "delete", "delete_mor", "update", "update_mor", "merge", "merge_mor")
  val Reads: IndexedSeq[String] = Vector("read", "pruned_read", "time_travel", "stats_report")
  val Maintenance: Seq[String] = Seq("compact", "purge", "vacuum")
  val Cycle: Seq[String] = Seq("append", "read", "delete", "pruned_read", "update",
    "time_travel", "merge", "stats_report", "delete_mor", "read", "update_mor", "pruned_read",
    "merge_mor", "time_travel", "stats_report")
  val SmallFileRows = 5000L
  val TargetRows = 40000L
  val PurgeDebt = 0.0
  val RetainVersions = 8
  val TravelBack = 4
  val InitialFiles = 8

  /** One logged operation: its drawn parameters, the version it wrote or
    * read, the key block of its fresh rows and the fingerprint it read. */
  final case class Entry(kind: String, lo: Long, hi: Long, delta: Double, version: Int,
      readVersion: Int, seq: Int, fp: Option[Fp], op: Int)
}
