package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, fingerprints: String, out: String, spans: String,
    record: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", req("data"), req("work"),
      m.getOrElse("fingerprints", ""), req("out"), m.getOrElse("spans", ""),
      m.getOrElse("record", "0") == "1")
  }
}

/** One benchmark run inside one JVM: set up (several times, for a
  * median set-up time), run the workload's closed loop for a fixed
  * number of whole passes, check every result, and write the run record
  * as JSON for the launcher.
  */
object Main {

  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workloads.all.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.all.mkString(", ")}")
    require(Files.isRegularFile(Paths.get(a.data, "orders.parquet")),
      s"no sf tables under ${a.data}")
    val run = new Run(a)
    try {
      val rec = if (a.record) run.record() else run.measure()
      Files.writeString(Paths.get(a.out), json(rec) + "\n")
    } finally run.close()
  }
}

final class Run(a: Args) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val work = Paths.get(a.work)
  private val os = ManagementFactory.getOperatingSystemMXBean
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private var lake: LakeWorkload = _

  private def newSession(): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"graftbench-${a.workload}")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .withExtensions(new graft.plans.GraftExtensions()(_))
    .getOrCreate()

  /** Session start, JVM warm-up (the graft.Bench warm-up), the staged
    * artifacts this workload's operators read, and the lake table. */
  private def setupOnce(first: Boolean): Unit = {
    spark = newSession()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${a.data}/region.parquet").count()
    if (first) Workloads.warmup(a.workload).foreach { k =>
      Fingerprint.read(Fingerprint.of(graft.SparkEntry.queries(k)(spark, a.data)))
      hygiene()
    }
    a.workload match {
      case "llm_pipeline" =>
        graft.operators.AnalyticsQueries.warmStaging(spark, a.data)
      case "streaming" =>
        graft.streaming.StreamingDeclared.warmStaging(spark, a.data)
      case "lake_dml" =>
        if (first) {
          // unrecorded operations on a scratch table warm the lake paths
          val w = new LakeWorkload(spark, a, work.resolve("lake").resolve("warmup"), sliceOf = 10)
          w.create()
          recording = false
          val w0 = System.nanoTime()
          try w.warmup(this, new scala.util.Random(0)) finally recording = true
          System.err.println(f"[perfbench] lake warm-up: ${(System.nanoTime() - w0) / 1e9}%.2f s")
          deleteTree(work.resolve("lake").resolve("warmup"))
        }
        lake = new LakeWorkload(spark, a, work.resolve("lake"))
        lake.create()
      case _ => ()
    }
    spark.catalog.clearCache()
  }

  /** Stop the session and wipe everything the set-up staged, so the next
    * set-up repeats the full work instead of finding it on disk. */
  private def teardown(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Seq(tmp, work.resolve("lake"), work.resolve("warehouse")).foreach { d =>
      if (Files.isDirectory(d)) Files.list(d).iterator().asScala.toList.foreach(deleteTree)
    }
  }

  private def setup(): Seq[Double] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    (0 until Run.Setups).map { i =>
      if (i > 0) teardown()
      val t0 = System.nanoTime()
      setupOnce(first = i == 0)
      // the first set-up also pays JVM start, class loading and the
      // warm-up queries; later ones run in the warm JVM
      if (i == 0) (System.currentTimeMillis() - jvmStart) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
  }

  def close(): Unit = if (spark != null) spark.stop()

  // ---- live heap -----------------------------------------------------------

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  private var probeGcMs = 0L // collections the probe itself forces

  /** Old-generation occupancy right after a full collection: the live
    * set the driver JVM retains at this point. */
  private def liveHeapMb(): Double = {
    val gc0 = gcMs()
    def collect(): Double = {
      System.gc()
      oldGen.map(_.getUsage.getUsed)
        .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
    }
    // collect until three collections in a row, 250 ms apart, free
    // nothing more: right after a pass about 65 MB is often still held
    // and is released only 0.25-0.5 s later (Spark's ContextCleaner frees
    // blocks after a collection has enqueued their weak references), so
    // a shorter wait reads that memory as live in some runs
    val seen = mutable.ArrayBuffer(collect())
    var still = 0
    while (still < 3 && seen.size < 12) {
      Thread.sleep(250)
      seen += collect()
      still = if (seen.last < seen.init.min - 1.0) 0 else still + 1
    }
    probeGcMs += gcMs() - gc0
    System.err.println(f"[perfbench] live heap: ${seen.map(m => f"$m%.1f").mkString(" ")} MB")
    seen.min
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs(): Long =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)

  // ---- operations ----------------------------------------------------------

  private val ops = mutable.ArrayBuffer[OpRec]()
  private var recording = true

  private def phase(p: String): Unit = {
    spark.sparkContext.setLocalProperty(Tracer.PhaseProp, p)
  }

  /** Time one operation as build / plan / exec spans. `build` calls the
    * public entry point; it returns the DataFrame whose fingerprint is
    * the timed action (None for operations that are complete once
    * called, such as lake writes). `check` judges the fingerprint. */
  def timed(name: String, kind: String)(build: => Option[DataFrame])
      (check: Option[Fp] => Boolean): (OpRec, Option[Fp], Option[DataFrame]) = {
    val idx = ops.size
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProp, idx.toString)
    // span boundaries: build | plan | exec | end, in ns and epoch ms
    val ns = Array.fill(4)(0L)
    val ms = Array.fill(4)(0L)
    def mark(i: Int): Unit = { ns(i) = System.nanoTime(); ms(i) = System.currentTimeMillis() }
    var fp: Option[Fp] = None
    var agg: Option[DataFrame] = None
    var err = ""
    phase("build")
    mark(0)
    val ok = try {
      val df = build
      mark(1)
      phase("plan")
      agg = df.map(Fingerprint.of)
      agg.foreach(_.queryExecution.executedPlan)
      mark(2)
      phase("exec")
      fp = agg.map(Fingerprint.read)
      check(fp)
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        false
    }
    mark(3)
    // a failed span runs to the end; the spans after it are empty
    for (i <- 1 to 2 if ns(i) == 0L) { ns(i) = ns(3); ms(i) = ms(3) }
    sc.setLocalProperty(Tracer.OpProp, null)
    sc.setLocalProperty(Tracer.PhaseProp, null)
    if (!ok && err.isEmpty) err = s"fingerprint mismatch: got ${fp.map(_.render).getOrElse("none")}"
    val rec = OpRec(idx, name, kind, ms(0), ms(1), ms(2), ms(3),
      ns(1) - ns(0), ns(2) - ns(1), ns(3) - ns(2), ok, err)
    if (recording) ops += rec
    (rec, fp, agg)
  }

  /** Drop what an operation left cached, as graft.Bench does between
    * queries, and stop any stream an operation failed to stop. Blocks
    * are removed synchronously, so the next operation and the live-heap
    * probe never see a half-finished cleanup. */
  def hygiene(): Unit = {
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    catch { case _: Throwable => () }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
  }

  private def expected(): Map[String, Fp] =
    if (a.fingerprints.isEmpty || !Files.exists(Paths.get(a.fingerprints))) Map.empty
    else Files.readAllLines(Paths.get(a.fingerprints)).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(Fingerprint.parse).toMap

  private def queryOp(key: String, check: Option[Fp] => Boolean): (OpRec, Option[Fp]) = {
    val fn = graft.SparkEntry.queries(key)
    val (rec, fp, _) = timed(key, "query")(Some(fn(spark, a.data)))(check)
    hygiene()
    (rec, fp)
  }

  // ---- modes ---------------------------------------------------------------

  /** Run every key of the workload once, in list order, and emit the
    * fingerprints (the correctness baseline) with per-key latencies. */
  def record(): Map[String, Any] = {
    setupOnce(first = true)
    val keys = Workloads.keys(a.workload)
    val lines = keys.map { k =>
      val (rec, fp) = queryOp(k, _ => true)
      System.err.println(f"[perfbench] $k%-32s ${rec.latencyMs}%9.1f ms ${if (rec.ok) "" else rec.err}")
      k -> (fp.map(_.render).getOrElse(""), rec.latencyMs, rec.err)
    }
    Map("workload" -> a.workload, "keys" -> lines.map { case (k, (fp, ms, err)) =>
      Map("key" -> k, "fp" -> fp, "ms" -> ms, "err" -> err) })
  }

  def measure(): Map[String, Any] = {
    val loadStart = os.getSystemLoadAverage
    val setupSamples = setup()
    if (a.trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamListener)
      tracer = Some(t)
    }
    val rng = new scala.util.Random(a.seed)
    val want = expected()
    // live heap after each pass; a sample right after set-up would also
    // hold what the stopped set-up sessions left for the next collection
    val heap = mutable.ArrayBuffer[Double]()
    val gc0 = gcMs(); val jit0 = jitMs()
    val passes = Workloads.passes(a.workload, a.seconds)
    val passSeconds = mutable.ArrayBuffer[Double]()
    val loopStart = System.currentTimeMillis()
    for (pass <- 0 until passes) {
      val p0 = System.nanoTime()
      val keys = Workloads.keys(a.workload)
      // the first (coldest) pass runs in list order, so cold costs land on
      // the same keys whatever the seed; later passes are seed-permuted
      if (a.workload == "lake_dml") lake.cycle(this, rng)
      else (if (pass == 0) keys else rng.shuffle(keys)).foreach(k => queryOp(k, want.get(k) == _))
      passSeconds += (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] pass ${pass + 1} of $passes: ${passSeconds.last}%.2f s")
      heap += liveHeapMb()
      val loopS = (System.currentTimeMillis() - loopStart) / 1e3
      if (loopS > Run.LoopBudgetS)
        throw new IllegalStateException(f"$passes passes of ${a.workload} do not fit: " +
          f"${pass + 1} took $loopS%.1f s, over the ${Run.LoopBudgetS}%.0f s budget of a run")
    }
    val loopEnd = System.currentTimeMillis()
    val gcDelta = gcMs() - gc0 - probeGcMs; val jitDelta = jitMs() - jit0
    tracer.foreach(_ => org.apache.spark.GraftbenchBus.drain(spark.sparkContext))
    // untimed: the lake model replay and the space check
    val f0 = System.nanoTime()
    val lakeOut = Option(lake).map(_.finish(ops.toSeq, tracer))
    System.err.println(f"[perfbench] checks after the loop: ${(System.nanoTime() - f0) / 1e9}%.2f s")
    val lakeFailures = lakeOut.map(_.failures).getOrElse(Seq.empty)
    val lat = ops.map(_.latencyMs).toSeq
    val (tailP, tailN) = Stats.tailPercentile(lat.size)
    val (p50, tail) = Stats.latency(lat)
    val failedOps = ops.filterNot(_.ok)
    val attempted = ops.size + lakeOut.map(_.checks).getOrElse(0)
    val failed = failedOps.size + lakeFailures.size
    val wallS = Stats.median(passSeconds.toSeq)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Stats.median(setupSamples),
      "wall_s" -> wallS,
      "latency_p50_ms" -> p50,
      "latency_tail_ms" -> tail,
      "live_heap_mb" -> heap.max)
    val layer = mutable.LinkedHashMap[String, Double]()
    tracer.foreach { t =>
      layer ++= t.summary(ops.toSeq, loopStart, loopEnd, passes, cores)
      layer("driver.gc_ms") = gcDelta.toDouble / passes
      layer("driver.jit_ms") = jitDelta.toDouble / passes
      layer("trace.wall_s") = wallS
    }
    lakeOut.foreach(l => layer ++= l.layer)
    if (a.trace && a.spans.nonEmpty) writeSpans(Paths.get(a.spans))
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "passes" -> passes, "ops" -> ops.size,
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted,
      "e2e" -> (e2e ++ lakeOut.map(_.e2e).getOrElse(Map.empty)).toMap,
      "layer" -> layer.toMap,
      "failures" -> (failedOps.take(20).map(o => s"${o.name}: ${o.err}") ++ lakeFailures.take(20)),
      "host" -> Map(
        "nproc" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")).filterNot(_.contains("=ALL-UNNAMED")),
        "loadavg_start" -> loadStart,
        "loadavg_end" -> os.getSystemLoadAverage,
        "seed" -> a.seed,
        "setup_samples_s" -> setupSamples,
        "live_heap_samples_mb" -> heap.toSeq,
        "latency_tail" -> Map("percentile" -> tailP, "samples_beyond" -> tailN, "samples" -> lat.size)))
  }

  private def writeSpans(path: Path): Unit = {
    val rows = ops.toSeq.map { o =>
      Map("op" -> o.idx, "name" -> o.name, "kind" -> o.kind, "start_ms" -> o.startMs,
        "build_ms" -> o.buildNs / 1e6, "plan_ms" -> o.planNs / 1e6, "exec_ms" -> o.execNs / 1e6,
        "jobs" -> tracer.map(_.opJobs(o.idx)).getOrElse(0), "ok" -> o.ok)
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, Main.json(Map("workload" -> a.workload, "seed" -> a.seed,
      "ops" -> rows)) + "\n")
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p))
      Files.list(p).iterator().asScala.toList.foreach(deleteTree)
    Files.deleteIfExists(p)
  }
}

object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = (p / 100.0) * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The Harrell-Davis estimate of the `p`-th percentile (0 < p < 100):
    * every order statistic weighted by the Beta((n+1)q, (n+1)(1-q)) mass
    * of its rank interval, q = p / 100. Per-operation latencies form
    * clusters (fast reads, slow writes), and a percentile that falls
    * between two clusters jumps from one to the other when a single
    * operation changes side; this estimate moves smoothly instead, as
    * the latencies around the percentile move. */
  def hdPercentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    val q = p / 100.0
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** The highest percentile with at least ten samples beyond it,
    * `100 * (1 - 10 / n)` rounded down, and that count. Below 20 samples
    * it would fall under the median, so the tail is the maximum (p100,
    * none beyond). */
  def tailPercentile(n: Int): (Double, Int) =
    if (n < 20) (100.0, 0)
    else {
      val p = math.floor(100.0 * (1.0 - 10.0 / n))
      (p, math.round(n * (100 - p) / 100).toInt)
    }

  /** Median and tail latency of a set of operations. From 20 samples
    * on (where the tail is below p100) both are Harrell-Davis estimates;
    * below that, the middle sample and the maximum. */
  def latency(xs: Seq[Double]): (Double, Double) = {
    val (tailP, _) = tailPercentile(xs.size)
    if (tailP < 100) (hdPercentile(xs, 50), hdPercentile(xs, tailP))
    else (median(xs), percentile(xs, 100))
  }
}

object Run {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Seconds the passes of one run may take before the run fails, so
    * that set-up, checks and the pass loop end inside the launcher's
    * time limit instead of being killed by it. */
  val LoopBudgetS = 100.0
}
