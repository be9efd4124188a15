package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming trigger probe: runMain graft.QProbe [<name> [<sfDir> [<reps>]]]
  * runs a streaming declared query (default stream_stream_full_outer on
  * SPARK_GRAFT_SF_DIR, 2 reps) on Bench's session (Conf.benchSession)
  * and prints, per trigger, its phase durations (queryPlanning /
  * getBatch / addBatch / walCommit / commitOffsets ...) and, per state
  * operator, its state figures: rows total and updated, the commit,
  * update and removal times and the operator's custom metrics (store
  * load time, state-store instances, ...).
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val s = Conf.benchSession()
    val name = args.headOption.getOrElse("stream_stream_full_outer")
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("usage: graft.QProbe [<name> [<sfDir> [<reps>]]], " +
        "sfDir defaulting to SPARK_GRAFT_SF_DIR"))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    // println is fine here: driver-side diagnostic tool, not an operator
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[qprobe] query started ${System.currentTimeMillis()}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[qprobe] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${new java.util.TreeMap[String, java.lang.Long](p.durationMs)}")
        p.stateOperators.zipWithIndex.foreach { case (op, i) =>
          println(s"[qprobe]   state[$i] ${op.operatorName} rowsTotal=${op.numRowsTotal} " +
            s"rowsUpdated=${op.numRowsUpdated} commitTimeMs=${op.commitTimeMs} " +
            s"allUpdatesTimeMs=${op.allUpdatesTimeMs} " +
            s"allRemovalsTimeMs=${op.allRemovalsTimeMs} " +
            s"custom=${op.customMetrics.asScala.toSeq.sortBy(_._1).mkString("{", ", ", "}")}")
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[qprobe] query terminated ${System.currentTimeMillis()}")
    })
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(s, dir).count()
      println(f"[qprobe] $name rep$i rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      try s.catalog.clearCache() catch { case _: Throwable => () }
      try s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      catch { case _: Throwable => () }
    }
    s.stop()
  }
}
