package graft

import org.apache.spark.sql.SparkSession

/** Plan dumper: runMain graft.QPlan [<name>[,<name>…]] — prints the
  * formatted physical plan of each declared query (all of them, in name
  * order, when no list is given) on SPARK_GRAFT_SF_DIR, one
  * `[qplan-begin] <name>` … `[qplan-end] <name>` block per key.
  *
  * The session is Bench's (local[SPARK_GRAFT_CPUS] with as many shuffle
  * partitions, AQE on, GraftExtensions), so the dumps are the plans the
  * bench runs; the cache is cleared between keys as Verify does. A key
  * whose build throws prints `[qplan-failed] <name>: <message>`.
  */
object QPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = args.headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val formatted = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    // println is fine here: driver-side diagnostic tool, not an operator
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(s"[qplan-begin] $name")
        println(df.queryExecution.explainString(formatted))
        println(s"[qplan-end] $name")
      } catch { case e: Throwable =>
        println(s"[qplan-failed] $name: ${e.getMessage}")
      }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
