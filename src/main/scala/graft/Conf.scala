package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for running graft at cluster scale.
  * The driver harness builds its own session; these are the settings a
  * production deployment applies (all standard public Spark confs).
  */
object Conf {

  /** Apply scale-oriented defaults to a session builder.
    *
    * @param shufflePartitions target ~128–200 MB per shuffle partition:
    *        total shuffle bytes / 150MB, rounded to cores multiple.
    */
  def recommended(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime coalescing, skew-join splitting, runtime replans.
      // Load-bearing for the pair-scan joins (measured 9x on the dedup
      // BNLJ self-joins) — keep ON for batch. Streaming jobs pin it off
      // per microbatch run themselves (StreamingJobs.run):
      // stateful ops disable it anyway and stateless stages would pay a
      // full replan every microbatch (measured 3-4x).
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // scan parallelism: 128MB splits keep task count sane at 100 TB
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // dims broadcast up to 64MB — covers all dimension tables here
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // deterministic timestamps everywhere
      .config("spark.sql.session.timeZone", "UTC")
      // custom function + fusion rule for SQL users; programmatic
      // withExtensions also covers sessions created against an existing
      // SparkContext, where the static conf is not re-read
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .withExtensions(new graft.plans.GraftExtensions()(_))

  /** The session graft.Bench runs on, for the probe mains: local mode on
    * SPARK_GRAFT_CPUS cores (default 32) with as many shuffle partitions,
    * AQE on, and GraftExtensions.
    */
  def benchSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
