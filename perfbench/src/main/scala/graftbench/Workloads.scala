package graftbench

/** The key set of each workload, fixed by name. The seed only permutes
  * the order of a pass (and, for lake_dml, draws the operation stream). */
object Workloads {
  val all: Seq[String] = Seq("relational", "llm_pipeline", "lake_dml", "streaming")

  def keys(workload: String): Seq[String] = workload match {
    case "relational" => Seq("tpch_q1", "tpch_q3", "join_shuffle", "join_broadcast",
      "agg_cube", "win_rank", "etl_pipeline")
    case "llm_pipeline" => Seq("dedup_components_lsh", "sim_ann_graph", "graph_eigen_centrality",
      "dedup_minhash", "sim_cosine_topk", "graph_triangles")
    case "streaming" => Seq("stream_stream_full_outer", "stream_stream_outer", "stream_tumbling",
      "stream_dedup", "stream_static_join", "stream_stateful", "stream_foreachbatch")
    case "lake_dml" => Seq.empty
  }

  /** Declared queries run once, in the first set-up, to warm the JVM
    * (class loading, JIT of the planner and code generator) before the
    * measured passes; none of them is measured. */
  def warmup(workload: String): Seq[String] = workload match {
    case "relational" | "llm_pipeline" => Seq("tpch_q6", "agg_global", "join_semi", "win_running")
    case "streaming" => Seq("stream_global_agg", "stream_tumbling_batch")
    case "lake_dml" => Seq.empty // the lake warms up on a scratch table
  }

  /** Passes of one run: a fixed number per 10 s of `--seconds`, rounded
    * up (a `lake_dml` cycle takes 6-8 s on a 4-core host, a `streaming`
    * pass 22-29 s). The count depends on the arguments alone, not on how
    * fast a pass runs, so every commit measures the same operations and
    * the same latency percentiles. */
  def passes(workload: String, seconds: Double): Int = {
    val per10s = if (workload == "lake_dml") 2 else 1
    math.max(1, math.ceil(seconds * per10s / 10).toInt)
  }
}
