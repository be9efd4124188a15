package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling curves: runMain graft.ScaleBench [factor].
  *
  * Deterministically synthesizes a `factor`x (default 10x) corpus from
  * the sf0.1 tables — `factor` stacked copies with id offsets and
  * per-copy content perturbation chosen so the DUPLICATE/JOIN STRUCTURE
  * repeats per copy instead of multiplying across copies:
  *  - documents: every token of copy c>0 gets a `~c` suffix — within-copy
  *    Jaccard/minhash/simhash structure is identical to copy 0, cross-copy
  *    similarity collapses to ~0, so pair counts scale linearly like a
  *    corpus that is genuinely 10x bigger (not 100x denser).
  *  - embeddings: copy c's vectors are rotated c dimensions — norms and
  *    within-copy geometry preserved, cross-copy cosine decorrelated.
  *  - events/customer: ids offset by c·10⁹, event ts shifted c days —
  *    per-user session/range structure repeats per copy.
  * Then times the scale-path query family at 1x vs `factor`x and the
  * documented O(n²) exact baselines at 1x vs 2x (the contrast), printing
  * one JSON line. A scale-path query is healthy when t(10x)/t(1x) stays
  * near-linear (≤ ~12x); the quadratic baselines are expected at ~4x for
  * 2x data. Both reps of every timing are reported; min is the headline
  * (same host-freeze rationale as Bench).
  */
object ScaleBench {

  private val Stride = 1000000000L

  private def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val ready = java.nio.file.Paths.get(outDir, "_READY")
    if (java.nio.file.Files.exists(ready)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def copies(df: DataFrame)(tf: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => tf(df, c)).reduce(_ unionAll _)

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    copies(docs) { (df, c) =>
      df.select(
        (col("doc_id") + lit(c * Stride)).as("doc_id"),
        (if (c == 0) col("text")
         else array_join(transform(split(col("text"), " "),
           t => concat(t, lit(s"~$c"))), " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    // dim is read off the data once, not assumed: a testdata
    // regeneration with a different dimensionality must not silently
    // emit truncated or empty vectors into the scaled corpus
    val embDim = emb.select(size(col("embedding"))).head.getInt(0)
    require(embDim > 0, "embeddings table has empty embedding vectors")
    copies(emb) { (df, c) =>
      // rotation wraps at the measured vector geometry (64 in today's
      // testdata): rotate by c mod dim, and REVERSE the vector on
      // every odd wrap generation so copies past c=dim-1 stay
      // decorrelated from the unrotated generation (the old unwrapped
      // slice went negative-length at c ≥ dim — the 100x bug)
      val dim = embDim
      val r = c % dim
      val base =
        if ((c / dim) % 2 == 1) reverse(col("embedding")) else col("embedding")
      val rotated =
        if (r == 0) base
        else concat(slice(base, r + 1, dim - r), slice(base, 1, r))
      df.select(
        (col("vec_id") + lit(c * Stride)).as("vec_id"),
        rotated.as("embedding"),
        col("label"))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // load through Tables.events so the ts encoding drift is handled in
    // one place; copies are shifted by c days to keep ts values distinct
    val ev = Tables.events(spark, baseDir)
    copies(ev) { (df, c) =>
      df.select(
        (col("event_id") + lit(c * Stride)).as("event_id"),
        (col("ts") + expr(s"INTERVAL '$c' DAY")).as("ts"),
        (col("user_id") + lit(c * Stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val cust = spark.read.parquet(s"$baseDir/customer.parquet")
    copies(cust) { (df, c) =>
      df.select((col("c_custkey") + lit(c * Stride)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // orders: keys offset per copy — group count stays at the handful of
    // order statuses, so per-group top-k pressure grows linearly
    val ord = spark.read.parquet(s"$baseDir/orders.parquet")
    copies(ord) { (df, c) =>
      df.select((col("o_orderkey") + lit(c * Stride)).as("o_orderkey"),
        (col("o_custkey") + lit(c * Stride)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // lineitem: order/part/supplier keys offset per copy — the
    // co-purchase graph becomes `factor` disjoint copies, so edge count
    // and PageRank work scale linearly (never cross-copy quadratic)
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    copies(li) { (df, c) =>
      df.select((col("l_orderkey") + lit(c * Stride)).as("l_orderkey"),
        (col("l_partkey") + lit(c * Stride)).as("l_partkey"),
        (col("l_suppkey") + lit(c * Stride)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    java.nio.file.Files.createFile(ready)
  }

  /** Queries whose staged artifacts must be wiped before timing so both
    * scales measure full compute (dedup_keep intentionally NOT listed —
    * it is declared as the consumer of the staged components frame, and
    * its scaling is the anti-join on top).
    */
  private def wipeStaging(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    tmp.listFiles((_, n) => n.startsWith("graft_components_v1_") ||
        n.startsWith("graft_edges_"))
      .foreach { d => d.listFiles().foreach(_.delete()); d.delete() }
  }

  // scale-path family: these must stay near-linear at 10x
  private val scaleFamily = Seq(
    "dedup_norm", "dedup_minhash", "dedup_simhash",
    "dedup_simhash64", "dedup_components_lsh",
    "sim_ann_ivf", "sim_ann_kmeans", "join_range_binned", "join_skew_salted",
    "sessionize_batch", "doc_tfidf", "text_tokens", "doc_pack",
    "doc_bm25", "text_contamination", "domain_mix", "text_repetition",
    "graph_pagerank",
    // round-5 late additions: one-window-pass as-of (linear), k-bounded
    // heap agg (linear), depth-bounded recursive BFS (edge-build linear)
    "join_asof_nearest", "agg_topk_heap", "graph_bfs_rcte",
    // round-6 additions: PQ ANN (linear code scan), CMS sketch (const
    // partials), EWMA / running-distinct / rolling-regr (one keyed
    // window pass each), Gopher gate (pure projection), regression
    // aggregates (single-pass co-moments)
    "sim_ann_pq", "sketch_cms", "ts_ewma", "win_running_distinct",
    "win_rolling_regr", "win_rolling_median", "text_gopher_rules",
    "agg_regression", "agg_percentile_disc", "graph_common_neighbors",
    // round-6 §2.13 additions (dedup_fuzzy excluded only because part
    // is not synthesized; its pair space is vocabulary-bounded by
    // construction): islands window, linear doc/event passes, wedge +
    // peel graph ops, one-scan-per-iter power iteration, candidate-
    // bounded MMR, ntile RFM (single-partition sort caveat, observed)
    "win_gap_islands", "text_stopword_prune", "doc_prefix_dedup",
    "events_pmi", "events_entropy", "doc_shuffle_shard", "graph_kcore",
    "emb_pca_power", "sim_mmr", "ts_seasonal_naive", "orders_rfm",
    "sample_weighted", "sessionize_native", "agg_multi_distinct",
    // later §2.13 batches: wedge-join assortativity, windowed CUSUM /
    // frontier / interarrival passes, replicated-grid DAU-WAU,
    // truncated-dim ANN, decimal-cumsum Pareto, typed max-by reduction
    "graph_assortativity", "ts_cusum", "orders_interarrival",
    "events_dau_wau", "orders_price_frontier", "sim_ann_trunc",
    "orders_pareto", "typed_dataset_ops", "fn_array_setops",
    "doc_filter_waterfall",
    // round-11 additions: broadcast-normalized feature transforms
    // (grouped moments / one-row extrema back over the scan), daily-
    // aggregate time-series estimators (quadratic only in calendar
    // buckets), oriented per-node triangle/label-prop/2-hop graph
    // passes (shuffle O(triangles) / O(edges) / Σd²-with-distinct),
    // posexplode embedding audits, and the two-shuffle cohort LTV.
    // orders_price_elasticity is excluded only because part is not
    // synthesized (offset partkeys would empty its join).
    "feat_zscore", "feat_bucketize", "feat_target_encode",
    "feat_quantile_bin", "graph_clustering_coef", "graph_label_prop",
    "graph_two_hop", "emb_dim_stats", "sim_centroid_classify",
    "emb_norm_qc", "events_mutual_info", "text_burstiness",
    "orders_cohort_ltv", "domain_mix_temperature", "ts_theil_sen",
    "sample_systematic",
    // round-12 scale twins: adaptive-group pair sampling (~125 vectors
    // per md5-prefix group, so sampled pairs stay ~n·62 — linear) and
    // the mutually degree-capped graph variants (work ≤ n·cap²)
    "sim_pair_hist_sampled", "graph_two_hop_capped",
    "graph_clustering_coef_capped",
    // the range-partitioned-rank rewrites of the two single-partition
    // window forms — exact results, parallel sort
    "feat_quantile_bin_scaled", "sample_systematic_scaled",
    // round-12 second batch: per-day boundary sweep, per-user in-array
    // day pairs, month-keyed ratio window, hash groupBys
    "events_peak_concurrency", "events_day_overlap",
    "win_ratio_to_report", "dedup_url", "mm_payload_dedup",
    "sample_reservoir_hash", "emb_outlier_mahal",
    "text_perplexity_filter",
    // round-13 de-quadratification: the declared reports' exact ground
    // truth is now the md5-group pair SAMPLE (DedupOps.
    // nearJaccardPairsSampled / SimilarityOps.nearDupPairsSampled /
    // containmentPairsFilteredSampled) — linear pair volume, equi-join
    // on the group key — so all four leave the x2 contrast set and must
    // hold near-linear at the full factor
    "dedup_pipeline", "emb_neardup_lsh", "dedup_semantic",
    "dedup_containment_filtered",
    // round-13 pack: block-hash dedup (one keyed shuffle), broadcast
    // bucket/count tables (dsir / kn / f2), B=32 replicate explode with
    // map-side partials (bootstrap), broadcast-dim joins (scd2 asof /
    // asof+tolerance), keyed windows (shard manifest / changepoint),
    // 7-day explode equi-shuffle (rolling distinct), stratum windows
    // (neyman), enum-bounded driver iteration over distributed counts
    // (markov). stat_bh_fdr's window runs over |nations| rows only.
    "dedup_paragraph", "text_dsir", "stat_bootstrap_ci",
    "agg_f2_selfjoin", "join_scd2_asof", "events_markov_stationary",
    "mm_shard_manifest", "sample_neyman", "text_kn_bigram",
    "ts_changepoint_binary", "events_rolling_distinct",
    "join_asof_tolerance", "stat_bh_fdr",
    // round-13 second batch: k-capped neighbor sampling (n·k² fanout),
    // calendar-bounded ESD rounds, cluster-sample windows (stage-1
    // list broadcast), one-agg DiD, mergeable HLL sketches + one exact
    // audit join, occupancy-bounded grid spatial join
    "graph_sample_neighbors", "ts_esd_outliers", "sample_two_stage",
    "stat_did", "sketch_hll_intersect", "join_spatial_grid",
    // round-13 third batch: keyed-window CDC chunking, per-user moment
    // aggregation + broadcast θ (CUPED), two-group chi-square (SRM),
    // degree-capped Adamic-Adar wedges (n·cap²)
    "dedup_cdc", "stat_cuped", "stat_srm", "graph_adamic_adar_capped",
    // round-13 fourth batch: stratum windows, hash-split coverage join,
    // base-weighted index agg, 24-bin chi-square
    "sample_balanced", "text_train_coverage", "orders_price_index",
    "events_hour_uniformity",
    // round-14: graph ANN — corpus-sized SRP buckets keep init-edge
    // volume linear; NN-descent is O(n·m²); beam search is per-query
    // constant work. Hashed KN: 256-bucket token alphabet saturates
    // every count table regardless of vocabulary growth.
    "sim_ann_graph", "sim_ann_graph_staged", "text_kn_bigram_hashed",
    // round-14 pack: enum-bounded group windows (gini / quantile CI /
    // percent_rank), calendar-bounded day pairs (MAD / Mann-Kendall),
    // shingle hash groupBys (soft weights / novelty), broadcast scalar
    // stats (power / importance / funnel time), O(E)-per-iter power
    // iteration (eigen centrality). orders_price_index-class shapes.
    "agg_gini", "agg_theil", "ts_mad_anomaly", "stat_power_twoprop",
    "stat_quantile_ci", "stat_mann_kendall", "dedup_soft_weights",
    "sample_importance", "text_ngram_novelty", "events_funnel_time",
    "win_percent_rank", "graph_eigen_centrality",
    "stat_welch_ttest", "stat_chisq_independence", "stat_levene",
    "text_heaps_law", "text_js_divergence", "ts_weekday_strength",
    "ts_naive_mape", "graph_rich_club", "sample_pps",
    "stat_cohens_d", "stat_runs_test", "stat_jarque_bera",
    // round-15: the end-to-end corpus-build flagship — every stage is
    // linear (hash groupBy / sampled pair spine / broadcast gates /
    // per-shard cumsum), so the chain must hold near-linear too
    "pipeline_corpus_build",
    // round-15 operator batches (Ext14/Ext15/Ext16): token-stream
    // shuffles (simpson / yule / tfidf / zipf / mattr), customer- or
    // user-keyed aggs with scalar formulas (tost / mcnemar / cochran /
    // friedman / LOO encoding / bounce / retention / interarrival),
    // calendar-bounded day scans (kendall / granger / ses backtest),
    // value-domain rank tables (kruskal), 200-replica explode with
    // map-side partials (permutation), enum-bounded contingencies
    // (gtest / bartlett / woe), md5-group pair sample (lsh curve)
    "stat_kruskal_wallis", "stat_gtest", "stat_permutation_test",
    "stat_tost_equivalence", "text_simpson_diversity", "text_mattr",
    "events_bounce_rate", "ts_ses_backtest", "text_zipf_ols",
    "text_yule_k", "stat_bartlett", "stat_mcnemar", "feat_woe",
    "events_retention_matrix", "stat_kendall_tau", "stat_cochran_q",
    "stat_friedman", "ts_granger_lite", "events_interarrival_cv",
    "feat_target_encode_loo", "text_tfidf_top", "dedup_lsh_curve",
    // round-15 Ext17 batch: value-domain cum windows (cvm / degree
    // gini), keyed aggs (sign test / hashing trick / LOO), user-window
    // session spine (duration), vocabulary-bounded source overlap,
    // shingle-stream df profile, and the staged-adjacency ANN search
    // tier (construction amortized — the warm rep measures search only)
    "stat_cvm_twosample", "stat_sign_test", "ts_symbolic_entropy",
    "graph_degree_gini", "feat_hashing_trick", "events_session_duration",
    "text_source_overlap", "dedup_shingle_profile",
    // round-15 Ext18 batch: bounded-domain cum windows (weighted
    // median / activity concentration), keyed aggs + scalar formulas
    // (poisson rate / design effect / bowker / turning points), degree
    // join over edges (avg neighbor degree), md5-group pair sample
    // (hubness)
    "agg_weighted_median", "stat_poisson_rate", "graph_avg_neighbor_degree",
    "sample_design_effect", "stat_bowker", "ts_turning_points",
    "emb_hubness_sampled", "events_activity_concentration")

  // documented O(n²) exact baselines: expected ~4x at 2x data — the
  // contrast that motivates their scale twins above. dedup_components/
  // dedup_keep/dedup_components_logstar sit here because their INPUT is
  // the exact banded pair scan (the clustering itself is linear —
  // dedup_components_lsh above is the same clustering on bucketed pairs)
  // dedup_incremental sits here because ScaleBench scales BOTH sides:
  // its banded new×corpus scan is then quadratic like dedup_near. In
  // production the new batch is constant-sized, so cost grows linearly
  // with the corpus (and the corpus side gets LSH-bucketed first).
  private val quadFamily = Seq(
    "dedup_near", "dedup_ngram", "sim_cosine_topk", "emb_neardup",
    "dedup_components", "dedup_keep", "dedup_components_logstar",
    "dedup_incremental",
    // full ordered-pair scan BY DESIGN (containment has no size band);
    // the sampled prefix-filter composition is its scale twin
    "dedup_containment",
    // round-11: all-pairs cosine histogram — the declared exact-tier
    // diagnostic (pair sampling is its 100 TB form)
    "sim_pair_hist")
    // round-13: dedup_pipeline / emb_neardup_lsh / dedup_semantic /
    // dedup_containment_filtered moved UP to scaleFamily — their
    // declared exact baselines are now md5-group pair samples (linear),
    // closing the round-12 weak set (72x/115x at 30x were the in-band
    // exact spines, not the physical candidate paths)

  // lake-format family: each declared query BUILDS its table from the
  // scaled orders/documents inside the timed region (the documented
  // construction-heavy lake shape), so ~linear ratios here prove the
  // whole write+mutate+read path — staging, stats job, constraint
  // enforcement, DV sidecar write, concurrent rebase — scales with the
  // data. Streaming lake queries are excluded (trigger pacing, not
  // data volume, dominates their time).
  private val lakeFamily = Seq(
    "lake_merge", "lake_delete_dv", "lake_restore", "lake_constraints",
    "lake_concurrent", "lake_prune_string", "lake_partition_prune",
    "lake_sql_dml", "lake_rename", "lake_bucket_join",
    "lake_sql_time_travel",
    // round-13: bloom build is one distributed bit_or pass + a
    // manifest-plane collect; MV init is the full aggregate but its
    // refresh folds only the delta; stats report is manifest-only on
    // top of the create's stats job
    "lake_bloom_prune", "lake_mv_incremental", "lake_stats_report")

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    // optional 2nd arg: comma-separated query filter (ad-hoc iteration
    // on one family member without paying for the whole sweep)
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").toSet)
    def keep(names: Seq[String]): Seq[String] =
      names.filter(n => only.forall(_.contains(n)))
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val root = "/tmp/graft_scale"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    synthesize(spark, baseDir, s"$root/x$factor", factor)
    synthesize(spark, baseDir, s"$root/x2", 2)

    def time(name: String, dir: String): (Double, Double) = {
      def once(): Double = {
        if (name.startsWith("dedup_components")) wipeStaging()
        val t0 = System.nanoTime()
        // a thrown query (e.g. an explosion that kills executors) must
        // not abort the whole measurement run — record -1 and move on
        val d = try { SparkEntry.queries(name)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[scale] $name $dir FAILED: ${e.getClass.getSimpleName}")
          -1.0
        }
        try spark.catalog.clearCache() catch { case _: Throwable => () }
        // clearCache drops SQL-cache entries only; localCheckpoint blocks
        // (CC rounds) are RDD-level and otherwise persist until a full GC
        // runs ContextCleaner — across a 40-timing session they fill
        // storage memory and evict the caches the self-joins depend on
        // (measured: dedup_components_lsh 296 s mid-session vs 9 s clean)
        try spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        catch { case _: Throwable => () }
        d
      }
      // dedup_keep must see a staged frame, like in the declared suite
      if (name == "dedup_keep") {
        wipeStaging()
        try SparkEntry.queries("dedup_components")(spark, dir).count()
        catch { case _: Throwable => () }
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
      val a = once(); val b = once()
      System.err.println(f"[scale] $name%-26s $dir%-22s $a%7.2f / $b%7.2f s")
      (a, b)
    }

    def best(a: Double, b: Double): Double = {
      val ok = Seq(a, b).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def runSet(names: Seq[String], bigDir: String, f: Int): String =
      names.map { n =>
        val (a1, b1) = time(n, baseDir)
        val (a2, b2) = time(n, bigDir)
        val t1 = best(a1, b1); val tN = best(a2, b2)
        val ratio = if (t1 > 0 && tN >= 0) tN / t1 else -1.0
        f""""$n":{"t1":$t1%.3f,"t$f":$tN%.3f,"ratio":$ratio%.2f}"""
      }.mkString("{", ",", "}")

    // DV read-overhead: the broadcast-pinned mask must keep scan cost
    // FLAT as merge-on-read deletes accumulate sidecars — the read-side
    // half of the deletion-vector trade. Measured on one 8-file table:
    // full-scan aggregate at 0, 1, and 8 accumulated sidecars.
    def dvProbe(): String = {
      import org.apache.spark.sql.functions._
      val path = s"$root/dv_overhead"
      graft.deleteRecursively(java.nio.file.Paths.get(path))
      val b = spark.read.parquet(s"$baseDir/orders.parquet").select(
        col("o_orderkey").cast("long").as("k"), col("o_totalprice").as("price"))
      val t = graft.lake.LakeTable.create(spark, path,
        b.repartitionByRange(8, col("k")), Seq("k"))
      def scanTime(): Double = {
        val t0 = System.nanoTime()
        t.scan().agg(count(lit(1)), sum(col("price"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      def best2(): Double = math.min(scanTime(), scanTime())
      val t0dv = best2()
      t.deleteWhereMoR(col("k") % 997 === 1)
      val t1dv = best2()
      (2 to 8).foreach(i => t.deleteWhereMoR(col("k") % 997 === i))
      val t8dv = best2()
      f"""{"scan_0dv":$t0dv%.3f,"scan_1dv":$t1dv%.3f,"scan_8dv":$t8dv%.3f}"""
    }

    // 100 TB control-plane point: delta-log reconstruction + commit
    // latency at a 50k-file manifest (see LakeLogProbe)
    def logProbe(): String = {
      val path = s"$root/log50k_${System.nanoTime()}"
      val (recMs, comMs, bytes, n) =
        graft.lake.LakeLogProbe.run(spark, path, nFiles = 50000, nDeltas = 25)
      f"""{"n_files":$n,"reconstruct_ms":$recMs%.1f,"commit_ms":$comMs%.1f,"delta_bytes":$bytes}"""
    }

    val scaleJson = runSet(keep(scaleFamily), s"$root/x$factor", factor)
    val quadJson = runSet(keep(quadFamily), s"$root/x2", 2)
    val lakeJson = runSet(keep(lakeFamily), s"$root/x$factor", factor)
    val dvJson = if (only.isEmpty || only.exists(_.contains("dv_overhead")))
      dvProbe() else "{}"
    val logJson = if (only.isEmpty || only.exists(_.contains("log_50k")))
      logProbe() else "{}"
    println(s"""{"metric":"scale_curves","base":"$baseDir","factor":$factor,""" +
      s""""scale_paths":$scaleJson,"quad_baselines_x2":$quadJson,""" +
      s""""lake_paths":$lakeJson,"dv_read_overhead":$dvJson,""" +
      s""""log_50k":$logJson}""")
    spark.stop()
  }
}
