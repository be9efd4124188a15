package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 operator pack, second batch: cohort lifetime value, embedding
  * per-dimension drift stats, nearest-centroid classification, 2-hop
  * graph reach, referential-integrity audit, log-log price elasticity,
  * Ljung-Box autocorrelation test, Theil/Atkinson inequality indices,
  * rolling correlation, and local-peak detection.
  *
  * Scale notes:
  * - orders_cohort_ltv: two keyed aggregations (first-touch, then
  *   cohort×age cells) + a cumulative window over the ~80×age CELL
  *   table — the raw fact stream shuffles twice on narrow keys, all
  *   money stays exact DECIMAL until the final division.
  * - emb_dim_stats / sim_centroid_classify: the dim-pivot rides ONE
  *   posexplode (row count × 64, all narrow), then hash-aggregates to
  *   |labels|×64; centroids broadcast back so classification is a
  *   map-side codegen dot per (vector, label) — no shuffle of the
  *   embedding corpus beyond the first agg.
  * - graph_two_hop: wedge join is Σd² — the same cost envelope as
  *   graph_common_neighbors; the distinct collapses before the count so
  *   the shuffle carries (node, reached) pairs once.
  * - etl_fk_orphans: each FK edge is a LEFT ANTI join (broadcast when
  *   the parent is dim-sized) aggregated to ONE row — the audit output
  *   is O(#edges), never row-level.
  * - ts_ljung_box / ts_rolling_corr / ts_peaks: all window/corr work
  *   happens on the DAILY aggregate (~30 rows), never the fact stream.
  */
object Ext9Queries {

  private def dayIdx(c: org.apache.spark.sql.Column) =
    datediff(c, lit("1990-01-01").cast("date"))

  val queries: Map[String, Q] = Map(

    // cohort lifetime-value matrix: customers grouped by first-order
    // month, revenue accumulated by months-since-first — the canonical
    // retention-economics report. Exact DECIMAL revenue; LTV = cohort
    // cumulative revenue / cohort size
    "orders_cohort_ltv" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("m"),
        Tables.dec2(col("o_totalprice")).as("p"))
      val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort"))
      val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("n_customers"))
      val cells = o.join(first, "o_custkey")
        .groupBy(col("cohort"), (col("m") - col("cohort")).as("age"))
        .agg(sum(col("p")).as("rev"))
      val wc = Window.partitionBy(col("cohort")).orderBy(col("age"))
      cells.join(sizes, "cohort")
        .withColumn("cum", sum(col("rev")).over(wc))
        .select(col("cohort"), col("age"), col("n_customers"),
          col("rev").cast("double").as("revenue"),
          round(col("cum").cast("double") / col("n_customers"), 6).as("ltv"))
        .orderBy(col("cohort"), col("age"))
    }),

    // per-dimension embedding distribution audit (the drift monitor for
    // a vector corpus): one posexplode to (dim, x), hash-agg to 64 rows
    "emb_dim_stats" -> ((s, dir) => {
      AnnQueries.embDouble(s, dir)
        .select(posexplode(col("e")).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("x")), 6).as("mean"),
          round(stddev_samp(col("x")), 6).as("sd"),
          round(min(col("x")), 6).as("min_x"),
          round(max(col("x")), 6).as("max_x"))
        .orderBy(col("dim"))
    }),

    // nearest-centroid classification accuracy per label: centroids are
    // per-(label, dim) means rounded to 6dp (so both engines dot the
    // SAME centroid), broadcast back for a map-side argmax; ties break
    // toward the lower centroid label
    "sim_centroid_classify" -> ((s, dir) => {
      val e = AnnQueries.embDouble(s, dir)
      val cent = graft.api.SimilarityOps
        .meanVectors(e.withColumnRenamed("label", "clabel"), Seq("clabel"), "e")
        .select(col("clabel"), transform(col("mean_e"), x => round(x, 6)).as("cvec"))
      val scored = e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"),
          graft.api.SimilarityOps.exactCos(col("e"), col("cvec")).as("dot"))
      val w = Window.partitionBy(col("vec_id")).orderBy(desc("dot"), col("clabel"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("clabel") === col("label"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("label"), col("n"), col("n_correct"),
          round(col("n_correct") / col("n"), 6).as("accuracy"))
        .orderBy(col("label"))
    }),

    // 2-hop reach per node on the 1996 co-purchase graph: distinct
    // nodes within distance ≤ 2 (friend-of-friend audience size) — the
    // wedge join collapses through DISTINCT before counting
    "graph_two_hop" -> ((s, dir) => {
      val e = AnalyticsQueries.edges1996(s, dir)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
        .cache()
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
      val two = sym.as("e1")
        .join(sym.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("a"), col("e2.b").as("r"))
        .filter(col("a") =!= col("r"))
      val reach = sym.select(col("a"), col("b").as("r")).unionAll(two)
        .distinct()
        .groupBy(col("a")).agg(count(lit(1)).as("reach2"))
      deg.join(reach, "a")
        .select(col("a").as("node"), col("d"), col("reach2"))
        .orderBy(col("node"))
    }),

    // degree-capped 2-hop reach — the 100 TB form SCALE.md prescribes
    // for the wedge join: each node keeps only its cap lowest-id
    // neighbors, and an edge survives only if BOTH endpoints keep it
    // (mutual cap), so the capped graph's max degree is exactly cap and
    // the wedge join is bounded by n·cap² instead of Σd² (hub nodes no
    // longer explode the join). Exact when no node exceeds the cap;
    // truncated nodes are flagged in-band (capped = true) with the true
    // degree reported, so a consumer knows which reach values are
    // lower bounds. Deterministic (lowest-id neighbors, no sampling) —
    // the oracle replays the identical subgraph
    "graph_two_hop_capped" -> ((s, dir) => {
      val cap = 4
      val e = AnalyticsQueries.edges1996(s, dir)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
        .cache()
      val wA = Window.partitionBy(col("a")).orderBy(col("b"))
      val keep = sym.withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= cap).select(col("a"), col("b"))
      val csym = keep
        .join(keep.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
        .cache()
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
      val two = csym.as("e1")
        .join(csym.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("a"), col("e2.b").as("r"))
        .filter(col("a") =!= col("r"))
      val reach = csym.select(col("a"), col("b").as("r")).unionAll(two)
        .distinct()
        .groupBy(col("a")).agg(count(lit(1)).as("r2"))
      deg.join(reach, Seq("a"), "left")
        .select(col("a").as("node"), col("d"),
          (col("d") > cap).as("capped"),
          coalesce(col("r2"), lit(0L)).as("reach2_capped"))
        .orderBy(col("node"))
    }),

    // referential-integrity audit across every FK edge of the schema:
    // per edge, child row count + orphan count + pass flag — each edge
    // is one anti-join aggregated to a single row
    "etl_fk_orphans" -> ((s, dir) => {
      def edge(name: String, child: org.apache.spark.sql.DataFrame, key: String,
          parent: org.apache.spark.sql.DataFrame, pkey: String) = {
        val n = child.agg(count(lit(1)).as("n_rows"))
        val orph = child.select(col(key))
          .join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        n.crossJoin(orph).select(lit(name).as("fk"), col("n_rows"), col("n_orphans"),
          (col("n_orphans") === 0).as("ok"))
      }
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
      val na = Tables.nation(s, dir); val re = Tables.region(s, dir)
      Seq(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey", Tables.part(s, dir), "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
        edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("customer.c_nationkey->nation", c, "c_nationkey", na, "n_nationkey"),
        edge("supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey"),
        edge("nation.n_regionkey->region", na, "n_regionkey", re, "r_regionkey"))
        .reduce(_ unionByName _)
        .orderBy(col("fk"))
    }),

    // log-log price elasticity of demand per brand: OLS slope of
    // ln(quantity) on ln(unit price) — single-pass co-moment regression
    // per group, same mergeable shape as agg_regression
    "orders_price_elasticity" -> ((s, dir) => {
      val x = log(col("l_extendedprice") / col("l_quantity"))
      val y = log(col("l_quantity"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(regr_slope(y, x), 6).as("elasticity"),
          round(regr_r2(y, x), 6).as("r2"))
        .orderBy(col("p_brand"))
    }),

    // Ljung-Box portmanteau test on the daily event-count series:
    // pairwise-corr autocorrelations at lags 1..10 (9dp-pinned), then
    // the cumulative Q statistic Q(k) = n(n+2)·Σ_{j≤k} r_j²/(n−j) — the
    // "is this series white noise" gate before any forecasting op
    "ts_ljung_box" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(dayIdx(to_date(col("ts"))).as("day"))
        .agg(count(lit(1)).as("n"))
      val nd = daily.agg(count(lit(1)).as("nd"))
      // ALL 10 lags in one lag-replicated join + one grouped corr pass
      // (10 sequential per-lag jobs cost ~1.5 s of pure scheduling at
      // sf0.1; this is the same single-shuffle shape as the oracle)
      val ks = s.range(1, 11).select(col("id").cast("int").as("lag"))
      val lagged = daily.crossJoin(broadcast(ks))
        .select(col("lag"), (col("day") + col("lag")).as("day"), col("n").as("n_lag"))
      val rs = daily.join(lagged, "day")
        .groupBy(col("lag"))
        .agg(round(corr(col("n"), col("n_lag")), 9).as("r9"))
      val w = Window.orderBy(col("lag"))
      rs.crossJoin(broadcast(nd))
        .withColumn("q_stat",
          round(col("nd") * (col("nd") + lit(2.0)) *
            sum(col("r9") * col("r9") / (col("nd") - col("lag"))).over(w), 4))
        .select(col("lag"), round(col("r9"), 6).as("acf"), col("q_stat"))
        .orderBy(col("lag"))
    }),

    // Theil T and Atkinson(ε=1) inequality indices of customer spend —
    // the concentration diagnostics that decompose (unlike Gini); mean
    // from the exact DECIMAL total so both engines normalize identically
    "orders_theil_index" -> ((s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(Tables.dec2(col("o_totalprice"))).as("sd"))
      val tot = spend.agg(sum(col("sd")).as("t"), count(lit(1)).as("n"))
      val mu = col("t").cast("double") / col("n")
      spend.crossJoin(broadcast(tot))
        .select(col("sd").cast("double").as("sp"), mu.as("mu"), col("n"))
        .agg(max(col("n")).as("n_customers"),
          round(max(col("mu")), 2).as("mean_spend"),
          round(avg((col("sp") / col("mu")) * log(col("sp") / col("mu"))), 6).as("theil"),
          round(lit(1) - exp(avg(log(col("sp")))) / max(col("mu")), 6).as("atkinson"))
    }),

    // trailing-14-day rolling correlation between daily click counts
    // and purchase value — the co-movement monitor between a leading
    // and a lagging metric; the corr frames run over the ~30-row daily
    // aggregate
    "ts_rolling_corr" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          round(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))), 9).as("purch"))
      val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
      daily.select(col("day"), col("clicks"), col("purch"),
        round(corr(col("clicks"), col("purch")).over(w), 6).as("r14"))
        .orderBy(col("day"))
    }),

    // Bollinger bands on the daily value series: trailing-14 moving
    // average ± 2 rolling standard deviations, with breach flags
    // computed FROM THE ROUNDED bands so both engines compare identical
    // doubles — frames run over the ~30-row daily aggregate
    "ts_bollinger" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 9).as("v"))
      val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
      val ma = round(avg(col("v")).over(w), 6)
      val sd = stddev_samp(col("v")).over(w)
      daily
        .withColumn("ma", ma)
        .withColumn("upper", round(ma + lit(2) * sd, 6))
        .withColumn("lower", round(ma - lit(2) * sd, 6))
        .select(col("day"), col("v"), col("ma"), col("upper"), col("lower"),
          (col("upper").isNotNull &&
            (col("v") > col("upper") || col("v") < col("lower"))).as("breach"))
        .orderBy(col("day"))
    }),

    // 14-day RSI (simple-average form) on the daily value series:
    // up/down moves from lag-1 diffs, framed averages, RSI=100 when no
    // losses in the frame
    "ts_rsi" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 9).as("v"))
      val wl = Window.orderBy(col("day"))
      val diffed = daily
        .withColumn("diff", round(col("v") - lag(col("v"), 1).over(wl), 9))
        .filter(col("diff").isNotNull)
      val wf = Window.orderBy(col("day")).rowsBetween(-13, 0)
      diffed
        .withColumn("avg_gain", avg(greatest(col("diff"), lit(0.0))).over(wf))
        .withColumn("avg_loss", avg(greatest(-col("diff"), lit(0.0))).over(wf))
        .select(col("day"), col("v"),
          round(when(col("avg_loss") === 0, lit(100.0))
            .otherwise(lit(100.0) - lit(100.0) /
              (lit(1.0) + col("avg_gain") / col("avg_loss"))), 6).as("rsi"))
        .orderBy(col("day"))
    }),

    // 7-day-ahead forecast = seasonal naive (same weekday last week)
    // plus linear drift — the baseline every forecasting system must
    // beat; closed-form from 3 point lookups on the daily aggregate
    "ts_forecast_snaive_drift" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 9).as("v"))
      val stats = daily.agg(max(col("day")).as("dmax"), min(col("day")).as("dmin"),
        count(lit(1)).as("nd"))
      val base = stats
        .join(daily.select(col("day").as("dmin"), col("v").as("v_first")), "dmin")
        .join(daily.select(col("day").as("dmax"), col("v").as("v_last")), "dmax")
        .withColumn("drift", (col("v_last") - col("v_first")) / (col("nd") - 1))
      base.select(col("dmax"), col("drift"), explode(sequence(lit(1), lit(7))).as("h"))
        .withColumn("ref_day", date_add(col("dmax"), col("h") - 7))
        .join(daily.select(col("day").as("ref_day"), col("v").as("v_ref")), "ref_day")
        .select(col("h"), date_add(col("dmax"), col("h")).as("forecast_day"),
          round(col("v_ref") + col("drift") * col("h"), 6).as("forecast"))
        .orderBy(col("h"))
    }),

    // token burstiness: variance-to-mean ratio of per-document counts
    // (zeros included via the moment identity) for the top-20 corpus
    // tokens — bursty tokens concentrate in few docs (content words),
    // uniform tokens spread (function words). All-integer inputs
    "text_burstiness" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val nDocs = d.agg(count(lit(1)).as("n"))
      val cnt = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val perTok = cnt.groupBy(col("w"))
        .agg(count(lit(1)).as("k"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
      perTok.crossJoin(broadcast(nDocs))
        .withColumn("mean_c", col("s1") / col("n"))
        .withColumn("var_c",
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
        .select(col("w").as("token"), col("k").as("n_docs_with"), col("s1").as("n_occ"),
          round(col("mean_c"), 6).as("mean_count"),
          round(col("var_c") / col("mean_c"), 6).as("burstiness"))
        .orderBy(desc("n_occ"), col("token"))
        .limit(20)
    }),

    // delta-method CI for a RATIO metric (purchase value per event,
    // clustered by user): var(R) ≈ (σx² + R²σy² − 2R·cov)/(n·ȳ²) — the
    // correct CI when the unit of analysis (user) differs from the
    // unit of the metric (event); naive per-event CIs understate
    // variance under clustering
    "stat_delta_method_ci" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))), 9).as("x"),
          count(lit(1)).cast("double").as("y"))
      val m = perUser.agg(count(lit(1)).as("n"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"),
        var_samp(col("x")).as("vx"), var_samp(col("y")).as("vy"),
        covar_samp(col("x"), col("y")).as("cxy"))
      val r = col("mx") / col("my")
      val se = sqrt((col("vx") + r * r * col("vy") - lit(2.0) * r * col("cxy")) /
        (col("n") * col("my") * col("my")))
      m.select(col("n").as("n_users"),
        round(r, 6).as("ratio"),
        round(se, 6).as("se"),
        round(r - lit(1.96) * se, 6).as("ci_lo"),
        round(r + lit(1.96) * se, 6).as("ci_hi"))
    }),

    // two-sample size calculator: per-group n required to detect the
    // OBSERVED click-vs-view mean gap at α=0.05 / power=0.8 —
    // n = (z_{α/2}+z_β)²(σ₁²+σ₂²)/Δ², the experiment-design companion
    // to stat_ttest_welch
    "stat_sample_size" -> ((s, dir) => {
      val v = col("value"); val t = col("event_type")
      val m = Tables.events(s, dir)
        .filter(t.isin("click", "view"))
        .agg(avg(when(t === "click", v)).as("m1"),
          var_samp(when(t === "click", v)).as("v1"),
          avg(when(t === "view", v)).as("m2"),
          var_samp(when(t === "view", v)).as("v2"))
      val delta = col("m1") - col("m2")
      // 6dp-round BEFORE ceil: both engines then ceil the identical
      // double, so an integer-boundary value can't flip
      val n = ceil(round(pow(lit(1.96) + lit(0.8416), 2) * (col("v1") + col("v2")) /
        (delta * delta), 6))
      m.select(round(delta, 6).as("observed_delta"),
        round(col("v1") + col("v2"), 6).as("var_sum"),
        n.cast("long").as("n_per_group"))
    }),

    // temperature-flattened domain mixture (T=2): sampling weights
    // ∝ share^(1/T), renormalized — the standard upweighting of small
    // domains in a training mix; expected tokens for a 1M-token budget
    // derive from the 6dp-pinned weights so both engines multiply the
    // same numbers
    "domain_mix_temperature" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("tot"))
      val shared = per.crossJoin(broadcast(tot))
        .withColumn("share", col("n_tokens") / col("tot").cast("double"))
        .withColumn("tempered", pow(col("share"), lit(0.5)))
      val z = shared.agg(sum(col("tempered")).as("z"))
      shared.crossJoin(broadcast(z))
        .withColumn("w", round(col("tempered") / col("z"), 6))
        .select(col("source"), col("n_tokens"),
          round(col("share"), 6).as("share"), col("w"),
          round(col("w") * 1000000, 2).as("expected_tokens"))
        .orderBy(col("source"))
    }),

    // add-one-smoothed bigram language model scored over its own
    // corpus: per-language mean bigram log-probability and perplexity —
    // the fluency/quality signal one tier above unigram logprob. The
    // count tables are capped by |V|² but in practice distinct bigrams
    // grow roughly linearly with corpus size long before that
    // saturates, so the broadcast is valid only while the distinct-
    // bigram table fits the broadcast threshold; past it, drop the
    // broadcast() hints and let the same plan run as a shuffle join on
    // (w1, w2) / (w1) — the fact-side explode stays linear either way
    "text_bigram_logprob" -> ((s, dir) => {
      // the cached explode below is built by ONE task when it sits
      // directly over the narrow single-row-group scan — fan the raw
      // rows out first so the cache build runs at full width (§2.5)
      val d = Tables.fanOutIfNarrow(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
          "doc_id")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
      val bi = d.select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        // consumed three times (count table, conditioning table, scoring
        // join) — cache the one explode instead of recomputing it
        .cache()
      val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val vocab = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      val perDoc = bi
        .join(broadcast(c12), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(log((col("c12") + 1) / (col("c1") + col("v")).cast("double"))), 9)
          .as("lp"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("lp")), 6).as("mean_logprob"),
          round(exp(-avg(col("lp"))), 6).as("perplexity"))
        .orderBy(col("lang"))
    }),

    // deterministic temperature-weighted corpus sampling: per-source
    // keep rates from the T=2 tempered mixture (scaled so the largest
    // rate is 0.9), applied as an md5 hash threshold — the reproducible,
    // join-stable way to materialize a training mix (same docs kept on
    // every engine and every run, unlike rand() sampling). The rate
    // table is O(|sources|) and broadcasts; the keep decision is one
    // codegen hash per row
    "sample_temperature" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("tot"))
      val shared = per.crossJoin(broadcast(tot))
        .withColumn("tempered", pow(col("n_tokens") / col("tot").cast("double"), lit(0.5)))
      val z = shared.agg(sum(col("tempered")).as("z"), max(col("tempered")).as("mx"))
      val rates = shared.crossJoin(broadcast(z))
        .select(col("source"),
          round(col("tempered") / col("mx") * lit(0.9), 6).as("rate"))
        .withColumn("thr",
          format_string("%04x", floor(col("rate") * 65536).cast("int")))
      Tables.documents(s, dir)
        .join(broadcast(rates), "source")
        .withColumn("keep",
          substring(md5(col("doc_id").cast("string")), 1, 4) < col("thr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("rate")).as("rate"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // hierarchical ratio-to-parent report: nation revenue share within
    // its region, region share of total — the drill-down report every
    // BI layer ships. Revenue stays exact DECIMAL through both window
    // sums (order-independent at any parallelism); the windows run over
    // the 25-row aggregate, never facts
    "agg_ratio_to_parent" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(Tables.dec2(col("o_totalprice"))).as("rev"))
      val wr = Window.partitionBy(col("r_name"))
      val wt = Window.partitionBy()
      rev.select(col("r_name"), col("n_name"),
          col("rev").cast("double").as("revenue"),
          round(col("rev").cast("double") /
            sum(col("rev")).over(wr).cast("double"), 6).as("share_of_region"),
          round(sum(col("rev")).over(wr).cast("double") /
            sum(col("rev")).over(wt).cast("double"), 6).as("region_share_of_total"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // bot-detection heuristics per user: burst rate (max events in any
    // minute) and inter-arrival regularity (CV of gaps — machines are
    // metronomic, humans are bursty-but-irregular); the flag compares
    // 6dp-pinned values so both engines decide identically. The
    // training-data cleaning gate before any engagement-based sampling
    "events_bot_detect" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val perMin = e.groupBy(col("user_id"), date_trunc("minute", col("ts")).as("m"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id")).agg(max(col("c")).as("max_per_min"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = e.select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          avg(col("gap_us")).as("mean_gap"),
          stddev_samp(col("gap_us")).as("sd_gap"))
      val tot = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      tot.join(perMin, "user_id").join(gaps, "user_id")
        .select(col("user_id"), col("n_events"), col("max_per_min"),
          round(col("mean_gap") / 1000000, 3).as("mean_gap_s"),
          round(col("sd_gap") / col("mean_gap"), 6).as("gap_cv"))
        .withColumn("bot_flag",
          col("max_per_min") >= 5 || col("gap_cv") < lit(0.1))
        .orderBy(col("user_id"))
    }),

    // local-peak detection on the daily value series: strict local
    // maxima vs both neighbors, with prominence over the higher
    // shoulder — lag/lead over the daily aggregate
    "ts_peaks" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 9).as("v"))
      val w = Window.orderBy(col("day"))
      daily
        .withColumn("prev", lag(col("v"), 1).over(w))
        .withColumn("nxt", lead(col("v"), 1).over(w))
        .filter(col("prev").isNotNull && col("nxt").isNotNull &&
          col("v") > col("prev") && col("v") > col("nxt"))
        .select(col("day"), col("v"),
          round(col("v") - greatest(col("prev"), col("nxt")), 6).as("prominence"))
        .orderBy(col("day"))
    })
  )

  private val edges1996Sql =
    """le AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |         AND l_shipdate < TIMESTAMP '1997-01-01'),
      |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |      FROM le a JOIN le b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin

  val oracle: Map[String, String] = Map(

    "orders_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY o_custkey),
        |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers FROM f GROUP BY cohort),
        |cells AS (
        |  SELECT cohort, o.m - cohort AS age, sum(p) AS rev
        |  FROM o JOIN f USING (o_custkey) GROUP BY cohort, o.m - cohort)
        |SELECT cohort, age, n_customers,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age) AS DOUBLE)
        |        / n_customers, 6) AS ltv
        |FROM cells JOIN sz USING (cohort)
        |ORDER BY cohort, age""".stripMargin,

    "emb_dim_stats" ->
      """WITH idx AS (SELECT CAST(range AS INT) AS i FROM range(1, 65)),
        |x AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(x), 6) AS mean,
        |  round(stddev_samp(x), 6) AS sd,
        |  round(min(x), 6) AS min_x,
        |  round(max(x), 6) AS max_x
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,

    "sim_centroid_classify" ->
      """WITH idx AS (SELECT CAST(range AS INT) AS i FROM range(1, 65)),
        |x AS (SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx),
        |cent AS (SELECT label AS clabel, dim, round(avg(x), 6) AS cx
        |         FROM x GROUP BY 1, 2),
        |dots AS (
        |  SELECT x.vec_id, x.label, c.clabel, round(sum(x.x * c.cx), 6) AS dot
        |  FROM x JOIN cent c USING (dim)
        |  GROUP BY x.vec_id, x.label, c.clabel),
        |best AS (
        |  SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, clabel) AS rk
        |  FROM dots)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  round(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 6) AS accuracy
        |FROM best WHERE rk = 1
        |GROUP BY label ORDER BY label""".stripMargin,

    "graph_two_hop_capped" ->
      s"""WITH $edges1996Sql,
        |sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |rk AS (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS rn
        |       FROM sym),
        |keep AS (SELECT a, b FROM rk WHERE rn <= 4),
        |csym AS (SELECT k1.a, k1.b FROM keep k1
        |         JOIN keep k2 ON k1.a = k2.b AND k1.b = k2.a),
        |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a),
        |reach AS (
        |  SELECT a, CAST(count(*) AS BIGINT) AS r2 FROM (
        |    SELECT DISTINCT a, r FROM (
        |      SELECT a, b AS r FROM csym
        |      UNION ALL
        |      SELECT e1.a, e2.b AS r FROM csym e1 JOIN csym e2 ON e1.b = e2.a
        |      WHERE e1.a <> e2.b))
        |  GROUP BY a)
        |SELECT deg.a AS node, deg.d, deg.d > 4 AS capped,
        |  coalesce(reach.r2, 0) AS reach2_capped
        |FROM deg LEFT JOIN reach ON deg.a = reach.a
        |ORDER BY node""".stripMargin,

    "graph_two_hop" ->
      s"""WITH $edges1996Sql,
        |sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a),
        |reach AS (
        |  SELECT a, CAST(count(*) AS BIGINT) AS reach2 FROM (
        |    SELECT DISTINCT a, r FROM (
        |      SELECT a, b AS r FROM sym
        |      UNION ALL
        |      SELECT e1.a, e2.b AS r FROM sym e1 JOIN sym e2 ON e1.b = e2.a
        |      WHERE e1.a <> e2.b))
        |  GROUP BY a)
        |SELECT deg.a AS node, deg.d, reach.reach2
        |FROM deg JOIN reach USING (a)
        |ORDER BY node""".stripMargin,

    "etl_fk_orphans" -> {
      val edges = Seq(
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
      val arms = edges.map { case (name, child, key, parent, pkey) =>
        s"""  SELECT '$name' AS fk,
           |    (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_rows,
           |    (SELECT CAST(count(*) AS BIGINT) FROM $child
           |     WHERE $key NOT IN (SELECT $pkey FROM $parent)) AS n_orphans""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH audit AS (
         |$arms)
         |SELECT fk, n_rows, n_orphans, n_orphans = 0 AS ok
         |FROM audit ORDER BY fk""".stripMargin
    },

    "orders_price_elasticity" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  round(regr_slope(ln(l_quantity), ln(l_extendedprice / l_quantity)), 6)
        |    AS elasticity,
        |  round(regr_r2(ln(l_quantity), ln(l_extendedprice / l_quantity)), 6) AS r2
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "ts_ljung_box" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS INTEGER)
        |    AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
        |ks AS (SELECT CAST(range AS INT) AS lag FROM range(1, 11)),
        |rs AS (
        |  SELECT k.lag, round(corr(d.n, f.n), 9) AS r9
        |  FROM ks k JOIN daily d ON true JOIN daily f ON d.day = f.day + k.lag
        |  GROUP BY k.lag)
        |SELECT lag, round(r9, 6) AS acf,
        |  round(nd * (nd + 2.0) *
        |    sum(r9 * r9 / (nd - lag)) OVER (ORDER BY lag), 4) AS q_stat
        |FROM rs, nd ORDER BY lag""".stripMargin,

    "orders_theil_index" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sd
        |  FROM orders GROUP BY o_custkey),
        |tot AS (SELECT sum(sd) AS t, CAST(count(*) AS BIGINT) AS n FROM spend)
        |SELECT n AS n_customers,
        |  round(CAST(t AS DOUBLE) / n, 2) AS mean_spend,
        |  round(avg((CAST(sd AS DOUBLE) / (CAST(t AS DOUBLE) / n))
        |        * ln(CAST(sd AS DOUBLE) / (CAST(t AS DOUBLE) / n))), 6) AS theil,
        |  round(1 - exp(avg(ln(CAST(sd AS DOUBLE)))) / (CAST(t AS DOUBLE) / n), 6)
        |    AS atkinson
        |FROM spend, tot GROUP BY n, t""".stripMargin,

    "ts_rolling_corr" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS clicks,
        |    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 9)
        |      AS purch
        |  FROM events GROUP BY 1)
        |SELECT day, clicks, purch,
        |  round(corr(clicks, purch) OVER
        |    (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS r14
        |FROM daily ORDER BY day""".stripMargin,

    "ts_bollinger" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 9) AS v
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, v,
        |    round(avg(v) OVER w, 6) AS ma,
        |    round(round(avg(v) OVER w, 6) + 2 * stddev_samp(v) OVER w, 6) AS upper,
        |    round(round(avg(v) OVER w, 6) - 2 * stddev_samp(v) OVER w, 6) AS lower
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day, v, ma, upper, lower,
        |  coalesce(upper IS NOT NULL AND (v > upper OR v < lower), false) AS breach
        |FROM t ORDER BY day""".stripMargin,

    "ts_rsi" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 9) AS v
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT day, v, round(v - lag(v, 1) OVER (ORDER BY day), 9) AS diff
        |  FROM daily),
        |f AS (
        |  SELECT day, v,
        |    avg(greatest(diff, 0.0)) OVER w AS avg_gain,
        |    avg(greatest(-diff, 0.0)) OVER w AS avg_loss
        |  FROM d WHERE diff IS NOT NULL
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day, v,
        |  round(CASE WHEN avg_loss = 0 THEN 100.0
        |    ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END, 6) AS rsi
        |FROM f ORDER BY day""".stripMargin,

    "ts_forecast_snaive_drift" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 9) AS v
        |  FROM events GROUP BY 1),
        |st AS (SELECT max(day) AS dmax, min(day) AS dmin,
        |         CAST(count(*) AS BIGINT) AS nd FROM daily),
        |base AS (
        |  SELECT st.dmax, (l.v - f.v) / (st.nd - 1) AS drift
        |  FROM st JOIN daily f ON f.day = st.dmin
        |          JOIN daily l ON l.day = st.dmax),
        |hs AS (SELECT CAST(range AS INT) AS h FROM range(1, 8))
        |SELECT h, base.dmax + h AS forecast_day,
        |  round(r.v + base.drift * h, 6) AS forecast
        |FROM base CROSS JOIN hs
        |JOIN daily r ON r.day = base.dmax + (h - 7)
        |ORDER BY h""".stripMargin,

    "text_burstiness" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |cnt AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY doc_id, w),
        |pt AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM cnt GROUP BY w)
        |SELECT w AS token, k AS n_docs_with, s1 AS n_occ,
        |  round(s1 / CAST(n AS DOUBLE), 6) AS mean_count,
        |  round(((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (n - 1))
        |        / (s1 / CAST(n AS DOUBLE)), 6) AS burstiness
        |FROM pt, nd
        |ORDER BY n_occ DESC, token LIMIT 20""".stripMargin,

    "stat_delta_method_ci" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 9)
        |      AS x,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    avg(x) AS mx, avg(y) AS my,
        |    var_samp(x) AS vx, var_samp(y) AS vy,
        |    covar_samp(x, y) AS cxy
        |  FROM pu)
        |SELECT n AS n_users,
        |  round(mx / my, 6) AS ratio,
        |  round(sqrt((vx + (mx / my) * (mx / my) * vy
        |        - 2.0 * (mx / my) * cxy) / (n * my * my)), 6) AS se,
        |  round(mx / my - 1.96 * sqrt((vx + (mx / my) * (mx / my) * vy
        |        - 2.0 * (mx / my) * cxy) / (n * my * my)), 6) AS ci_lo,
        |  round(mx / my + 1.96 * sqrt((vx + (mx / my) * (mx / my) * vy
        |        - 2.0 * (mx / my) * cxy) / (n * my * my)), 6) AS ci_hi
        |FROM m""".stripMargin,

    "stat_sample_size" ->
      """WITH m AS (
        |  SELECT avg(CASE WHEN event_type = 'click' THEN value END) AS m1,
        |    var_samp(CASE WHEN event_type = 'click' THEN value END) AS v1,
        |    avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
        |    var_samp(CASE WHEN event_type = 'view' THEN value END) AS v2
        |  FROM events WHERE event_type IN ('click', 'view'))
        |SELECT round(m1 - m2, 6) AS observed_delta,
        |  round(v1 + v2, 6) AS var_sum,
        |  CAST(ceil(round(pow(1.96 + 0.8416, 2) * (v1 + v2)
        |    / ((m1 - m2) * (m1 - m2)), 6)) AS BIGINT) AS n_per_group
        |FROM m""".stripMargin,

    "domain_mix_temperature" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per),
        |sh AS (SELECT source, n_tokens,
        |         n_tokens / CAST(tot AS DOUBLE) AS share,
        |         pow(n_tokens / CAST(tot AS DOUBLE), 0.5) AS tempered
        |       FROM per, tot),
        |z AS (SELECT sum(tempered) AS z FROM sh)
        |SELECT source, n_tokens,
        |  round(share, 6) AS share,
        |  round(tempered / z, 6) AS w,
        |  round(round(tempered / z, 6) * 1000000, 2) AS expected_tokens
        |FROM sh, z ORDER BY source""".stripMargin,

    "text_bigram_logprob" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bb AS (
        |  SELECT doc_id, lang,
        |    unnest(toks[1:len(toks) - 1]) AS w1,
        |    unnest(toks[2:len(toks)]) AS w2
        |  FROM d),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bb GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        |pd AS (
        |  SELECT doc_id, lang,
        |    round(avg(ln((c12 + 1) / CAST(c1 + v AS DOUBLE))), 9) AS lp
        |  FROM bb JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |  GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(lp), 6) AS mean_logprob,
        |  round(exp(-avg(lp)), 6) AS perplexity
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,

    "sample_temperature" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per),
        |sh AS (SELECT source, pow(n_tokens / CAST(tot AS DOUBLE), 0.5) AS tempered
        |       FROM per, tot),
        |z AS (SELECT max(tempered) AS mx FROM sh),
        |rates AS (
        |  SELECT source, round(tempered / mx * 0.9, 6) AS rate,
        |    printf('%04x', CAST(floor(round(tempered / mx * 0.9, 6) * 65536) AS INT))
        |      AS thr
        |  FROM sh, z)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  max(rate) AS rate,
        |  CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < thr
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents JOIN rates USING (source)
        |GROUP BY source ORDER BY source""".stripMargin,

    "agg_ratio_to_parent" ->
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(rev AS DOUBLE)
        |    / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE), 6)
        |    AS share_of_region,
        |  round(CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE)
        |    / CAST(sum(rev) OVER () AS DOUBLE), 6) AS region_share_of_total
        |FROM rev ORDER BY r_name, n_name""".stripMargin,

    "events_bot_detect" ->
      """WITH pm AS (
        |  SELECT user_id, max(c) AS max_per_min FROM (
        |    SELECT user_id, date_trunc('minute', ts) AS m,
        |      CAST(count(*) AS BIGINT) AS c
        |    FROM events GROUP BY user_id, m)
        |  GROUP BY user_id),
        |g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts), 1)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |gs AS (
        |  SELECT user_id, avg(gap_us) AS mean_gap, stddev_samp(gap_us) AS sd_gap
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY user_id),
        |tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |        FROM events GROUP BY user_id)
        |SELECT user_id, n_events, max_per_min,
        |  round(mean_gap / 1000000, 3) AS mean_gap_s,
        |  round(sd_gap / mean_gap, 6) AS gap_cv,
        |  max_per_min >= 5 OR round(sd_gap / mean_gap, 6) < 0.1 AS bot_flag
        |FROM tot JOIN pm USING (user_id) JOIN gs USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "ts_peaks" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 9) AS v
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, v,
        |    lag(v, 1) OVER (ORDER BY day) AS prev,
        |    lead(v, 1) OVER (ORDER BY day) AS nxt
        |  FROM daily)
        |SELECT day, v, round(v - greatest(prev, nxt), 6) AS prominence
        |FROM t
        |WHERE prev IS NOT NULL AND nxt IS NOT NULL AND v > prev AND v > nxt
        |ORDER BY day""".stripMargin
  )
}
