package graft.operators

import graft.{Q, Tables}
import graft.api.TextOps.nonEmptyTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14 pack: inequality metrics (Gini / Theil), robust-anomaly and
  * trend tests (MAD z, Mann-Kendall), experiment-design stats (two-
  * proportion power, order-statistic median CI), training-data weights
  * (shingle soft-dedup, importance reweighting, split novelty), funnel
  * latency, distribution-position windows, and eigenvector centrality.
  *
  * Scale notes (100 TB design):
  * - agg_gini / stat_quantile_ci / win_percent_rank: per-GROUP rank
  *   windows (segment / priority) — each group lands on one reducer,
  *   fine while groups are enum-bounded (5 here; the orders_rfm
  *   regime). Past that, swap rank for the range-partitioned-rank
  *   rewrite that feat_quantile_bin_scaled ships.
  * - ts_mad_anomaly / stat_mann_kendall: inputs are DAILY aggregates —
  *   the day-pair join is calendar-bounded (n_days², not rows²); the
  *   heavy part is the one groupBy building the series.
  * - stat_power_twoprop: two map-side-combinable aggregations and one
  *   scalar formula — O(events) scan, O(1) everything else.
  * - dedup_soft_weights: shingle explode (O(tokens)) → hash groupBy
  *   document-frequency → join back. The SoftDeDup reweighting: docs
  *   whose shingles repeat across the corpus count fractionally.
  * - sample_importance: per-lang counts broadcast back over the
  *   corpus; weights = target share / observed share; ESS in-band.
  * - text_ngram_novelty: distinct (lang, bigram) per split, one hash
  *   LEFT anti-style join on the bigram — linear in bigram types.
  * - events_funnel_time: two keyed min-aggregations and one global
  *   percentile — the events_funnel shape plus latency percentiles.
  * - graph_eigen_centrality: power iteration x ← normalize(A·x) on the
  *   staged co-purchase edges — each iteration one O(E) equi-join +
  *   node agg, L2 norm via a 1-row broadcast (the graph_pagerank
  *   pattern; at 100 TB the edge list is the staged table every graph
  *   op shares).
  */
object Ext13Queries {

  val queries: Map[String, Q] = Map(

    // Gini coefficient of positive account balances per market segment
    // (the sorted-rank formula: Σ(2i−n−1)·x_i / (n·Σx)).
    "agg_gini" -> ((s, dir) => {
      val w = Window.partitionBy(col("seg")).orderBy(col("v"), col("k"))
      val wN = Window.partitionBy(col("seg"))
      Tables.customer(s, dir)
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("v"),
          col("c_custkey").as("k"))
        .withColumn("i", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("sv", sum(col("v")).over(wN))
        .groupBy(col("seg"))
        .agg(max(col("n")).as("n"),
          round(sum((lit(2.0) * col("i") - col("n") - 1) * col("v")) /
            (max(col("n")) * max(col("sv"))), 6).as("gini"))
        .orderBy(col("seg"))
    }),

    // Theil T inequality index per segment: avg((x/μ)·ln(x/μ)).
    "agg_theil" -> ((s, dir) => {
      val x = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("v"))
      val m = x.groupBy(col("seg")).agg(avg(col("v")).as("mu"))
      x.join(broadcast(m), "seg")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"),
          round(avg((col("v") / col("mu")) * log(col("v") / col("mu"))), 6)
            .as("theil_t"))
        .orderBy(col("seg"))
    }),

    // Robust anomaly scan over the daily value series per event type:
    // modified z = 0.6745·|x − median| / MAD, flag > 3.5 (Iglewicz-
    // Hoaglin). Medians interpolate identically on both engines.
    "ts_mad_anomaly" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("x"))
      val st = daily.groupBy(col("event_type"))
        .agg(expr("percentile(x, 0.5)").as("med"))
      val ad = daily.join(broadcast(st), "event_type")
        .withColumn("dev", abs(col("x") - col("med")))
      val md = ad.groupBy(col("event_type"))
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      ad.join(broadcast(md), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          count(when(lit(0.6745) * col("dev") / col("mad") > 3.5, 1))
            .as("n_anomalies"),
          round(max(lit(0.6745) * col("dev") / col("mad")), 6).as("max_robust_z"))
        .orderBy(col("event_type"))
    }),

    // Two-proportion z-test power analysis: users hash-split A/B,
    // "converted" = ≥12 purchases; required n per arm to detect the
    // observed delta at α=0.05 (two-sided), power 0.8.
    "stat_power_twoprop" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg((count(when(col("event_type") === "purchase", 1)) >= 12)
          .cast("int").as("conv"))
        .withColumn("arm",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
            .otherwise("B"))
      val r = u.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), avg(col("conv").cast("double")).as("p"))
      val w = r.agg(
        max(when(col("arm") === "A", col("p"))).as("pa"),
        max(when(col("arm") === "B", col("p"))).as("pb"),
        max(when(col("arm") === "A", col("n"))).as("na"),
        max(when(col("arm") === "B", col("n"))).as("nb"))
      val pbar = (col("pa") + col("pb")) / 2
      w.select(col("na").as("n_a"), col("nb").as("n_b"),
        round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
        ceil(pow(lit(1.959964) * sqrt(lit(2) * pbar * (lit(1) - pbar)) +
            lit(0.841621) * sqrt(col("pa") * (lit(1) - col("pa")) +
              col("pb") * (lit(1) - col("pb"))), 2) /
          pow(abs(col("pa") - col("pb")), 2)).cast("double").as("n_per_arm"))
    }),

    // Distribution-free median CI per segment: the order statistics at
    // ranks n/2 ∓ z·√n/2 bound the median at ~95% (binomial normal
    // approximation) — the robust-stats answer to "error bars on a
    // median" that needs only a rank window, no resampling.
    "stat_quantile_ci" -> ((s, dir) => {
      val w = Window.partitionBy(col("seg")).orderBy(col("v"), col("k"))
      val wN = Window.partitionBy(col("seg"))
      Tables.customer(s, dir)
        .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("v"),
          col("c_custkey").as("k"))
        .withColumn("i", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wN))
        .groupBy(col("seg"))
        .agg(max(col("n")).as("n"),
          round(expr("percentile(v, 0.5)"), 6).as("med"),
          round(max(when(col("i") ===
            floor(col("n") / 2.0 - lit(0.979982) * sqrt(col("n"))), col("v"))), 6)
            .as("ci_lo"),
          round(max(when(col("i") ===
            ceil(col("n") / 2.0 + 1 + lit(0.979982) * sqrt(col("n"))), col("v"))), 6)
            .as("ci_hi"))
        .orderBy(col("seg"))
    }),

    // Mann-Kendall trend test per event type over the daily series:
    // S = Σ_{i<j} sign(x_j − x_i), z with the continuity correction.
    // The pair join is calendar-bounded (days², never rows²).
    "stat_mann_kendall" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("x"))
        // lazy: the pair self-join below is the first consumer — it
        // materializes the daily blocks, saving a dedicated pass (r16)
        .localCheckpoint(false)
      val a = daily.select(col("event_type"), col("d").as("da"), col("x").as("xa"))
      val b = daily.select(col("event_type"), col("d").as("db"), col("x").as("xb"))
      val pairs = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
        .select(col("event_type"), signum(col("xb") - col("xa")).as("sg"))
      val sTab = pairs.groupBy(col("event_type")).agg(sum(col("sg")).as("S"))
      val nTab = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      sTab.join(nTab, "event_type")
        .select(col("event_type"), col("n").as("n_days"),
          col("S").cast("long").as("s_stat"),
          round((col("S") - signum(col("S"))) /
            sqrt(col("n") * (col("n") - 1.0) * (lit(2) * col("n") + 5) / 18), 6).as("z"))
        .orderBy(col("event_type"))
    }),

    // SoftDeDup-style fractional counting: a doc's weight is the mean
    // over its 8-token shingles of 1/df(shingle) — repeated passages
    // count once across the corpus instead of once per copy. Per-source
    // effective corpus size is what a sampler consumes.
    "dedup_soft_weights" -> ((s, dir) => {
      // 8-token shingle explode over a narrow scan — fan out
      val tk = Tables.fanOutIfNarrow(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("source"), nonEmptyTokens("text").as("t"))
        .filter(size(col("t")) >= 8)
      // the shingle key is shuffled TWICE (df groupBy + join back): hash
      // it to a fixed 16-hex-char md5 prefix so the shuffle carries 16
      // bytes per shingle instead of the ~50-byte 8-token string — the
      // 30x sweep measured this stream as the whole cost (27x ratio).
      // The md5 sits AFTER the explode as a top-level projection, not
      // inside the transform lambda: a lambda body is interpreted
      // Expression.eval per element, a projection is whole-stage
      // codegen — and either way it runs map-side before the exchange.
      // The oracle applies the identical substr(md5(...),1,16) so the
      // (astronomically unlikely) 64-bit collision is mirrored exactly.
      val sh = tk.select(col("doc_id"), col("source"),
        explode(expr("transform(sequence(1, size(t) - 7), " +
          "i -> array_join(slice(t, i, 8), ' '))")).as("sh_raw"))
        .select(col("doc_id"), col("source"),
          substring(md5(col("sh_raw").cast("binary")), 1, 16).as("sh"))
      val df = sh.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val dw = sh.join(df, "sh")
        .groupBy(col("doc_id"), col("source"))
        .agg(round(avg(lit(1.0) / col("df")), 9).as("w"))
      dw.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("w")), 6).as("mean_weight"),
          round(sum(col("w")), 6).as("effective_docs"))
        .orderBy(col("source"))
    }),

    // Importance reweighting to a uniform language target: per-doc
    // weight = (N/L)/n_lang; the effective-sample-size ratio
    // (Σw)²/(N·Σw²) is the in-band health metric every reweighted
    // sampler monitors.
    "sample_importance" -> ((s, dir) => {
      val l = Tables.documents(s, dir)
        .groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      val t = l.agg(sum(col("nl")).as("n"), count(lit(1)).as("L"))
      val w = l.crossJoin(broadcast(t))
        .withColumn("wt", (col("n").cast("double") / col("L")) / col("nl"))
      val ess = w.agg((pow(sum(col("nl") * col("wt")), 2) /
        (sum(col("nl") * col("wt") * col("wt")) * max(col("n")))).as("ess"))
      w.crossJoin(broadcast(ess))
        .select(col("lang"), col("nl").as("n_docs"),
          round(col("wt"), 6).as("weight"),
          round(col("nl") * col("wt"), 6).as("weighted_mass"),
          round(col("ess"), 6).as("ess_ratio"))
        .orderBy(col("lang"))
    }),

    // Split-novelty audit: fraction of the validation split's DISTINCT
    // bigrams unseen in the train split, per language — the n-gram
    // overlap check run before trusting a held-out set.
    "text_ngram_novelty" -> ((s, dir) => {
      val tk = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          when(substring(md5(col("doc_id").cast("string")), 1, 1) < "8", "train")
            .otherwise("val").as("split"),
          nonEmptyTokens("text").as("t"))
        .filter(size(col("t")) >= 2)
      val bi = tk.select(col("lang"), col("split"),
        explode(expr("transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("b"))
        .distinct()
      val v = bi.filter(col("split") === "val").select(col("lang"), col("b"))
      val tr = bi.filter(col("split") === "train")
        .select(col("lang"), col("b"), lit(1).as("seen"))
      v.join(tr, Seq("lang", "b"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_val_bigrams"),
          count(when(col("seen").isNull, 1)).as("n_novel"),
          round(count(when(col("seen").isNull, 1)).cast("double") /
            count(lit(1)), 6).as("novelty"))
        .orderBy(col("lang"))
    }),

    // Conversion latency: per converted user, seconds from first view
    // to the first purchase at-or-after it; median / p90 / mean.
    "events_funnel_time" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val p = e.join(v, "user_id")
        .filter(col("event_type") === "purchase" && col("ts") >= col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      v.join(p, "user_id")
        .select((unix_timestamp(col("t2")) - unix_timestamp(col("t1")))
          .cast("double").as("s"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(s, 0.5)"), 6).as("median_s"),
          round(expr("percentile(s, 0.9)"), 6).as("p90_s"),
          round(avg(col("s")), 6).as("mean_s"))
    }),

    // Distribution-position window: percent_rank over order totals
    // within each priority; the top decile's share of total spend.
    "win_percent_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("pr", percent_rank().over(w))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(when(col("pr") >= 0.9, col("o_totalprice"))
              .otherwise(lit(0.0)).cast("decimal(18,2)"))
            .cast("double") /
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6)
            .as("top_decile_share"))
        .orderBy(col("o_orderpriority"))
    }),

    // Welch's unequal-variance t-test between the hash-split arms on
    // per-user mean event value, with the Satterthwaite df.
    "stat_welch_ttest" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(avg(col("value")).as("v"))
        .withColumn("arm",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
            .otherwise("B"))
      val r = u.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), avg(col("v")).as("m"),
          var_samp(col("v")).as("s2"))
      val w = r.agg(
        max(when(col("arm") === "A", col("n"))).as("na"),
        max(when(col("arm") === "B", col("n"))).as("nb"),
        max(when(col("arm") === "A", col("m"))).as("ma"),
        max(when(col("arm") === "B", col("m"))).as("mb"),
        max(when(col("arm") === "A", col("s2"))).as("va"),
        max(when(col("arm") === "B", col("s2"))).as("vb"))
      val se2 = col("va") / col("na") + col("vb") / col("nb")
      w.select(col("na").as("n_a"), col("nb").as("n_b"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        round((col("ma") - col("mb")) / sqrt(se2), 6).as("t"),
        round(pow(se2, 2) / (pow(col("va") / col("na"), 2) / (col("na") - 1) +
          pow(col("vb") / col("nb"), 2) / (col("nb") - 1)), 6).as("df"))
    }),

    // Chi-square test of independence over the lang × source
    // contingency table, with Cramér's V — contingency dims are
    // enum-bounded, everything is one counts aggregation + broadcasts.
    "stat_chisq_independence" -> ((s, dir) => {
      val o = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
        .localCheckpoint(false) // lazy: first consumer materializes (r16)
      val rl = o.groupBy(col("lang")).agg(sum(col("o")).as("rl"))
      val cs = o.groupBy(col("source")).agg(sum(col("o")).as("cs"))
      val t = o.agg(sum(col("o")).as("n"),
        countDistinct(col("lang")).as("L"),
        countDistinct(col("source")).as("S"))
      o.join(broadcast(rl), "lang").join(broadcast(cs), "source")
        .crossJoin(broadcast(t))
        .select(col("o"), (col("rl") * col("cs") / col("n").cast("double")).as("e"),
          col("n"), col("L"), col("S"))
        .agg(round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 6)
            .as("chi2"),
          ((max(col("L")) - 1) * (max(col("S")) - 1)).as("df"),
          round(sqrt(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")) /
            (max(col("n")) * least(max(col("L")) - 1, max(col("S")) - 1))), 6)
            .as("cramers_v"))
    }),

    // Brown-Forsythe (median-centered Levene) test for equal variances
    // across segments: one-way ANOVA F on |y − group median|.
    "stat_levene" -> ((s, dir) => {
      val x = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("g"), col("c_acctbal").as("y"))
      val md = x.groupBy(col("g")).agg(expr("percentile(y, 0.5)").as("med"))
      val z = x.join(broadcast(md), "g")
        .select(col("g"), abs(col("y") - col("med")).as("z"))
        .localCheckpoint(false) // lazy: first consumer materializes (r16)
      val gm = z.groupBy(col("g"))
        .agg(count(lit(1)).as("nj"), avg(col("z")).as("zj"))
      val tot = z.agg(count(lit(1)).as("n"), avg(col("z")).as("zb"),
        countDistinct(col("g")).as("k"))
      val num = gm.crossJoin(broadcast(tot))
        .agg(sum(col("nj") * (col("zj") - col("zb")) * (col("zj") - col("zb")))
          .as("num"), max(col("n")).as("n"), max(col("k")).as("k"))
      val den = z.join(broadcast(gm), "g")
        .agg(sum((col("z") - col("zj")) * (col("z") - col("zj"))).as("den"))
      num.crossJoin(broadcast(den))
        .select(col("k"), col("n"),
          round((col("n") - col("k")) * lit(1.0) / (col("k") - 1) *
            col("num") / col("den"), 6).as("f_stat"))
    }),

    // Heaps' law fit over trigram TYPES (the unigram vocabulary of the
    // synthetic corpus saturates instantly): vocabulary-vs-tokens curve
    // at 10 doc-count deciles, OLS of ln V on ln T → V ≈ K·T^β. The
    // decile thresholds rank the compact per-doc count frame (one
    // narrow window over n_docs rows — swap for approx quantiles of
    // doc_id past control-plane doc counts).
    "text_heaps_law" -> ((s, dir) => {
      // tokenize + trigram explode over a narrow scan: fan out first so
      // the checkpoint materialization runs at full width, and make the
      // checkpoint lazy so the first consumer materializes it (r16)
      val tk = Tables.fanOutIfNarrow(
          Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), nonEmptyTokens("text").as("t")).filter(size(col("t")) >= 3)
      val sh = tk.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 2), " +
          "i -> array_join(slice(t, i, 3), ' '))")).as("w"))
        .localCheckpoint(false)
      val nt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val rk = nt.withColumn("r", row_number().over(Window.orderBy(col("doc_id"))))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      val thr = rk.crossJoin(broadcast(
          s.range(1, 11).select(col("id").cast("int").as("i"))))
        .filter(col("r") <= floor(col("i") * col("nd") / 10.0))
        .groupBy(col("i")).agg(max(col("doc_id")).as("d"))
      val firsts = sh.groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      val pts = thr
        .join(nt.crossJoin(broadcast(thr)).filter(col("doc_id") <= col("d"))
            .groupBy(col("i").as("i2")).agg(sum(col("n")).as("T")),
          col("i") === col("i2"))
        .join(firsts.crossJoin(broadcast(thr)).filter(col("fd") <= col("d"))
            .groupBy(col("i").as("i3")).agg(count(lit(1)).as("V")),
          col("i") === col("i3"))
        .select(col("i"), col("T"), col("V"))
        .localCheckpoint(false) // lazy: first consumer materializes (r16)
      val l = pts.select(log(col("T").cast("double")).as("lt"),
        log(col("V").cast("double")).as("lv"))
      val fit = l.agg(((avg(col("lt") * col("lv")) - avg(col("lt")) * avg(col("lv"))) /
          (avg(col("lt") * col("lt")) - avg(col("lt")) * avg(col("lt")))).as("beta"),
        avg(col("lv")).as("mlv"), avg(col("lt")).as("mlt"))
      val tops = pts.agg(max(col("V")).as("vocab"), max(col("T")).as("tokens"))
      fit.crossJoin(broadcast(tops))
        .select(round(col("beta"), 6).as("beta"),
          round(exp(col("mlv") - col("beta") * col("mlt")), 6).as("k"),
          col("vocab"), col("tokens"))
    }),

    // Jensen-Shannon divergence of each language's token distribution
    // from the corpus distribution, over the 256-bucket hashed
    // alphabet (bounded tables; buckets a language never emits
    // contribute the closed-form 0.5·q·ln2 tail).
    "text_js_divergence" -> ((s, dir) => {
      val w = Tables.documents(s, dir)
        .select(col("lang"), explode(nonEmptyTokens("text")).as("tok"))
        .select(col("lang"), substring(md5(col("tok")), 1, 2).as("b"))
      val pl = w.groupBy(col("lang"), col("b")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // lazy: first consumer materializes (r16)
      val nl = pl.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      val pc = pl.groupBy(col("b")).agg(sum(col("c")).as("cc"))
      val nc = pc.agg(sum(col("cc")).as("nn"))
      val j = pl.join(broadcast(nl), "lang").join(broadcast(pc), "b")
        .crossJoin(broadcast(nc))
        .select(col("lang"), (col("c") / col("n").cast("double")).as("p"),
          (col("cc") / col("nn").cast("double")).as("q"))
      j.groupBy(col("lang"))
        .agg(round(sum(lit(0.5) * col("p") * log(lit(2) * col("p") / (col("p") + col("q"))) +
            lit(0.5) * col("q") * log(lit(2) * col("q") / (col("p") + col("q")))) +
          lit(0.5) * (lit(1) - sum(col("q"))) * log(lit(2.0)), 6).as("jsd"))
        .orderBy(col("lang"))
    }),

    // Weekday seasonality strength per event type: 1 − var(x − weekday
    // mean)/var(x) over the daily series (variance explained by the
    // day-of-week profile).
    "ts_weekday_strength" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("x"))
        .localCheckpoint(false) // lazy: first consumer materializes (r16)
      val wd = daily.groupBy(col("event_type"), dayofweek(col("d")).as("w"))
        .agg(avg(col("x")).as("mw"))
      daily.withColumn("w", dayofweek(col("d")))
        .join(broadcast(wd), Seq("event_type", "w"))
        .select(col("event_type"), col("x"), (col("x") - col("mw")).as("r"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(greatest(lit(0), lit(1) - var_pop(col("r")) / var_pop(col("x"))), 6)
            .as("weekday_strength"))
        .orderBy(col("event_type"))
    }),

    // Seasonal-naive backtest: forecast day d with day d−7; MAPE and
    // sMAPE per event type over the scorable days.
    "ts_naive_mape" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("x"))
        .localCheckpoint(false) // lazy: first consumer materializes (r16)
      val f = daily.as("a").join(
        daily.select(col("event_type"), col("d").as("db"), col("x").as("fc")).as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") === date_add(col("db"), 7))
      f.select(col("a.event_type").as("event_type"), col("x"), col("fc"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_scored"),
          round(avg(abs(col("x") - col("fc")) / abs(col("x"))), 6).as("mape"),
          round(avg(lit(2) * abs(col("x") - col("fc")) /
            (abs(col("x")) + abs(col("fc")))), 6).as("smape"))
        .orderBy(col("event_type"))
    }),

    // Rich-club coefficient at the p90 degree threshold of the 1996
    // co-purchase graph: edge density among the high-degree nodes.
    // The rich set is p10 of nodes — broadcast semi-joins; the degree
    // rank runs over the node-count control plane.
    "graph_rich_club" -> ((s, dir) => {
      val e = AnalyticsQueries.edges1996(s, dir).localCheckpoint(false)
      val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .localCheckpoint(false) // lazy pair: deg's build materializes e (r16)
      val rk = deg.withColumn("r", row_number().over(Window.orderBy(col("d"))))
        .withColumn("c", count(lit(1)).over(Window.partitionBy()))
      val thr = rk.filter(col("r") <= ceil(lit(0.9) * col("c")))
        .agg(max(col("d")).as("k"))
      val rich = deg.crossJoin(broadcast(thr)).filter(col("d") > col("k"))
        .select(col("n"))
      val re = e.join(broadcast(rich.select(col("n").as("u"))), "u")
        .join(broadcast(rich.select(col("n").as("v"))), "v")
        .agg(count(lit(1)).as("er"))
      val nr = rich.agg(count(lit(1)).as("nr"))
      thr.crossJoin(broadcast(nr)).crossJoin(broadcast(re))
        .select(col("k").as("k_threshold"), col("nr").as("n_rich"),
          col("er").as("e_rich"),
          round(lit(2.0) * col("er") / (col("nr") * (col("nr") - 1.0)), 6).as("phi"))
    }),

    // Systematic probability-proportional-to-size sampling of sources
    // by character mass: 5 evenly spaced pointers over the cumulative
    // mass line (midpoint offset) — the classic PPS design, fully
    // deterministic. The cumulative window runs over the source list
    // (control plane).
    "sample_pps" -> ((s, dir) => {
      val m = Tables.documents(s, dir)
        .groupBy(col("source")).agg(sum(col("n_chars")).as("mass"))
      val wCum = Window.orderBy(col("source"))
      val c = m.withColumn("hi", sum(col("mass")).over(wCum))
        .withColumn("lo", col("hi") - col("mass"))
      val t = m.agg(sum(col("mass")).as("total"))
      c.crossJoin(broadcast(t))
        .select(col("source"), col("mass"), col("lo"), col("hi"), col("total"),
          explode(sequence(lit(0), lit(4))).as("j"))
        .filter((col("j") + 0.5) * col("total") / 5 >= col("lo") &&
          (col("j") + 0.5) * col("total") / 5 < col("hi"))
        .select(col("j").cast("long").as("pointer"), col("source"),
          col("mass").cast("long").as("mass"))
        .orderBy(col("pointer"))
    }),

    // Cohen's d effect size between the hash-split arms (pooled-SD
    // standardized mean difference) — the number reported next to
    // every t-test.
    "stat_cohens_d" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(avg(col("value")).as("v"))
        .withColumn("arm",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
            .otherwise("B"))
      val r = u.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), avg(col("v")).as("m"),
          var_samp(col("v")).as("s2"))
      val w = r.agg(
        max(when(col("arm") === "A", col("n"))).as("na"),
        max(when(col("arm") === "B", col("n"))).as("nb"),
        max(when(col("arm") === "A", col("m"))).as("ma"),
        max(when(col("arm") === "B", col("m"))).as("mb"),
        max(when(col("arm") === "A", col("s2"))).as("va"),
        max(when(col("arm") === "B", col("s2"))).as("vb"))
      val pooled = sqrt(((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb")) /
        (col("na") + col("nb") - 2))
      w.select(col("na").as("n_a"), col("nb").as("n_b"),
        round(pooled, 6).as("pooled_sd"),
        round((col("ma") - col("mb")) / pooled, 6).as("cohens_d"))
    }),

    // Wald-Wolfowitz runs test on the SIGN of day-over-day change of
    // the daily series per event type — the nonparametric
    // autocorrelation check (too few runs = trending, too many =
    // oscillating). One keyed lag window over calendar-bounded rows.
    "stat_runs_test" -> ((s, dir) => {
      val wD = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("x"))
      val sgn = daily
        .withColumn("dx", col("x") - lag(col("x"), 1).over(wD))
        .filter(col("dx").isNotNull && col("dx") =!= 0)
        .withColumn("up", when(col("dx") > 0, 1).otherwise(0))
      val runs = sgn
        .withColumn("new_run",
          when(lag(col("up"), 1).over(wD).isNull ||
            lag(col("up"), 1).over(wD) =!= col("up"), 1).otherwise(0))
        .groupBy(col("event_type"))
        .agg(sum(col("new_run")).as("runs"),
          count(when(col("up") === 1, 1)).as("n1"),
          count(when(col("up") === 0, 1)).as("n2"))
      val mu = lit(2.0) * col("n1") * col("n2") / (col("n1") + col("n2")) + 1
      runs.select(col("event_type"), col("runs").cast("long").as("runs"),
          col("n1").as("n_up"), col("n2").as("n_down"),
          round((col("runs") - mu) /
            sqrt(lit(2.0) * col("n1") * col("n2") *
              (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2")) /
              (pow(col("n1") + col("n2"), 2) * (col("n1") + col("n2") - 1))), 6)
            .as("z"))
        .orderBy(col("event_type"))
    }),

    // Jarque-Bera normality test per segment from the population
    // skewness/excess-kurtosis moments (the agg_skew_kurt moment
    // discipline — both engines compute the same explicit moments).
    "stat_jarque_bera" -> ((s, dir) => {
      val x = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("v"))
      val m = x.groupBy(col("seg")).agg(avg(col("v")).as("mu"))
      x.join(broadcast(m), "seg")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"),
          avg(pow(col("v") - col("mu"), 2)).as("m2"),
          avg(pow(col("v") - col("mu"), 3)).as("m3"),
          avg(pow(col("v") - col("mu"), 4)).as("m4"))
        .select(col("seg"), col("n"),
          round(col("m3") / pow(col("m2"), 1.5), 6).as("skew"),
          round(col("m4") / pow(col("m2"), 2) - 3, 6).as("ex_kurt"),
          round(col("n") / 6.0 *
            (pow(col("m3") / pow(col("m2"), 1.5), 2) +
              pow(col("m4") / pow(col("m2"), 2) - 3, 2) / 4), 6).as("jb"))
        .orderBy(col("seg"))
    }),

    // Eigenvector centrality on the co-purchase graph: 3 power
    // iterations x ← A·x / ‖A·x‖₂ from the uniform vector — the
    // prestige measure PageRank generalizes. One O(E) join + node agg
    // per iteration; the L2 norm is a 1-row broadcast.
    "graph_eigen_centrality" -> ((s, dir) => {
      // localCheckpoint, not cache: the edge frame is consumed by every
      // power iteration, and a cache() here would outlive the query as
      // a session-lifetime cache entry — the checkpoint's blocks are
      // GC-reclaimed once the top-20 is materialized
      val edges = AnalyticsQueries.edgesFull(s, dir)
        .repartition(col("src"))
        // lazy: the nodes.distinct() below is the first consumer — the
        // edge list materializes inside that job instead of paying a
        // dedicated checkpoint pass first (r16, guide §1.2 fewer passes)
        .localCheckpoint(false)
      val nodes = edges.select(col("src").as("node")).distinct()
      val n0 = nodes.agg(sqrt(count(lit(1)).cast("double")).as("nr"))
      var x = nodes.crossJoin(broadcast(n0))
        .select(col("node"), (lit(1.0) / col("nr")).as("x"))
      for (_ <- 1 to 3) {
        // ax feeds BOTH the norm aggregate and the next iterate: pin it
        // (localCheckpoint) so each O(E) join runs exactly once —
        // without the pin the iterate's lineage references ax twice and
        // the edge join re-evaluates 2^iters times (measured 27 s vs
        // ~4 s at sf0.1)
        val ax = edges
          .join(x.select(col("node").as("src"), col("x")), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("x")).as("ax"))
          // lazy: the norm aggregate below is the first consumer — one
          // materialization per iteration instead of two (r16)
          .localCheckpoint(false)
        val nr = ax.agg(sqrt(sum(col("ax") * col("ax"))).as("nr"))
        x = ax.crossJoin(broadcast(nr))
          .select(col("node"), (col("ax") / col("nr")).as("x"))
      }
      x.select(col("node").as("p_partkey"), round(col("x"), 6).as("centrality"))
        .orderBy(desc("centrality"), col("p_partkey"))
        .limit(20)
    })
  )

  val oracle: Map[String, String] = Map(

    "agg_gini" ->
      """WITH x AS (SELECT c_mktsegment AS seg, c_acctbal AS v, c_custkey AS k
        |  FROM customer WHERE c_acctbal > 0),
        |r AS (SELECT seg, v, row_number() OVER (PARTITION BY seg ORDER BY v, k) AS i,
        |             count(*) OVER (PARTITION BY seg) AS n,
        |             sum(v) OVER (PARTITION BY seg) AS s
        |      FROM x)
        |SELECT seg, CAST(max(n) AS BIGINT) AS n,
        |  round(sum((2.0*i - n - 1) * v) / (max(n) * max(s)), 6) AS gini
        |FROM r GROUP BY seg ORDER BY seg""".stripMargin,

    "agg_theil" ->
      """WITH x AS (SELECT c_mktsegment AS seg, c_acctbal AS v FROM customer
        |  WHERE c_acctbal > 0),
        |m AS (SELECT seg, avg(v) AS mu FROM x GROUP BY seg)
        |SELECT x.seg, CAST(count(*) AS BIGINT) AS n,
        |  round(avg((v/mu) * ln(v/mu)), 6) AS theil_t
        |FROM x JOIN m ON x.seg = m.seg GROUP BY x.seg ORDER BY x.seg""".stripMargin,

    "ts_mad_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round(sum(value),6) AS x FROM events GROUP BY 1,2),
        |st AS (SELECT event_type, median(x) AS med FROM daily GROUP BY 1),
        |ad AS (SELECT daily.event_type, d, x, abs(x - med) AS dev
        |  FROM daily JOIN st USING (event_type)),
        |md AS (SELECT event_type, median(dev) AS mad FROM ad GROUP BY 1)
        |SELECT ad.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(count(*) FILTER (0.6745*dev/mad > 3.5) AS BIGINT) AS n_anomalies,
        |  round(max(0.6745*dev/mad), 6) AS max_robust_z
        |FROM ad JOIN md USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin,

    "stat_power_twoprop" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),1,1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm,
        |    CASE WHEN count(*) FILTER (event_type='purchase') >= 12
        |      THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |r AS (SELECT arm, count(*) AS n, avg(CAST(conv AS DOUBLE)) AS p
        |  FROM u GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN arm='A' THEN p END) AS pa,
        |    max(CASE WHEN arm='B' THEN p END) AS pb,
        |    max(CASE WHEN arm='A' THEN n END) AS na,
        |    max(CASE WHEN arm='B' THEN n END) AS nb FROM r)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(pa,6) AS p_a, round(pb,6) AS p_b,
        |  ceil(power(1.959964 * sqrt(2*((pa+pb)/2)*(1-(pa+pb)/2)) +
        |    0.841621 * sqrt(pa*(1-pa)+pb*(1-pb)), 2)
        |    / power(abs(pa-pb),2)) AS n_per_arm
        |FROM w""".stripMargin,

    "stat_quantile_ci" ->
      """WITH x AS (SELECT c_mktsegment AS seg, c_acctbal AS v, c_custkey AS k
        |  FROM customer),
        |r AS (SELECT seg, v, row_number() OVER (PARTITION BY seg ORDER BY v, k) AS i,
        |             count(*) OVER (PARTITION BY seg) AS n FROM x)
        |SELECT seg, CAST(max(n) AS BIGINT) AS n,
        |  round(median(v), 6) AS med,
        |  round(max(CASE WHEN i = CAST(floor(n/2.0 - 0.979982*sqrt(n)) AS BIGINT)
        |    THEN v END), 6) AS ci_lo,
        |  round(max(CASE WHEN i = CAST(ceil(n/2.0 + 1 + 0.979982*sqrt(n)) AS BIGINT)
        |    THEN v END), 6) AS ci_hi
        |FROM r GROUP BY seg ORDER BY seg""".stripMargin,

    "stat_mann_kendall" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round(sum(value),6) AS x FROM events GROUP BY 1,2),
        |p AS (SELECT a.event_type, sign(b.x - a.x) AS sg
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d < b.d),
        |s AS (SELECT event_type, sum(sg) AS S FROM p GROUP BY 1),
        |n AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1)
        |SELECT s.event_type, CAST(n AS BIGINT) AS n_days, CAST(S AS BIGINT) AS s_stat,
        |  round((S - sign(S)) / sqrt(n*(n-1.0)*(2*n+5)/18), 6) AS z
        |FROM s JOIN n USING (event_type) ORDER BY 1""".stripMargin,

    "dedup_soft_weights" ->
      """WITH tk AS (SELECT doc_id, source,
        |    list_filter(string_split(text,' '), x->x<>'') AS t FROM documents),
        |s AS (SELECT doc_id, source, unnest(list_transform(range(1, len(t)-7+1),
        |        i -> substr(md5(array_to_string(t[i:i+7], ' ')), 1, 16))) AS sh
        |  FROM tk WHERE len(t) >= 8),
        |df AS (SELECT sh, count(DISTINCT doc_id) AS df FROM s GROUP BY 1),
        |dw AS (SELECT doc_id, source, round(avg(1.0/df), 9) AS w
        |  FROM s JOIN df USING (sh) GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(w), 6) AS mean_weight, round(sum(w), 6) AS effective_docs
        |FROM dw GROUP BY source ORDER BY source""".stripMargin,

    "sample_importance" ->
      """WITH l AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n, count(DISTINCT lang) AS L FROM documents),
        |w AS (SELECT lang, nl, (CAST(n AS DOUBLE)/L)/nl AS wt FROM l CROSS JOIN t)
        |SELECT lang, CAST(nl AS BIGINT) AS n_docs, round(wt, 6) AS weight,
        |  round(nl*wt, 6) AS weighted_mass,
        |  round(power((SELECT sum(nl*wt) FROM w), 2) /
        |    ((SELECT sum(nl*wt*wt) FROM w) * (SELECT n FROM t)), 6) AS ess_ratio
        |FROM w ORDER BY lang""".stripMargin,

    "text_ngram_novelty" ->
      """WITH tk AS (SELECT doc_id, lang,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < '8'
        |      THEN 'train' ELSE 'val' END AS split,
        |    list_filter(string_split(text,' '), x->x<>'') AS t FROM documents),
        |bi AS (SELECT DISTINCT lang, split, unnest(list_transform(range(1, len(t)),
        |        i -> t[i] || ' ' || t[i+1])) AS b FROM tk WHERE len(t) >= 2),
        |v AS (SELECT lang, b FROM bi WHERE split = 'val'),
        |tr AS (SELECT lang, b FROM bi WHERE split = 'train')
        |SELECT v.lang, CAST(count(*) AS BIGINT) AS n_val_bigrams,
        |  CAST(count(*) FILTER (tr.b IS NULL) AS BIGINT) AS n_novel,
        |  round(CAST(count(*) FILTER (tr.b IS NULL) AS DOUBLE)/count(*), 6) AS novelty
        |FROM v LEFT JOIN tr ON v.lang = tr.lang AND v.b = tr.b
        |GROUP BY v.lang ORDER BY v.lang""".stripMargin,

    "events_funnel_time" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type='view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
        |  WHERE event_type='purchase' AND ts >= t1 GROUP BY 1),
        |dt AS (SELECT v.user_id, CAST(date_diff('second', t1, t2) AS DOUBLE) AS s
        |  FROM v JOIN p ON v.user_id = p.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(median(s), 6) AS median_s,
        |  round(quantile_cont(s, 0.9), 6) AS p90_s,
        |  round(avg(s), 6) AS mean_s FROM dt""".stripMargin,

    "win_percent_rank" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(CASE WHEN pr >= 0.9 THEN tp ELSE 0.0 END
        |      AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(sum(CAST(tp AS DECIMAL(18,2))) AS DOUBLE), 6) AS top_decile_share
        |FROM (SELECT o_orderpriority, o_totalprice AS tp,
        |    percent_rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS pr
        |  FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "stat_cohens_d" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),1,1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm,
        |    avg(value) AS v FROM events GROUP BY 1),
        |r AS (SELECT arm, count(*) AS n, avg(v) AS m, var_samp(v) AS s2
        |  FROM u GROUP BY 1),
        |w AS (SELECT max(CASE WHEN arm='A' THEN n END) AS na,
        |             max(CASE WHEN arm='B' THEN n END) AS nb,
        |             max(CASE WHEN arm='A' THEN m END) AS ma,
        |             max(CASE WHEN arm='B' THEN m END) AS mb,
        |             max(CASE WHEN arm='A' THEN s2 END) AS va,
        |             max(CASE WHEN arm='B' THEN s2 END) AS vb FROM r)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(sqrt(((na-1)*va + (nb-1)*vb) / (na+nb-2)), 6) AS pooled_sd,
        |  round((ma-mb) / sqrt(((na-1)*va + (nb-1)*vb) / (na+nb-2)), 6) AS cohens_d
        |FROM w""".stripMargin,

    "stat_runs_test" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round(sum(value),6) AS x FROM events GROUP BY 1,2),
        |df AS (SELECT event_type, d,
        |    x - lag(x) OVER (PARTITION BY event_type ORDER BY d) AS dx FROM daily),
        |s AS (SELECT event_type, d, CASE WHEN dx > 0 THEN 1 ELSE 0 END AS up
        |  FROM df WHERE dx IS NOT NULL AND dx <> 0),
        |r AS (SELECT event_type, d, up,
        |    CASE WHEN lag(up) OVER (PARTITION BY event_type ORDER BY d) IS NULL
        |          OR lag(up) OVER (PARTITION BY event_type ORDER BY d) <> up
        |      THEN 1 ELSE 0 END AS new_run FROM s),
        |agg AS (SELECT event_type, sum(new_run) AS runs,
        |    count(*) FILTER (up = 1) AS n1, count(*) FILTER (up = 0) AS n2
        |  FROM r GROUP BY 1)
        |SELECT event_type, CAST(runs AS BIGINT) AS runs,
        |  CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
        |  round((runs - (2.0*n1*n2/(n1+n2) + 1)) /
        |    sqrt(2.0*n1*n2*(2.0*n1*n2 - n1 - n2)
        |      / (power(n1+n2,2)*(n1+n2-1))), 6) AS z
        |FROM agg ORDER BY 1""".stripMargin,

    "stat_jarque_bera" ->
      """WITH m AS (SELECT c_mktsegment AS seg, avg(c_acctbal) AS mu
        |  FROM customer GROUP BY 1),
        |mm AS (SELECT seg, count(*) AS n,
        |    avg(power(c_acctbal - mu, 2)) AS m2,
        |    avg(power(c_acctbal - mu, 3)) AS m3,
        |    avg(power(c_acctbal - mu, 4)) AS m4
        |  FROM customer JOIN m ON c_mktsegment = seg GROUP BY 1, mu)
        |SELECT seg, CAST(n AS BIGINT) AS n,
        |  round(m3 / power(m2, 1.5), 6) AS skew,
        |  round(m4 / power(m2, 2) - 3, 6) AS ex_kurt,
        |  round(n / 6.0 * (power(m3 / power(m2, 1.5), 2)
        |    + power(m4 / power(m2, 2) - 3, 2) / 4), 6) AS jb
        |FROM mm ORDER BY seg""".stripMargin,

    "stat_welch_ttest" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),1,1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm,
        |    avg(value) AS v FROM events GROUP BY 1),
        |r AS (SELECT arm, count(*) AS n, avg(v) AS m, var_samp(v) AS s2
        |  FROM u GROUP BY 1),
        |w AS (SELECT max(CASE WHEN arm='A' THEN n END) AS na,
        |             max(CASE WHEN arm='B' THEN n END) AS nb,
        |             max(CASE WHEN arm='A' THEN m END) AS ma,
        |             max(CASE WHEN arm='B' THEN m END) AS mb,
        |             max(CASE WHEN arm='A' THEN s2 END) AS va,
        |             max(CASE WHEN arm='B' THEN s2 END) AS vb FROM r)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ma,6) AS mean_a, round(mb,6) AS mean_b,
        |  round((ma-mb)/sqrt(va/na+vb/nb),6) AS t,
        |  round(power(va/na+vb/nb,2)/(power(va/na,2)/(na-1)+power(vb/nb,2)/(nb-1)),6) AS df
        |FROM w""".stripMargin,

    "stat_chisq_independence" ->
      """WITH o AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1,2),
        |rl AS (SELECT lang, sum(o) AS rl FROM o GROUP BY 1),
        |cs AS (SELECT source, sum(o) AS cs FROM o GROUP BY 1),
        |t AS (SELECT sum(o) AS n FROM o),
        |cells AS (SELECT lang, source, o, rl*cs/CAST(n AS DOUBLE) AS e
        |  FROM o JOIN rl USING (lang) JOIN cs USING (source) CROSS JOIN t)
        |SELECT round(sum((o-e)*(o-e)/e),6) AS chi2,
        |  CAST(((SELECT count(*) FROM rl)-1)*((SELECT count(*) FROM cs)-1)
        |    AS BIGINT) AS df,
        |  round(sqrt(sum((o-e)*(o-e)/e)/((SELECT n FROM t)
        |    *least((SELECT count(*) FROM rl)-1,(SELECT count(*) FROM cs)-1))),6)
        |    AS cramers_v
        |FROM cells""".stripMargin,

    "stat_levene" ->
      """WITH x AS (SELECT c_mktsegment AS g, c_acctbal AS y FROM customer),
        |md AS (SELECT g, median(y) AS med FROM x GROUP BY 1),
        |z AS (SELECT x.g, abs(y-med) AS z FROM x JOIN md USING (g)),
        |gm AS (SELECT g, count(*) AS nj, avg(z) AS zj FROM z GROUP BY 1),
        |tot AS (SELECT count(*) AS n, avg(z) AS zb, count(DISTINCT g) AS k FROM z),
        |num AS (SELECT sum(nj*(zj-zb)*(zj-zb)) AS num FROM gm CROSS JOIN tot),
        |den AS (SELECT sum((z.z-zj)*(z.z-zj)) AS den FROM z JOIN gm USING (g))
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  round((n-k)*1.0/(k-1) * num/den, 6) AS f_stat
        |FROM tot CROSS JOIN num CROSS JOIN den""".stripMargin,

    "text_heaps_law" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x->x<>'') AS t FROM documents),
        |tk3 AS (SELECT doc_id, t FROM tk WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS w FROM tk3),
        |nt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |rk AS (SELECT doc_id, n, row_number() OVER (ORDER BY doc_id) AS r,
        |              count(*) OVER () AS nd FROM nt),
        |thr AS (SELECT i, max(doc_id) AS d FROM rk JOIN range(1,11) t(i)
        |  ON r <= CAST(floor(i * nd / 10.0) AS BIGINT) GROUP BY i),
        |firsts AS (SELECT w, min(doc_id) AS fd FROM sh GROUP BY 1),
        |pts AS (SELECT i, (SELECT sum(n) FROM nt WHERE doc_id <= d) AS T,
        |    (SELECT count(*) FROM firsts WHERE fd <= d) AS V FROM thr),
        |l AS (SELECT ln(CAST(T AS DOUBLE)) AS lt, ln(CAST(V AS DOUBLE)) AS lv
        |  FROM pts),
        |fit AS (SELECT (avg(lt*lv) - avg(lt)*avg(lv))
        |      / (avg(lt*lt) - avg(lt)*avg(lt)) AS beta,
        |    avg(lv) AS mlv, avg(lt) AS mlt FROM l)
        |SELECT round(beta, 6) AS beta, round(exp(mlv - beta*mlt), 6) AS k,
        |  (SELECT CAST(max(V) AS BIGINT) FROM pts) AS vocab,
        |  (SELECT CAST(max(T) AS BIGINT) FROM pts) AS tokens
        |FROM fit""".stripMargin,

    "text_js_divergence" ->
      """WITH w AS (SELECT lang,
        |    substr(md5(unnest(list_filter(string_split(text,' '), x->x<>''))),1,2) AS b
        |  FROM documents),
        |pl AS (SELECT lang, b, count(*) AS c FROM w GROUP BY 1,2),
        |nl AS (SELECT lang, sum(c) AS n FROM pl GROUP BY 1),
        |pc AS (SELECT b, sum(c) AS c FROM pl GROUP BY 1),
        |nc AS (SELECT sum(c) AS n FROM pc),
        |j AS (SELECT pl.lang, pl.c/CAST(nl.n AS DOUBLE) AS p,
        |    pc.c/CAST(nc.n AS DOUBLE) AS q
        |  FROM pl JOIN nl USING (lang) JOIN pc USING (b) CROSS JOIN nc)
        |SELECT lang, round(sum(0.5*p*ln(2*p/(p+q)) + 0.5*q*ln(2*q/(p+q)))
        |  + 0.5*(1 - sum(q)) * ln(2.0), 6) AS jsd
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_weekday_strength" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round(sum(value),6) AS x FROM events GROUP BY 1,2),
        |wd AS (SELECT event_type, dayofweek(d) AS w, avg(x) AS mw
        |  FROM daily GROUP BY 1,2),
        |j AS (SELECT daily.event_type, x, x - mw AS r FROM daily JOIN wd
        |  ON daily.event_type = wd.event_type AND dayofweek(d) = w)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(greatest(0, 1 - var_pop(r)/var_pop(x)), 6) AS weekday_strength
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_naive_mape" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round(sum(value),6) AS x FROM events GROUP BY 1,2),
        |f AS (SELECT a.event_type, a.d, a.x, b.x AS fc
        |  FROM daily a JOIN daily b ON a.event_type=b.event_type AND b.d = a.d - 7)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
        |  round(avg(abs(x-fc)/abs(x)), 6) AS mape,
        |  round(avg(2*abs(x-fc)/(abs(x)+abs(fc))), 6) AS smape
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "graph_rich_club" ->
      """WITH le AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM le a
        |  JOIN le b ON a.ok=b.ok AND a.pk < b.pk),
        |deg AS (SELECT n, count(*) AS d FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |rk AS (SELECT d, row_number() OVER (ORDER BY d) AS r,
        |  count(*) OVER () AS c FROM deg),
        |thr AS (SELECT max(d) AS k FROM rk WHERE r <= CAST(ceil(0.9 * c) AS BIGINT)),
        |rich AS (SELECT n FROM deg CROSS JOIN thr WHERE d > k),
        |re AS (SELECT count(*) AS er FROM e WHERE u IN (SELECT n FROM rich)
        |  AND v IN (SELECT n FROM rich)),
        |nr AS (SELECT count(*) AS nr FROM rich)
        |SELECT CAST((SELECT k FROM thr) AS BIGINT) AS k_threshold,
        |  CAST(nr AS BIGINT) AS n_rich, CAST(er AS BIGINT) AS e_rich,
        |  round(2.0*er/(nr*(nr-1.0)), 6) AS phi
        |FROM nr CROSS JOIN re""".stripMargin,

    "sample_pps" ->
      """WITH m AS (SELECT source, sum(n_chars) AS mass FROM documents GROUP BY 1),
        |c AS (SELECT source, mass, sum(mass) OVER (ORDER BY source) AS hi,
        |             sum(mass) OVER (ORDER BY source) - mass AS lo FROM m),
        |t AS (SELECT sum(mass) AS total FROM m),
        |sel AS (SELECT source, mass, j
        |  FROM c CROSS JOIN t JOIN range(0,5) r(j)
        |    ON (j + 0.5) * total / 5 >= lo AND (j + 0.5) * total / 5 < hi)
        |SELECT CAST(j AS BIGINT) AS pointer, source, CAST(mass AS BIGINT) AS mass
        |FROM sel ORDER BY pointer""".stripMargin,

    "graph_eigen_centrality" ->
      """WITH le AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM le a JOIN le b ON a.ok = b.ok AND a.pk <> b.pk),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT sqrt(CAST(count(*) AS DOUBLE)) AS nr FROM nodes),
        |x0 AS (SELECT node, 1.0 / nr AS x FROM nodes CROSS JOIN nn),
        |a1 AS (SELECT e.dst AS node, sum(p.x) AS ax FROM edges e
        |  JOIN x0 p ON e.src = p.node GROUP BY 1),
        |n1 AS (SELECT sqrt(sum(ax*ax)) AS nr FROM a1),
        |x1 AS (SELECT node, ax / nr AS x FROM a1 CROSS JOIN n1),
        |a2 AS (SELECT e.dst AS node, sum(p.x) AS ax FROM edges e
        |  JOIN x1 p ON e.src = p.node GROUP BY 1),
        |n2 AS (SELECT sqrt(sum(ax*ax)) AS nr FROM a2),
        |x2 AS (SELECT node, ax / nr AS x FROM a2 CROSS JOIN n2),
        |a3 AS (SELECT e.dst AS node, sum(p.x) AS ax FROM edges e
        |  JOIN x2 p ON e.src = p.node GROUP BY 1),
        |n3 AS (SELECT sqrt(sum(ax*ax)) AS nr FROM a3),
        |x3 AS (SELECT node, ax / nr AS x FROM a3 CROSS JOIN n3)
        |SELECT node AS p_partkey, round(x, 6) AS centrality
        |FROM x3 ORDER BY centrality DESC, p_partkey LIMIT 20""".stripMargin
  )
}
