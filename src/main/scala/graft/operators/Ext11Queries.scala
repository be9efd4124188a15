package graft.operators

import graft.{Q, Tables}
import graft.api.TextOps.nonEmptyTokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 operator pack: sub-document (block-level) exact dedup,
  * DSIR-style hashed-ngram importance weighting, deterministic
  * hash-bootstrap confidence intervals, frequency-moment (self-join
  * size) statistics, SCD2 validity-interval as-of joins, Markov
  * stationary distributions, WebDataset-style shard manifests, and
  * Neyman-allocation stratified sampling.
  *
  * Scale notes (100 TB design):
  * - dedup_paragraph: block hashing is one shuffle keyed by the block
  *   hash (the Lee-et-al line-dedup shape); the per-hash window is
  *   partitioned by that hash, never global. Block construction is
  *   array arithmetic inside the row — no explode-then-regroup.
  * - text_dsir: the bucket table is 256 rows (broadcast); the doc
  *   weight is one keyed aggregation over the exploded bigrams. The
  *   importance model (hashed-bigram log-ratio) is the DSIR
  *   construction with add-1 smoothing.
  * - stat_bootstrap_ci: B=32 replicate weights ride one explode —
  *   rows×32 but fully map-side-combinable into 32 partial sums; the
  *   final window orders B rows (fixed, scale-independent). Weighted
  *   sums are DECIMAL-exact, so resample means are bit-identical on
  *   any partitioning.
  * - agg_f2_selfjoin: two-phase aggregation per audited key column;
  *   F2 = Σc² is the self-join size the CBO needs for equi-join
  *   cardinality. At extreme per-key counts lift c*c to DECIMAL
  *   before summing (long is fine through sf0.1 × 1000).
  * - join_scd2_asof: the SCD2 dimension is customer-sized → broadcast;
  *   the fact side never shuffles. The equi key keeps it a hash join,
  *   the validity interval rides as the join residual.
  * - events_markov_stationary: the transition matrix is |event_type|²
  *   (enum-bounded control plane) — counted distributed, then the
  *   12-step power iteration runs on the driver over ≤ dozens of
  *   doubles. Per-iteration 9dp rounding keeps both engines on the
  *   identical trajectory regardless of summation order.
  * - mm_shard_manifest: the running byte-sum is a PER-ORIGIN keyed
  *   window (source-sharded layout, the WebDataset convention) — no
  *   global ordering funnel at any scale.
  * - sample_neyman: per-stratum moments are one aggregation; the
  *   allocation table is |strata| rows (broadcast); selection is the
  *   stratified-window discipline of sample_stratified with the
  *   allocation joined in.
  */
object Ext11Queries {

  /** Deterministic Poisson(1)-distributed bootstrap weight from the
    * first two md5 hex chars of (key, resample): thresholds are the
    * Poisson(1) CDF mapped onto the 256 equiprobable 2-char hex
    * strings, so both engines draw the identical replicate weights.
    */
  private def poissonW(h: Column): Column =
    when(h < "5e", 0).when(h < "bc", 1).when(h < "eb", 2)
      .when(h < "fb", 3).when(h < "ff", 4).otherwise(5)

  private def f2Of(df: DataFrame, key: Column, label: String): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("f0"), sum(col("c")).as("f1"),
        sum(col("c") * col("c")).as("f2"))
      .select(lit(label).as("key_col"), col("f0"),
        col("f1").cast("long").as("f1"), col("f2").cast("long").as("f2"),
        round(col("f2").cast("double") * col("f0") /
          (col("f1").cast("double") * col("f1").cast("double")), 6).as("skew"))

  /** The SCD2 dimension join_scd2_asof resolves against — derived
    * deterministically from customer (odd keys change segment to
    * UPDATED effective 1998-01-01, inside the orders date range).
    */
  private def scd2Dim(s: SparkSession, dir: String): DataFrame = {
    val eff = lit("1998-01-01").cast("date")
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val changed = col("c_custkey") % 2 === 1
    cust.select(col("c_custkey"), col("c_mktsegment").as("segment"),
        lit("1990-01-01").cast("date").as("valid_from"),
        when(changed, eff).otherwise(lit(null).cast("date")).as("valid_to"))
      .unionByName(cust.filter(changed).select(col("c_custkey"),
        lit("UPDATED").as("segment"), eff.as("valid_from"),
        lit(null).cast("date").as("valid_to")))
  }

  val queries: Map[String, Q] = Map(

    // sub-document exact dedup (the Lee et al. line/paragraph dedup
    // rung): text is chunked into consecutive 20-token blocks (the
    // deterministic stand-in for paragraph boundaries — this corpus
    // has no newlines), blocks are md5-hashed, and only the first
    // occurrence by (doc_id, position) survives. Per-source ledger of
    // kept vs removed block instances.
    "dedup_paragraph" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), nonEmptyTokens("text").as("toks"))
        .filter(size(col("toks")) > 0)
        .withColumn("nblk", ceil(size(col("toks")) / lit(20.0)).cast("int"))
        .select(col("doc_id"), col("source"),
          posexplode(transform(sequence(lit(0), col("nblk") - 1),
            i => array_join(slice(col("toks"), i * 20 + 1, lit(20)), " "))))
        .withColumnRenamed("col", "block")
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
      d.withColumn("h", md5(col("block")))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("rn") === 1, 1).otherwise(0)).as("n_kept"),
          sum(when(col("rn") > 1, 1).otherwise(0)).as("n_removed"))
        .orderBy(col("source"))
    }),

    // DSIR (Data Selection via Importance Resampling, Xie et al.):
    // hashed-bigram importance weights log(p_target/p_raw) with add-1
    // smoothing over 256 md5 buckets; target = English docs. Per-lang
    // report of mean weight and target-like (w > 0) doc counts — the
    // English strata score highest by construction.
    "text_dsir" -> ((s, dir) => {
      // the bigram explode below is consumed twice (count side + the
      // broadcast-score attach) with no shuffle under it — fan out the
      // narrow scan so both passes parallelize (Tables.fanOutIfNarrow)
      val docs = Tables.fanOutIfNarrow(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("lang"), nonEmptyTokens("text").as("toks"))
        .withColumn("n", size(col("toks"))).filter(col("n") >= 2)
      val bb = docs.select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(1), col("n") - 1),
            i => concat(element_at(col("toks"), i), lit(" "),
              element_at(col("toks"), i + 1)))).as("bg"))
        .withColumn("bk", substring(md5(col("bg")), 1, 2))
      val c = bb.groupBy(col("bk")).agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1).otherwise(0)).as("ct"))
      val tot = c.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
      val sc = c.crossJoin(broadcast(tot))
        .select(col("bk"), round(log(
          ((col("ct") + lit(1.0)) / (col("tt") + lit(256.0))) /
            ((col("cr") + lit(1.0)) / (col("tr") + lit(256.0)))), 9).as("score"))
      bb.join(broadcast(sc), "bk")
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(col("score")), 6).as("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("w")), 6).as("mean_w"),
          sum(when(col("w") > 0, 1).otherwise(0)).as("n_target_like"))
        .orderBy(col("lang"))
    }),

    // deterministic hash bootstrap: B=32 Poisson(1) replicate weights
    // drawn from md5(key, b) — the "bag of little bootstraps" weight
    // trick made reproducible. Resample means are DECIMAL-exact;
    // the CI is the 2nd/31st order statistic (~5%/95%) of the 32.
    "stat_bootstrap_ci" -> ((s, dir) => {
      val r = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("b", explode(sequence(lit(0), lit(31))))
        .withColumn("h", substring(md5(concat(
          col("o_orderkey").cast("string"), lit("_"),
          col("b").cast("string"))), 1, 2))
        .withColumn("w", poissonW(col("h")))
      val m = r.groupBy(col("b"))
        .agg(round(sum(Tables.dec2(col("o_totalprice")) * col("w"))
          .cast("double") / sum(col("w")), 6).as("m"))
      val wnd = Window.orderBy(col("m"), col("b"))
      m.withColumn("rn", row_number().over(wnd))
        .agg(count(lit(1)).as("n_resamples"),
          round(avg(col("m")), 6).as("boot_mean"),
          max(when(col("rn") === 2, col("m"))).as("ci_lo"),
          max(when(col("rn") === 31, col("m"))).as("ci_hi"))
    }),

    // frequency moments per audited key column: F0 (distinct), F1
    // (rows), F2 = Σc² — the exact self-join size — and the skew
    // factor F2·F0/F1² (1.0 = perfectly uniform). The statistic
    // equi-join cardinality estimation is built on.
    "agg_f2_selfjoin" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      f2Of(ev, col("event_type"), "events.event_type")
        .unionByName(f2Of(ev, col("user_id"), "events.user_id"))
        .unionByName(f2Of(Tables.orders(s, dir), col("o_custkey"),
          "orders.o_custkey"))
        .orderBy(col("key_col"))
    }),

    // as-of join against an SCD2 dimension: each order resolves the
    // segment VALID AT its order date (equi key + validity-interval
    // residual). The dimension is broadcast; odd-key customers flip
    // to UPDATED at 1998-01-01, so both validity arms carry rows.
    "join_scd2_asof" -> ((s, dir) => {
      val dim = scd2Dim(s, dir)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey") &&
          col("o_orderdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(Tables.dec2(col("o_totalprice"))).cast("double"), 2)
            .as("revenue"))
        .orderBy(col("segment"))
    }),

    // stationary distribution of the event-type Markov chain: the
    // row-stochastic transition matrix is counted distributed (lead
    // over the per-user timeline), then 12 power-iteration steps run
    // on the driver — the matrix is |event_type|² (enum-bounded
    // control plane). 9dp rounding after every step pins the
    // trajectory across engines and summation orders.
    "events_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val trans = ev.withColumn("t", lead(col("event_type"), 1).over(w))
        .filter(col("t").isNotNull)
        .groupBy(col("event_type").as("f"), col("t"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val states = ev.select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted
      def r9(x: Double) = math.rint(x * 1e9) / 1e9
      val rowTot = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val p: Map[(String, String), Double] = trans.map { case (f, t, c) =>
        (f, t) -> r9(c.toDouble / rowTot(f))
      }.toMap
      var x: Map[String, Double] =
        states.map(_ -> r9(1.0 / states.length)).toMap
      for (_ <- 1 to 12)
        x = states.map { j =>
          j -> r9(states.map(i => x(i) * p.getOrElse((i, j), 0.0)).sum)
        }.toMap
      import s.implicits._
      states.map(st => (st, math.rint(x(st) * 1e6) / 1e6)).toSeq
        .toDF("state", "stationary_p").orderBy(col("state"))
    }),

    // WebDataset-style shard manifest: per source (origin), samples
    // are packed in media_id order into ~4 KiB shards via a running
    // byte-sum; the manifest reports per-shard sample counts, bytes,
    // and the id range — exactly what a training dataloader consumes.
    "mm_shard_manifest" -> ((s, dir) => {
      val m = MultimodalQueries.mediaTable(s, dir)
        .select(col("media_id"), col("meta.origin").as("origin"),
          octet_length(col("payload")).as("nb"))
      val w = Window.partitionBy(col("origin")).orderBy(col("media_id"))
      m.withColumn("cum", sum(col("nb")).over(w))
        .withColumn("shard", floor((col("cum") - 1) / lit(4096)).cast("int"))
        .groupBy(col("origin"), col("shard"))
        .agg(count(lit(1)).as("n_samples"), sum(col("nb")).as("shard_bytes"),
          min(col("media_id")).as("first_id"), max(col("media_id")).as("last_id"))
        .orderBy(col("origin"), col("shard"))
    }),

    // interpolated Kneser-Ney bigram LM (d = 0.75): the smoothing every
    // n-gram LM pipeline uses — discounted bigram mass backs off to the
    // CONTINUATION unigram (how many contexts a word follows), not the
    // raw frequency. All five count tables are vocabulary-bounded
    // (broadcast); per-bigram log-probs round at 9dp, doc scores at 6dp.
    "text_kn_bigram" -> ((s, dir) => {
      // tokenize + bigram explode are heavy per-row map work over a
      // narrow single-row-group scan, and `bi` is consumed twice (count
      // tables, scoring join) — fan the raw rows out first so both
      // passes run at full width (guide §2.5)
      val docs = Tables.fanOutIfNarrow(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
          "doc_id")
        .select(col("doc_id"), col("lang"), nonEmptyTokens("text").as("toks"))
        .withColumn("n", size(col("toks"))).filter(col("n") >= 2)
      val bi = docs.select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, n - 1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      val c1 = c12.groupBy(col("w1"))
        .agg(sum(col("c")).as("c1"), count(lit(1)).as("n1f"))
      val cb = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
      val tt = c12.agg(count(lit(1)).as("T"))
      val p = c12.join(broadcast(c1), "w1").join(broadcast(cb), "w2")
        .crossJoin(broadcast(tt))
        .select(col("w1"), col("w2"), round(log(
          (greatest(col("c") - lit(0.75), lit(0)) +
            lit(0.75) * col("n1f") * (col("n1b") / col("T").cast("double"))) /
            col("c1").cast("double")), 9).as("lp"))
      bi.join(broadcast(p), Seq("w1", "w2"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(col("lp")), 6).as("doc_lp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("doc_lp")), 6).as("mean_kn_lp"))
        .orderBy(col("lang"))
    }),

    // hashed-vocabulary KN bigram twin: tokens map to 256 md5-prefix
    // buckets BEFORE counting (the text_dsir bucket discipline), so
    // every count table is bounded — c1/cb ≤ 256 rows, c12 ≤ 65,536 —
    // and the broadcasts hold under ADVERSARIAL vocabulary growth
    // (ScaleBench's token-suffix inflation drove the exact-vocabulary
    // form to 7.0x at 30x; this twin's tables saturate instead). Same
    // interpolated KN math (d = 0.75) over the hashed alphabet; the
    // standard feature-hashing LM trade: collisions merge counts,
    // determinism and oracle-reproducibility are exact (md5 on both
    // engines).
    "text_kn_bigram_hashed" -> ((s, dir) => {
      // per-token md5 + bigram explode over a narrow scan, consumed
      // twice — same fan-out as the exact-vocabulary twin (guide §2.5)
      val docs = Tables.fanOutIfNarrow(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
          "doc_id")
        .select(col("doc_id"), col("lang"),
          transform(nonEmptyTokens("text"), t => substring(md5(t), 1, 2)).as("toks"))
        .withColumn("n", size(col("toks"))).filter(col("n") >= 2)
      val bi = docs.select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, n - 1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      val c1 = c12.groupBy(col("w1"))
        .agg(sum(col("c")).as("c1"), count(lit(1)).as("n1f"))
      val cb = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
      val tt = c12.agg(count(lit(1)).as("T"))
      val p = c12.join(broadcast(c1), "w1").join(broadcast(cb), "w2")
        .crossJoin(broadcast(tt))
        .select(col("w1"), col("w2"), round(log(
          (greatest(col("c") - lit(0.75), lit(0)) +
            lit(0.75) * col("n1f") * (col("n1b") / col("T").cast("double"))) /
            col("c1").cast("double")), 9).as("lp"))
      bi.join(broadcast(p), Seq("w1", "w2"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(col("lp")), 6).as("doc_lp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("doc_lp")), 6).as("mean_kn_lp"))
        .orderBy(col("lang"))
    }),

    // binary-segmentation changepoint: per event type, the day that
    // maximizes |mean(≤ d) − mean(> d)| over the daily value series —
    // the first split of the classic recursive detector, exact. One
    // keyed cumulative window over ~365 rows per type; never global.
    "ts_changepoint_binary" -> ((s, dir) => {
      val wc = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val wt = Window.partitionBy(col("event_type"))
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("x"))
      val g = daily
        .withColumn("cs", sum(col("x")).over(wc))
        .withColumn("cn", count(lit(1)).over(wc))
        .withColumn("ts_", sum(col("x")).over(wt))
        .withColumn("tn", count(lit(1)).over(wt))
        .filter(col("cn") < col("tn"))
        .select(col("event_type"), col("d"),
          round(col("cs") / col("cn"), 6).as("mean_left"),
          round((col("ts_") - col("cs")) / (col("tn") - col("cn")), 6).as("mean_right"),
          round(abs(col("cs") / col("cn") -
            (col("ts_") - col("cs")) / (col("tn") - col("cn"))), 6).as("gap"))
      val wr = Window.partitionBy(col("event_type"))
        .orderBy(desc("gap"), col("d"))
      g.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("split_day"),
          col("mean_left"), col("mean_right"), col("gap"))
        .orderBy(col("event_type"))
    }),

    // trailing 7-day distinct users per day (the WAU-style rolling
    // cardinality): each (user, day) explodes to the 7 target days it
    // contributes to — an EQUI-shuffle linear in user-days, instead of
    // the range join or the per-day re-scan that dies at 100 TB.
    "events_rolling_distinct" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val days = ud.select(col("d")).distinct()
      val ex = ud.withColumn("o", explode(sequence(lit(0), lit(6))))
        .select(col("user_id"), col("d").as("d0"),
          date_add(col("d"), col("o")).as("t"))
      ex.groupBy(col("t").as("d"))
        .agg(countDistinct(col("user_id")).as("u7"),
          countDistinct(when(col("t") === col("d0"), col("user_id"))).as("u1"))
        .join(days, "d")
        .orderBy(col("d"))
    }),

    // point-in-time as-of join with a STALENESS BOUND: each purchase
    // takes its user's last click only when it is ≤ 24 h old — the
    // feature-store join (no future leakage, no stale features). The
    // tolerance rides the existing sort-merge as-of machinery as a
    // post-predicate; per-user freshness ledger out.
    "join_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val j = graft.api.JoinOps.asofJoin(purchases, clicks, "user_id", "ts",
        rightCols = Seq("ts"), inclusive = false)
      // freshness gap averaged from EXACT µs long sums (a per-row
      // double divide averaged would round-flip at 6dp across engines)
      val freshUs = when(col("asof_ts").isNotNull &&
          col("asof_ts") >= col("ts") - expr("INTERVAL 24 HOURS"),
        unix_micros(col("ts")) - unix_micros(col("asof_ts")))
      j.withColumn("fresh_us", freshUs)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          count(col("fresh_us")).as("n_fresh"),
          round(sum(col("fresh_us")) / count(col("fresh_us")) / lit(6.0e7), 6)
            .as("avg_fresh_minutes"))
        .orderBy(col("user_id"))
    }),

    // Benjamini-Hochberg FDR over per-nation mean-deviation tests:
    // p-values from the logistic approximation of the normal CDF
    // (Φ(z) ≈ 1/(1+e^{−1.702z}), documented, deterministic), then the
    // step-up procedure at q = 0.2 — reject every rank ≤ the largest k
    // with p(k) ≤ k·q/m. The window runs over |nations| rows only.
    "stat_bh_fdr" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val st = cust.groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"),
          round(sum(Tables.dec2(col("c_acctbal"))).cast("double") /
            count(lit(1)), 9).as("mean_n"))
      val g = cust.agg(
        round(sum(Tables.dec2(col("c_acctbal"))).cast("double") /
          count(lit(1)), 9).as("mean_all"),
        round(stddev_samp(col("c_acctbal")), 6).as("sd"))
      val pv = st.crossJoin(broadcast(g))
        .select(col("nation"), round(
          lit(2) * (lit(1) - lit(1) / (lit(1) + exp(lit(-1.702) *
            abs(round((col("mean_n") - col("mean_all")) /
              (col("sd") / sqrt(col("n"))), 9))))), 9).as("p"))
      val wr = Window.orderBy(col("p"), col("nation"))
      val wAll = Window.partitionBy()
      pv.withColumn("rn", row_number().over(wr))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("kmax",
          max(when(col("p") <= col("rn") * lit(0.2) / col("m"), col("rn")))
            .over(wAll))
        .select(col("nation"), col("p"),
          coalesce(col("rn") <= col("kmax"), lit(false)).as("rejected"))
        .orderBy(col("nation"))
    }),

    // Neyman-allocation stratified sampling: n_h ∝ N_h·S_h (the
    // minimum-variance allocation for a fixed total budget of 100),
    // then the deterministic md5-order selection within each stratum.
    // Reports population size, allocation, and the sample mean.
    "sample_neyman" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("segment"), col("c_custkey"),
          col("c_acctbal"))
      val st = cust.groupBy(col("segment"))
        .agg(count(lit(1)).as("nh"),
          round(stddev_samp(col("c_acctbal")), 6).as("sh"))
      val tot = st.agg(sum(col("nh") * col("sh")).as("t"))
      val al = st.crossJoin(broadcast(tot))
        .select(col("segment"), col("nh"), greatest(lit(1),
          floor(lit(100) * col("nh") * col("sh") / col("t")).cast("int"))
          .as("n_alloc"))
      val w = Window.partitionBy(col("segment"))
        .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
      cust.withColumn("rn", row_number().over(w))
        .join(broadcast(al), "segment")
        .filter(col("rn") <= col("n_alloc"))
        .groupBy(col("segment"), col("nh"), col("n_alloc"))
        .agg(round(sum(Tables.dec2(col("c_acctbal"))).cast("double") /
          count(lit(1)), 6).as("mean_sel"))
        .select(col("segment"), col("nh").as("n_pop"), col("n_alloc"),
          col("mean_sel"))
        .orderBy(col("segment"))
    })
  )

  /** 12 chained power-iteration CTEs, generated to keep the oracle in
    * lockstep with the engine's per-step 9dp rounding.
    */
  private val markovSql: String = {
    val head =
      """WITH tr AS (SELECT event_type AS f,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events),
        |c AS (SELECT f, t, count(*) AS c FROM tr WHERE t IS NOT NULL GROUP BY f, t),
        |p AS (SELECT f, t, round(c / CAST(sum(c) OVER (PARTITION BY f) AS DOUBLE), 9) AS p FROM c),
        |s AS (SELECT DISTINCT event_type AS st FROM events),
        |n AS (SELECT count(*) AS ns FROM s),
        |x0 AS (SELECT st, round(1.0 / ns, 9) AS x FROM s CROSS JOIN n)""".stripMargin
    val iters = (1 to 12).map { k =>
      s"""x$k AS (SELECT s.st, round(coalesce(sum(x.x * p.p), 0), 9) AS x
         |  FROM s LEFT JOIN p ON p.t = s.st LEFT JOIN x${k - 1} x ON x.st = p.f
         |  GROUP BY s.st)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      "\nSELECT st AS state, round(x, 6) AS stationary_p FROM x12 ORDER BY st"
  }

  val oracle: Map[String, String] = Map(

    "dedup_paragraph" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
        |b0 AS (SELECT doc_id, source,
        |    unnest(list_transform(range(0, CAST(ceil(len(toks)/20.0) AS BIGINT)),
        |      i -> {'pos': CAST(i AS INT),
        |            'block': array_to_string(toks[(20*i+1):(20*i+20)], ' ')}),
        |      recursive := true)
        |  FROM t WHERE len(toks) > 0),
        |r AS (SELECT source,
        |    row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, pos) AS rn
        |  FROM b0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "text_dsir" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
        |t2 AS (SELECT doc_id, lang, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, n), i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t2),
        |bb AS (SELECT doc_id, lang, substring(md5(bg),1,2) AS bk FROM bi),
        |c AS (SELECT bk, count(*) AS cr,
        |    sum(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS ct FROM bb GROUP BY bk),
        |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM c),
        |sc AS (SELECT bk, round(ln(((ct+1.0)/(tt+256.0)) / ((cr+1.0)/(tr+256.0))), 9) AS score
        |  FROM c CROSS JOIN tot),
        |dw AS (SELECT doc_id, lang, round(avg(score),6) AS w
        |  FROM bb JOIN sc USING (bk) GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, round(avg(w),6) AS mean_w,
        |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_target_like
        |FROM dw GROUP BY lang ORDER BY lang""".stripMargin,

    "stat_bootstrap_ci" ->
      """WITH r AS (SELECT o_orderkey, o_totalprice, g.b
        |    FROM orders, (SELECT unnest(range(0,32)) AS b) g),
        |w AS (SELECT b, o_totalprice,
        |    CASE WHEN h < '5e' THEN 0 WHEN h < 'bc' THEN 1 WHEN h < 'eb' THEN 2
        |         WHEN h < 'fb' THEN 3 WHEN h < 'ff' THEN 4 ELSE 5 END AS w
        |  FROM (SELECT *, substring(md5(CAST(o_orderkey AS VARCHAR) || '_' ||
        |      CAST(b AS VARCHAR)),1,2) AS h FROM r)),
        |m AS (SELECT b, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * w) AS DOUBLE)
        |    / sum(w), 6) AS m FROM w GROUP BY b),
        |rk AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS rn FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_resamples, round(avg(m),6) AS boot_mean,
        |  max(CASE WHEN rn = 2 THEN m END) AS ci_lo,
        |  max(CASE WHEN rn = 31 THEN m END) AS ci_hi
        |FROM rk""".stripMargin,

    "agg_f2_selfjoin" ->
      """SELECT * FROM (
        |  SELECT 'events.event_type' AS key_col, CAST(count(*) AS BIGINT) AS f0,
        |    CAST(sum(c) AS BIGINT) AS f1, CAST(sum(c*c) AS BIGINT) AS f2,
        |    round(CAST(sum(c*c) AS DOUBLE) * count(*) /
        |      (CAST(sum(c) AS DOUBLE) * sum(c)), 6) AS skew
        |  FROM (SELECT count(*) AS c FROM events GROUP BY event_type)
        |  UNION ALL
        |  SELECT 'events.user_id', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
        |    CAST(sum(c*c) AS BIGINT),
        |    round(CAST(sum(c*c) AS DOUBLE) * count(*) /
        |      (CAST(sum(c) AS DOUBLE) * sum(c)), 6)
        |  FROM (SELECT count(*) AS c FROM events GROUP BY user_id)
        |  UNION ALL
        |  SELECT 'orders.o_custkey', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
        |    CAST(sum(c*c) AS BIGINT),
        |    round(CAST(sum(c*c) AS DOUBLE) * count(*) /
        |      (CAST(sum(c) AS DOUBLE) * sum(c)), 6)
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)
        |) ORDER BY key_col""".stripMargin,

    "join_scd2_asof" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_mktsegment AS segment, DATE '1990-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 2 = 1 THEN DATE '1998-01-01' END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'UPDATED', DATE '1998-01-01', NULL
        |  FROM customer WHERE c_custkey % 2 = 1)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders JOIN dim ON o_custkey = c_custkey
        |  AND o_orderdate >= valid_from AND (valid_to IS NULL OR o_orderdate < valid_to)
        |GROUP BY segment ORDER BY segment""".stripMargin,

    "events_markov_stationary" -> markovSql,

    "text_kn_bigram" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
        |t2 AS (SELECT doc_id, lang, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, n),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]}), recursive := true)
        |  FROM t2),
        |c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c) AS c1, count(*) AS n1f FROM c12 GROUP BY w1),
        |cb AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY w2),
        |tt AS (SELECT count(*) AS T FROM c12),
        |p AS (SELECT c12.w1, c12.w2,
        |    round(ln((greatest(c12.c - 0.75, 0) +
        |        0.75 * c1.n1f * (cb.n1b / CAST(tt.T AS DOUBLE)))
        |      / CAST(c1.c1 AS DOUBLE)), 9) AS lp
        |  FROM c12 JOIN c1 USING (w1) JOIN cb USING (w2) CROSS JOIN tt),
        |dl AS (SELECT doc_id, lang, round(avg(lp), 6) AS doc_lp
        |  FROM bi JOIN p USING (w1, w2) GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(doc_lp), 6) AS mean_kn_lp
        |FROM dl GROUP BY lang ORDER BY lang""".stripMargin,

    "text_kn_bigram_hashed" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_transform(list_filter(string_split(text,' '), x -> x <> ''),
        |      w -> substr(md5(w), 1, 2)) AS toks FROM documents),
        |t2 AS (SELECT doc_id, lang, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, n),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]}), recursive := true)
        |  FROM t2),
        |c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c) AS c1, count(*) AS n1f FROM c12 GROUP BY w1),
        |cb AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY w2),
        |tt AS (SELECT count(*) AS T FROM c12),
        |p AS (SELECT c12.w1, c12.w2,
        |    round(ln((greatest(c12.c - 0.75, 0) +
        |        0.75 * c1.n1f * (cb.n1b / CAST(tt.T AS DOUBLE)))
        |      / CAST(c1.c1 AS DOUBLE)), 9) AS lp
        |  FROM c12 JOIN c1 USING (w1) JOIN cb USING (w2) CROSS JOIN tt),
        |dl AS (SELECT doc_id, lang, round(avg(lp), 6) AS doc_lp
        |  FROM bi JOIN p USING (w1, w2) GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(doc_lp), 6) AS mean_kn_lp
        |FROM dl GROUP BY lang ORDER BY lang""".stripMargin,

    "ts_changepoint_binary" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round(sum(value), 6) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, d,
        |    sum(x) OVER w AS cs, count(*) OVER w AS cn,
        |    sum(x) OVER (PARTITION BY event_type) AS ts_,
        |    count(*) OVER (PARTITION BY event_type) AS tn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |g AS (SELECT event_type, d,
        |    round(cs / cn, 6) AS mean_left,
        |    round((ts_ - cs) / (tn - cn), 6) AS mean_right,
        |    round(abs(cs / cn - (ts_ - cs) / (tn - cn)), 6) AS gap
        |  FROM c WHERE cn < tn),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY event_type ORDER BY gap DESC, d) AS rn FROM g)
        |SELECT event_type, d AS split_day, mean_left, mean_right, gap
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "events_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |ex AS (SELECT user_id, d AS d0,
        |    CAST(d + INTERVAL 1 DAY * g.o AS DATE) AS t
        |  FROM ud, (SELECT unnest(range(0, 7)) AS o) g),
        |agg AS (SELECT t AS d, count(DISTINCT user_id) AS u7,
        |    count(DISTINCT CASE WHEN t = d0 THEN user_id END) AS u1
        |  FROM ex GROUP BY t)
        |SELECT agg.d, CAST(u7 AS BIGINT) AS u7, CAST(u1 AS BIGINT) AS u1
        |FROM agg JOIN days ON agg.d = days.d ORDER BY agg.d""".stripMargin,

    "join_asof_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, p.ts, max(c.ts) AS last_click
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts < p.ts
        |  GROUP BY 1, 2, 3),
        |f AS (SELECT user_id,
        |    CASE WHEN last_click IS NOT NULL
        |        AND last_click >= ts - INTERVAL 24 HOUR THEN
        |      epoch_us(ts) - epoch_us(last_click) END AS fresh_us
        |  FROM j)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(fresh_us) AS BIGINT) AS n_fresh,
        |  round(sum(fresh_us) / count(fresh_us) / 60000000.0, 6)
        |    AS avg_fresh_minutes
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stat_bh_fdr" ->
      """WITH st AS (SELECT c_nationkey AS nation, count(*) AS n,
        |    round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / count(*), 9) AS mean_n
        |  FROM customer GROUP BY 1),
        |g AS (SELECT
        |    round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / count(*), 9) AS mean_all,
        |    round(stddev_samp(c_acctbal), 6) AS sd FROM customer),
        |z AS (SELECT nation, n,
        |    round((mean_n - mean_all) / (sd / sqrt(n)), 9) AS z
        |  FROM st CROSS JOIN g),
        |pv AS (SELECT nation,
        |    round(2 * (1 - 1 / (1 + exp(-1.702 * abs(z)))), 9) AS p FROM z),
        |r AS (SELECT *, row_number() OVER (ORDER BY p, nation) AS rn,
        |    count(*) OVER () AS m FROM pv),
        |k AS (SELECT *,
        |    max(CASE WHEN p <= rn * 0.2 / m THEN rn END) OVER () AS kmax FROM r)
        |SELECT nation, p, coalesce(rn <= kmax, false) AS rejected
        |FROM k ORDER BY nation""".stripMargin,

    "mm_shard_manifest" ->
      """WITH m AS (SELECT doc_id AS media_id, source AS origin,
        |    strlen(text) AS nb FROM documents),
        |c AS (SELECT media_id, origin, nb,
        |    sum(nb) OVER (PARTITION BY origin ORDER BY media_id) AS cum FROM m)
        |SELECT origin, CAST(floor((cum-1)/4096) AS INT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_samples, CAST(sum(nb) AS BIGINT) AS shard_bytes,
        |  min(media_id) AS first_id, max(media_id) AS last_id
        |FROM c GROUP BY origin, shard ORDER BY origin, shard""".stripMargin,

    "sample_neyman" ->
      """WITH st AS (SELECT c_mktsegment AS segment, count(*) AS nh,
        |    round(stddev_samp(c_acctbal),6) AS sh FROM customer GROUP BY 1),
        |tot AS (SELECT sum(nh*sh) AS t FROM st),
        |al AS (SELECT segment, nh,
        |    greatest(1, CAST(floor(100*nh*sh/t) AS INT)) AS n_alloc
        |  FROM st CROSS JOIN tot),
        |r AS (SELECT c_mktsegment AS segment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn FROM customer)
        |SELECT segment, CAST(al.nh AS BIGINT) AS n_pop, al.n_alloc,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/count(*), 6) AS mean_sel
        |FROM r JOIN al USING (segment) WHERE rn <= n_alloc
        |GROUP BY segment, al.nh, al.n_alloc ORDER BY segment""".stripMargin
  )
}
