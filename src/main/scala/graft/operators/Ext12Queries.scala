package graft.operators

import graft.{Q, Tables}
import graft.api.TextOps.nonEmptyTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 pack, second batch: GNN-style neighbor sampling, iterative
  * ESD outlier detection, two-stage cluster sampling, difference-in-
  * differences, sketch-based set-intersection estimates, and the
  * grid-bucketed spatial join.
  *
  * Scale notes (100 TB design):
  * - graph_sample_neighbors: the GraphSAGE data-prep primitive — per
  *   node, k=3 deterministic (md5-order) neighbors, then the same
  *   sample expanded one hop. Fan-out is ≤ k per node and ≤ k² for the
  *   second hop regardless of hub degree, so the join volume is n·k²
  *   (hub-skew-proof, same discipline as the degree-capped graph ops).
  * - ts_esd_outliers: generalized-ESD shape — 3 rounds of (global
  *   moments → flag max |z| → remove). Input is the DAILY series
  *   (calendar-bounded), so the per-round global window is control
  *   plane; the heavy part is the one groupBy building the series.
  * - sample_two_stage: classic survey design — stage 1 picks clusters
  *   (customers) by content hash, stage 2 picks ≤3 orders inside each.
  *   Stage-2 windows partition by cluster; the cluster list broadcasts.
  * - stat_did: four DECIMAL cell means and one arithmetic combination;
  *   a single map-side-combinable aggregation.
  * - sketch_hll_intersect: inclusion-exclusion over HLL sketches
  *   (est A + est B − est A∪B) with the exact intersection computed
  *   alongside and the estimate pinned within 20% in-band — sketches
  *   merge losslessly across partitions, the exact join is the audit.
  * - join_spatial_grid: spatial self-join via 1°×2° grid cells +
  *   neighbor-cell EQUI-join + exact haversine verify — the S2/geohash
  *   bucketing pattern (cells sized ≥ the 100 km radius over the
  *   synthesized mid-latitude band, so candidate recall is provably 1;
  *   a production build swaps the arithmetic cells for S2 tokens with
  *   polar/antimeridian wrap). Candidates are occupancy-bounded:
  *   9 · avg-cell-occupancy · n, never n².
  */
object Ext12Queries {

  /** Deterministic mid-latitude point cloud from customer keys (prime
    * lattice, reduced mod-first so the multiply can never overflow).
    */
  private def points(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey").as("id"),
      (lit(30.0) + pmod(pmod(col("c_custkey"), lit(6007L)) * 4999L, lit(6007L)) *
        lit(30.0) / lit(6007.0)).as("lat"),
      (lit(-30.0) + pmod(pmod(col("c_custkey"), lit(9973L)) * 7919L, lit(9973L)) *
        lit(60.0) / lit(9973.0)).as("lon"))

  private def haversineKm(la: org.apache.spark.sql.Column,
      loa: org.apache.spark.sql.Column, lb: org.apache.spark.sql.Column,
      lob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(2.0) * lit(6371.0) * asin(sqrt(
      pow(sin(radians(lb - la) / 2), 2) +
        cos(radians(la)) * cos(radians(lb)) *
          pow(sin(radians(lob - loa) / 2), 2)))

  val queries: Map[String, Q] = Map(

    // GraphSAGE-style 2-hop neighbor sampling: per node, the k=3
    // lowest-md5 neighbors (reproducible across engines/runs — the
    // property a random sampler lacks), then the same sampled table
    // self-joined for hop 2. Per-node ledger: fan-outs + an id
    // checksum of the distinct 2-hop sample.
    "graph_sample_neighbors" -> ((s, dir) => {
      val e = AnalyticsQueries.edges1996(s, dir)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val w = Window.partitionBy(col("a")).orderBy(
        md5(concat(col("a").cast("string"), lit("_"), col("b").cast("string"))),
        col("b"))
      val h1 = sym.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).select(col("a"), col("b"))
      val h2 = h1.as("x")
        .join(h1.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("c")).distinct()
      val agg1 = h1.groupBy(col("a")).agg(count(lit(1)).as("n_h1"))
      val agg2 = h2.groupBy(col("a"))
        .agg(count(lit(1)).as("n_h2"), sum(col("c")).as("sum_h2"))
      agg1.join(agg2, Seq("a"), "left")
        .select(col("a").as("node"), col("n_h1"),
          coalesce(col("n_h2"), lit(0L)).as("n_h2"),
          coalesce(col("sum_h2"), lit(0L)).as("sum_h2"))
        .orderBy(col("node"))
    }),

    // generalized-ESD outliers: 3 rounds of flag-the-max-|z| over the
    // daily total series, re-estimating moments after each removal —
    // the iterative detector a single z-score pass cannot express
    // (masked outliers shift the moments).
    "ts_esd_outliers" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("x"))
      var rest = daily
      var out: DataFrame = null
      for (r <- 1 to 3) {
        val st = rest.agg(avg(col("x")).as("m"), stddev_samp(col("x")).as("sd"))
        val f = rest.crossJoin(broadcast(st))
          .withColumn("zraw", abs(col("x") - col("m")) / col("sd"))
          .withColumn("rn", row_number().over(
            Window.orderBy(desc("zraw"), col("d"))))
        val removed = f.filter(col("rn") === 1)
          .select(lit(r).as("round"), col("d"), round(col("zraw"), 6).as("z"))
        out = if (out == null) removed else out.unionByName(removed)
        rest = f.filter(col("rn") > 1).select(col("d"), col("x"))
      }
      out.orderBy(col("round"))
    }),

    // two-stage cluster sampling: 20 clusters (customers) by content
    // hash, then ≤3 orders per selected cluster — the survey design
    // whose cost is bounded by the stage-1 sample, not the population.
    "sample_two_stage" -> ((s, dir) => {
      // stage 1 is a GLOBAL top-20-by-hash: orderBy+limit plans as
      // TakeOrderedAndProject (parallel partial top-k per partition),
      // never the single-partition row_number window
      val sel = Tables.customer(s, dir)
        .select(col("c_custkey"), md5(col("c_custkey").cast("string")).as("h"))
        .orderBy(col("h"), col("c_custkey"))
        .limit(20).select(col("c_custkey"))
      val w2 = Window.partitionBy(col("o_custkey"))
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      val wc = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, dir)
        .join(broadcast(sel), col("o_custkey") === col("c_custkey"))
        .withColumn("orn", row_number().over(w2))
        .withColumn("n_in_cluster", count(lit(1)).over(wc))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("n_in_cluster")).as("n_orders"),
          sum(when(col("orn") <= 3, 1).otherwise(0)).as("n_sampled"),
          round(sum(when(col("orn") <= 3, Tables.dec2(col("o_totalprice"))))
            .cast("double"), 2).as("sampled_total"))
        .orderBy(col("custkey"))
    }),

    // difference-in-differences: treated = odd customers, post =
    // orders from 1998 — (T,post − T,pre) − (C,post − C,pre) from four
    // DECIMAL-exact cell means. The workhorse causal estimator.
    "stat_did" -> ((s, dir) => {
      val cell = Tables.orders(s, dir)
        .select((col("o_custkey") % 2 === 1).as("treated"),
          (col("o_orderdate") >= lit("1998-01-01").cast("date")).as("post"),
          Tables.dec2(col("o_totalprice")).as("p"))
        .groupBy(col("treated"), col("post"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("p")).cast("double") / count(lit(1)), 6).as("m"))
      def m(t: Boolean, po: Boolean) =
        max(when(col("treated") === t && col("post") === po, col("m")))
      cell.agg(
        m(true, true).as("m_t_post"), m(true, false).as("m_t_pre"),
        m(false, true).as("m_c_post"), m(false, false).as("m_c_pre"),
        round((m(true, true) - m(true, false)) -
          (m(false, true) - m(false, false)), 6).as("did"),
        sum(col("n")).as("n_orders"))
    }),

    // set-intersection estimate from HLL sketches (inclusion-
    // exclusion: |A∩B| ≈ est A + est B − est A∪B) with the exact
    // intersection joined alongside and the estimate pinned within
    // 20% in-band — the audience-overlap primitive at sketch cost.
    "sketch_hll_intersect" -> ((s, dir) => {
      val ud = Tables.events(s, dir).select(col("event_type"),
        concat(col("user_id").cast("string"), lit("@"),
          to_date(col("ts")).cast("string")).as("k"))
      // each distinct set feeds three consumers (count, exact audit
      // join, sketch) — pin them so the base scan runs once per side
      val a = ud.filter(col("event_type") === "purchase")
        .select(col("k")).distinct().cache()
      val b = ud.filter(col("event_type") === "click")
        .select(col("k")).distinct().cache()
      try {
        val exact = a.join(b, "k").count()
        val (na, nb) = (a.count(), b.count())
        val ska = a.agg(hll_sketch_agg(col("k")).as("sa"))
        val skb = b.agg(hll_sketch_agg(col("k")).as("sb"))
        val est = ska.crossJoin(skb).select(
          hll_sketch_estimate(col("sa")).as("ea"),
          hll_sketch_estimate(col("sb")).as("eb"),
          hll_sketch_estimate(hll_union(col("sa"), col("sb"))).as("eu"))
          .select((col("ea") + col("eb") - col("eu")).cast("double").as("ei"))
          .head().getDouble(0)
        import s.implicits._
        Seq((na, nb, exact,
          math.abs(est - exact) / math.max(1L, exact) <= 0.2))
          .toDF("n_a", "n_b", "n_intersect", "estimate_within_20pct")
      } finally {
        a.unpersist(blocking = false); b.unpersist(blocking = false)
      }
    }),

    // class-balanced downsampling: every language keeps exactly the
    // minority class's count, selected in md5 order — the imbalance
    // fix every classifier-training pipeline applies, reproducible
    // and join-stable. kept_id_sum is the selected-set checksum.
    "sample_balanced" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val n = d.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val mn = n.agg(min(col("c")).as("m"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      d.select(col("lang"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .join(broadcast(n), "lang").crossJoin(broadcast(mn))
        .filter(col("rn") <= col("m"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), max(col("c")).as("n_before"),
          sum(col("doc_id")).as("kept_id_sum"))
        .orderBy(col("lang"))
    }),

    // train/test n-gram coverage: hash-split the corpus 16/84, then
    // measure what fraction of each language's TEST bigrams the train
    // split contains — the contamination-complement eval every LM
    // data pipeline reports before trusting held-out perplexity.
    "text_train_coverage" -> ((s, dir) => {
      val t2 = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), nonEmptyTokens("text").as("toks"))
        .withColumn("n", size(col("toks"))).filter(col("n") >= 2)
        .withColumn("is_test",
          substring(md5(col("doc_id").cast("string")), 1, 2) < "29")
      val bi = t2.select(col("lang"), col("is_test"),
        explode(transform(sequence(lit(1), col("n") - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))).as("bg"))
      val train = bi.filter(!col("is_test")).select(col("bg")).distinct()
        .withColumn("seen", lit(1))
      bi.filter(col("is_test"))
        .join(train, Seq("bg"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_test_bigrams"),
          sum(when(col("seen").isNotNull, 1).otherwise(0)).as("n_covered"),
          round(sum(when(col("seen").isNotNull, 1).otherwise(0)) /
            count(lit(1)).cast("double"), 6).as("coverage"))
        .orderBy(col("lang"))
    }),

    // Laspeyres price index: per-part unit prices by ship year, base-
    // year (1995) quantity weights — Σp_t·q₀ / Σp₀·q₀. The economics
    // aggregate a pricing team runs over the fact table; per-part
    // prices round 6dp so both engines index identically.
    "orders_price_index" -> ((s, dir) => {
      val px = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), year(col("l_shipdate")).as("y"))
        .agg(round(sum(Tables.dec2(col("l_extendedprice"))).cast("double") /
          sum(col("l_quantity")), 6).as("p"),
          sum(col("l_quantity")).cast("long").as("q"))
      val base = px.filter(col("y") === 1995)
        .select(col("l_partkey"), col("p").as("p0"), col("q").as("q0"))
      px.filter(col("y") > 1995).join(base, "l_partkey")
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("p") * col("q0")) / sum(col("p0") * col("q0")), 6)
            .as("laspeyres"))
        .select(col("y"), col("n_parts"), col("laspeyres"))
        .orderBy(col("y"))
    }),

    // hour-of-day uniformity: chi-square of each event type's hourly
    // histogram against uniform, flagged at χ²(23 df, α=.05) = 35.172 —
    // the seasonality sanity check behind bot/burst detectors.
    "events_hour_uniformity" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val t = h.groupBy(col("event_type"))
        .agg(sum(col("n")).as("total"), count(lit(1)).as("k"))
      val chi2 = sum(pow(col("n") - col("total") / 24.0, 2) /
        (col("total") / 24.0))
      h.join(broadcast(t), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("total")).cast("long").as("n_events"),
          max(col("k")).cast("long").as("n_hours"),
          round(chi2, 6).as("chi2"),
          (round(chi2, 6) > 35.172).as("nonuniform"))
        .orderBy(col("event_type"))
    }),

    // content-defined chunking dedup (the CDC rung between exact-doc
    // and fixed-block dedup): chunk boundaries where the rolling
    // bigram hash starts with hex '0' (p = 1/16 → ~16-token chunks),
    // so an insertion only reshapes ONE chunk and the rest still
    // dedup — the property fixed blocks lack. First occurrence by
    // (doc, chunk position) wins; per-source ledger.
    "dedup_cdc" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          posexplode(nonEmptyTokens("text")))
        .withColumnRenamed("col", "w").withColumnRenamed("pos", "i")
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val seg = tok
        .withColumn("boundary", when(col("i") > 0 &&
          substring(md5(concat(lag(col("w"), 1).over(wd), lit(" "), col("w"))),
            1, 1) === "0", 1).otherwise(0))
        .withColumn("cid", sum(col("boundary")).over(wd))
      val ch = seg.groupBy(col("doc_id"), col("source"), col("cid"))
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("i"), col("w")))),
            x => x.getField("w")), " ").as("chunk"),
          count(lit(1)).as("n_toks"))
      val wr = Window.partitionBy(md5(col("chunk")))
        .orderBy(col("doc_id"), col("cid"))
      ch.withColumn("rn", row_number().over(wr))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1).otherwise(0)).as("n_kept"),
          sum(when(col("rn") > 1, col("n_toks")).otherwise(0)).as("n_dup_tokens"))
        .orderBy(col("source"))
    }),

    // CUPED variance reduction (the A/B-testing workhorse): adjust the
    // post-period metric by the pre-period covariate, y = post −
    // θ(pre − E[pre]) with θ = cov/var — same means, tighter variance.
    // Moments are 9dp-pinned so both engines draw identical θ.
    "stat_cuped" -> ((s, dir) => {
      val u = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(round(sum(when(to_date(col("ts")) < lit("2024-01-16").cast("date"),
            col("value")).otherwise(0)), 6).as("pre"),
          round(sum(when(to_date(col("ts")) >= lit("2024-01-16").cast("date"),
            col("value")).otherwise(0)), 6).as("post"))
        .withColumn("treated", col("user_id") % 2 === 1)
      val m = u.agg(round(avg(col("pre")), 9).as("mpre"),
        round(covar_samp(col("pre"), col("post")), 9).as("cov"),
        round(var_samp(col("pre")), 9).as("vpre"))
      u.crossJoin(broadcast(m))
        .withColumn("y", col("post") -
          (col("cov") / col("vpre")) * (col("pre") - col("mpre")))
        .groupBy(col("treated"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("post")), 6).as("mean_raw"),
          round(avg(col("y")), 6).as("mean_cuped"),
          round(var_samp(col("y")) / var_samp(col("post")), 6).as("var_ratio"))
        .orderBy(col("treated"))
    }),

    // sample-ratio-mismatch check: the A/B health gate — chi-square of
    // the hash-assigned arm counts against the designed 50/50 split,
    // flagged at the χ²(1df, α=.05) = 3.841 critical value.
    "stat_srm" -> ((s, dir) => {
      val u = Tables.events(s, dir).select(col("user_id")).distinct()
        .withColumn("arm", when(
          substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
      val c = u.groupBy(col("arm")).agg(count(lit(1)).as("n"))
      val t = c.agg(sum(col("n")).as("total"))
      val chi2 = sum(pow(col("n") - col("total") / 2.0, 2) / (col("total") / 2.0))
      c.crossJoin(broadcast(t))
        .agg(max(when(col("arm") === "A", col("n"))).as("n_a"),
          max(when(col("arm") === "B", col("n"))).as("n_b"),
          round(chi2, 6).as("chi2"),
          (round(chi2, 6) > 3.841).as("srm_detected"))
    }),

    // Adamic-Adar link prediction on the mutually degree-capped (cap=4)
    // co-purchase subgraph: common neighbors weighted 1/ln(deg) — the
    // classic "who-should-connect" score. The cap bounds wedge volume
    // at n·cap² (hub-skew-proof, the graded capped-graph discipline).
    "graph_adamic_adar_capped" -> ((s, dir) => {
      val e = AnalyticsQueries.edges1996(s, dir)
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val wk = Window.partitionBy(col("a")).orderBy(col("b"))
      val kept = sym.withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= 4).select(col("a"), col("b"))
      val mut = kept.as("x").join(kept.as("y"),
          col("x.a") === col("y.b") && col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("x.b").as("b"))
      val deg = mut.groupBy(col("a")).agg(count(lit(1)).as("d"))
      val wedge = mut.as("x").join(mut.as("y"), col("x.b") === col("y.a"))
        .filter(col("x.a") < col("y.b"))
        .select(col("x.a").as("p"), col("y.b").as("q"), col("x.b").as("w"))
      wedge.join(deg, col("w") === col("a")).filter(col("d") > 1)
        .groupBy(col("p"), col("q"))
        .agg(count(lit(1)).as("n_common"),
          round(sum(lit(1.0) / log(col("d"))), 6).as("score"))
        .filter(col("n_common") >= 2)
        .orderBy(desc("score"), col("p"), col("q"))
        .limit(10)
    }),

    // spatial self-join via grid bucketing: 1°(lat) × 2°(lon) cells
    // over the mid-latitude band, neighbor-cell equi-join, exact
    // haversine ≤ 100 km verify — pair histogram by 20 km bucket.
    "join_spatial_grid" -> ((s, dir) => {
      val cells = points(s, dir)
        .withColumn("cy", floor(col("lat")).cast("int"))
        .withColumn("cx", floor(col("lon") / 2).cast("int"))
      val nb = cells
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .select(col("id").as("id_a"), col("lat").as("la"), col("lon").as("loa"),
          (col("cy") + col("dy")).as("ny"), (col("cx") + col("dx")).as("nx"))
      val cand = nb.join(
        cells.select(col("id").as("id_b"), col("lat").as("lb"),
          col("lon").as("lob"), col("cy"), col("cx")),
        col("ny") === col("cy") && col("nx") === col("cx") &&
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("la"), col("loa"),
          col("lb"), col("lob")).distinct()
      cand.withColumn("km",
          round(haversineKm(col("la"), col("loa"), col("lb"), col("lob")), 6))
        .filter(col("km") <= 100.0)
        .groupBy(floor(col("km") / 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("bucket"))
    })
  )

  private val edges1996Sql =
    """le AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |         AND l_shipdate < TIMESTAMP '1997-01-01'),
      |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |      FROM le a JOIN le b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin

  val oracle: Map[String, String] = Map(

    "graph_sample_neighbors" ->
      s"""WITH $edges1996Sql,
        |sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |rk AS (SELECT a, b, row_number() OVER (PARTITION BY a
        |    ORDER BY md5(CAST(a AS VARCHAR) || '_' || CAST(b AS VARCHAR)), b) AS rn
        |  FROM sym),
        |h1 AS (SELECT a, b FROM rk WHERE rn <= 3),
        |h2d AS (SELECT DISTINCT x.a, y.b AS c FROM h1 x JOIN h1 y ON x.b = y.a)
        |SELECT h1agg.a AS node, n_h1, coalesce(n_h2, 0) AS n_h2,
        |  coalesce(sum_h2, 0) AS sum_h2
        |FROM (SELECT a, CAST(count(*) AS BIGINT) AS n_h1 FROM h1 GROUP BY a) h1agg
        |LEFT JOIN (SELECT a, CAST(count(*) AS BIGINT) AS n_h2,
        |           CAST(sum(c) AS BIGINT) AS sum_h2 FROM h2d GROUP BY a) h2agg
        |  USING (a)
        |ORDER BY node""".stripMargin,

    "ts_esd_outliers" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, round(sum(value), 6) AS x
        |  FROM events GROUP BY 1),
        |s1 AS (SELECT avg(x) AS m, stddev_samp(x) AS sd FROM daily),
        |f1 AS (SELECT d, x, round(abs(x - m) / sd, 6) AS z,
        |    row_number() OVER (ORDER BY abs(x - m) / sd DESC, d) AS rn
        |  FROM daily CROSS JOIN s1),
        |o1 AS (SELECT 1 AS round, d, z FROM f1 WHERE rn = 1),
        |r1 AS (SELECT d, x FROM f1 WHERE rn > 1),
        |s2 AS (SELECT avg(x) AS m, stddev_samp(x) AS sd FROM r1),
        |f2 AS (SELECT d, x, round(abs(x - m) / sd, 6) AS z,
        |    row_number() OVER (ORDER BY abs(x - m) / sd DESC, d) AS rn
        |  FROM r1 CROSS JOIN s2),
        |o2 AS (SELECT 2 AS round, d, z FROM f2 WHERE rn = 1),
        |r2 AS (SELECT d, x FROM f2 WHERE rn > 1),
        |s3 AS (SELECT avg(x) AS m, stddev_samp(x) AS sd FROM r2),
        |f3 AS (SELECT d, x, round(abs(x - m) / sd, 6) AS z,
        |    row_number() OVER (ORDER BY abs(x - m) / sd DESC, d) AS rn
        |  FROM r2 CROSS JOIN s3),
        |o3 AS (SELECT 3 AS round, d, z FROM f3 WHERE rn = 1)
        |SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3
        |ORDER BY round""".stripMargin,

    "sample_two_stage" ->
      """WITH c1 AS (SELECT c_custkey,
        |    row_number() OVER (ORDER BY md5(CAST(c_custkey AS VARCHAR)),
        |      c_custkey) AS crn
        |  FROM customer),
        |sel AS (SELECT c_custkey FROM c1 WHERE crn <= 20),
        |o AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS orn,
        |    count(*) OVER (PARTITION BY o_custkey) AS n_in_cluster
        |  FROM orders JOIN sel ON o_custkey = c_custkey)
        |SELECT o_custkey AS custkey, CAST(max(n_in_cluster) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN orn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  round(CAST(sum(CASE WHEN orn <= 3
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2)
        |    AS sampled_total
        |FROM o GROUP BY o_custkey ORDER BY custkey""".stripMargin,

    "stat_did" ->
      """WITH t AS (SELECT o_custkey % 2 = 1 AS treated,
        |    o_orderdate >= DATE '1998-01-01' AS post,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |cell AS (SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS m
        |  FROM t GROUP BY treated, post)
        |SELECT
        |  max(CASE WHEN treated AND post THEN m END) AS m_t_post,
        |  max(CASE WHEN treated AND NOT post THEN m END) AS m_t_pre,
        |  max(CASE WHEN NOT treated AND post THEN m END) AS m_c_post,
        |  max(CASE WHEN NOT treated AND NOT post THEN m END) AS m_c_pre,
        |  round((max(CASE WHEN treated AND post THEN m END)
        |      - max(CASE WHEN treated AND NOT post THEN m END))
        |    - (max(CASE WHEN NOT treated AND post THEN m END)
        |      - max(CASE WHEN NOT treated AND NOT post THEN m END)), 6) AS did,
        |  CAST(sum(n) AS BIGINT) AS n_orders
        |FROM cell""".stripMargin,

    "sketch_hll_intersect" ->
      """WITH ud AS (SELECT event_type,
        |    CAST(user_id AS VARCHAR) || '@' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k
        |  FROM events),
        |a AS (SELECT DISTINCT k FROM ud WHERE event_type = 'purchase'),
        |b AS (SELECT DISTINCT k FROM ud WHERE event_type = 'click')
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
        |  (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (k)) AS n_intersect,
        |  true AS estimate_within_20pct""".stripMargin,

    "sample_balanced" ->
      """WITH n AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |mn AS (SELECT min(c) AS m FROM n),
        |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(c) AS BIGINT) AS n_before,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
        |FROM r JOIN n USING (lang) CROSS JOIN mn
        |WHERE rn <= m GROUP BY lang ORDER BY lang""".stripMargin,

    "text_train_coverage" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
        |t2 AS (SELECT doc_id, lang, toks, len(toks) AS n,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29' AS is_test
        |  FROM t WHERE len(toks) >= 2),
        |bi AS (SELECT doc_id, lang, is_test,
        |    unnest(list_transform(range(1, n), i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t2),
        |train AS (SELECT DISTINCT bg FROM bi WHERE NOT is_test),
        |test AS (SELECT lang, bg FROM bi WHERE is_test)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_test_bigrams,
        |  CAST(sum(CASE WHEN train.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_covered,
        |  round(sum(CASE WHEN train.bg IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS coverage
        |FROM test LEFT JOIN train USING (bg) GROUP BY lang ORDER BY lang""".stripMargin,

    "orders_price_index" ->
      """WITH px AS (SELECT l_partkey, year(l_shipdate) AS y,
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / sum(l_quantity), 6) AS p,
        |    CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |base AS (SELECT l_partkey, p AS p0, q AS q0 FROM px WHERE y = 1995),
        |j AS (SELECT px.y, sum(px.p * base.q0) AS num,
        |    sum(base.p0 * base.q0) AS den, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM px JOIN base USING (l_partkey) WHERE px.y > 1995 GROUP BY px.y)
        |SELECT CAST(y AS INT) AS y, n_parts, round(num / den, 6) AS laspeyres
        |FROM j ORDER BY y""".stripMargin,

    "events_hour_uniformity" ->
      """WITH h AS (SELECT event_type, hour(ts) AS hr, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS total, count(*) AS k FROM h GROUP BY 1)
        |SELECT h.event_type, CAST(max(t.total) AS BIGINT) AS n_events,
        |  CAST(max(t.k) AS BIGINT) AS n_hours,
        |  round(sum(pow(h.n - t.total / 24.0, 2) / (t.total / 24.0)), 6) AS chi2,
        |  round(sum(pow(h.n - t.total / 24.0, 2) / (t.total / 24.0)), 6) > 35.172
        |    AS nonuniform
        |FROM h JOIN t USING (event_type) GROUP BY h.event_type
        |ORDER BY h.event_type""".stripMargin,

    "dedup_cdc" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
        |tok AS (SELECT doc_id, source, unnest(toks) AS w,
        |    generate_subscripts(toks, 1) - 1 AS i FROM t),
        |b AS (SELECT doc_id, source, w, i,
        |    CASE WHEN i > 0 AND substring(md5(lag(w) OVER win || ' ' || w), 1, 1) = '0'
        |      THEN 1 ELSE 0 END AS boundary
        |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |seg AS (SELECT doc_id, source, w, i,
        |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY i) AS cid FROM b),
        |ch AS (SELECT doc_id, source, cid, string_agg(w, ' ' ORDER BY i) AS chunk,
        |    count(*) AS n_toks FROM seg GROUP BY doc_id, source, cid),
        |r AS (SELECT source, n_toks,
        |    row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, cid) AS rn
        |  FROM ch)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn > 1 THEN n_toks ELSE 0 END) AS BIGINT) AS n_dup_tokens
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "stat_cuped" ->
      """WITH u AS (SELECT user_id,
        |    round(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN value ELSE 0 END), 6) AS pre,
        |    round(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN value ELSE 0 END), 6) AS post,
        |    user_id % 2 = 1 AS treated
        |  FROM events GROUP BY user_id),
        |m AS (SELECT round(avg(pre), 9) AS mpre,
        |    round(covar_samp(pre, post), 9) AS cov,
        |    round(var_samp(pre), 9) AS vpre FROM u),
        |adj AS (SELECT treated, post,
        |    post - (cov / vpre) * (pre - mpre) AS y FROM u CROSS JOIN m)
        |SELECT treated, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(post), 6) AS mean_raw, round(avg(y), 6) AS mean_cuped,
        |  round(var_samp(y) / var_samp(post), 6) AS var_ratio
        |FROM adj GROUP BY treated ORDER BY treated""".stripMargin,

    "stat_srm" ->
      """WITH u AS (SELECT DISTINCT user_id,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)),1,1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM events),
        |c AS (SELECT arm, count(*) AS n FROM u GROUP BY arm),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT CAST(max(CASE WHEN arm='A' THEN n END) AS BIGINT) AS n_a,
        |  CAST(max(CASE WHEN arm='B' THEN n END) AS BIGINT) AS n_b,
        |  round(sum(pow(n - total/2.0, 2) / (total/2.0)), 6) AS chi2,
        |  round(sum(pow(n - total/2.0, 2) / (total/2.0)), 6) > 3.841 AS srm_detected
        |FROM c CROSS JOIN t""".stripMargin,

    "graph_adamic_adar_capped" ->
      s"""WITH $edges1996Sql,
        |sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |rk AS (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS rn
        |  FROM sym),
        |kept AS (SELECT a, b FROM rk WHERE rn <= 4),
        |mut AS (SELECT x.a, x.b FROM kept x JOIN kept y
        |  ON x.a = y.b AND x.b = y.a),
        |deg AS (SELECT a, count(*) AS d FROM mut GROUP BY a),
        |wedge AS (SELECT x.a AS p, y.b AS q, x.b AS w
        |  FROM mut x JOIN mut y ON x.b = y.a WHERE x.a < y.b),
        |aa AS (SELECT p, q, CAST(count(*) AS BIGINT) AS n_common,
        |    round(sum(1.0 / ln(deg.d)), 6) AS score
        |  FROM wedge JOIN deg ON wedge.w = deg.a WHERE deg.d > 1
        |  GROUP BY p, q)
        |SELECT p, q, n_common, score FROM aa
        |WHERE n_common >= 2 ORDER BY score DESC, p, q LIMIT 10""".stripMargin,

    "join_spatial_grid" ->
      """WITH pts AS (SELECT c_custkey AS id,
        |    30 + ((c_custkey % 6007) * 4999 % 6007) * 30.0 / 6007 AS lat,
        |    -30 + ((c_custkey % 9973) * 7919 % 9973) * 60.0 / 9973 AS lon
        |  FROM customer),
        |cells AS (SELECT *, CAST(floor(lat) AS INT) AS cy,
        |    CAST(floor(lon / 2) AS INT) AS cx FROM pts),
        |nb AS (SELECT id, lat, lon, cy + dy.o AS ny, cx + dx.o AS nx
        |  FROM cells, (SELECT unnest(range(-1,2)) AS o) dy,
        |    (SELECT unnest(range(-1,2)) AS o) dx),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.lat AS la,
        |    a.lon AS loa, b.lat AS lb, b.lon AS lob
        |  FROM nb a JOIN cells b ON a.ny = b.cy AND a.nx = b.cx AND a.id < b.id),
        |d AS (SELECT round(2 * 6371.0 * asin(sqrt(
        |      pow(sin(radians(lb - la) / 2), 2) +
        |      cos(radians(la)) * cos(radians(lb)) *
        |        pow(sin(radians(lob - loa) / 2), 2))), 6) AS km
        |  FROM cand)
        |SELECT CAST(floor(km / 10) AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM d WHERE km <= 100.0 GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
