package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 second operator pack: gaps-and-islands streaks, blocked
  * fuzzy (edit-distance) dedup, seasonal-naive forecast error, calendar
  * edge functions, and bitwise/conditional aggregates.
  *
  * Scale notes:
  * - win_gap_islands: one distinct (hash agg) + ONE keyed window sort —
  *   the island id (`day − row_number`) is the classic O(n log n)
  *   formulation; no self-join, no range scan. Partitions by customer,
  *   so skew is bounded by a single customer's order history.
  * - dedup_fuzzy: Levenshtein is quadratic per pair, so the query
  *   FIRST collapses to DISTINCT names (vocabulary-bounded: 64 names
  *   at sf0.1 regardless of row count) and only then compares within
  *   first-token blocks — never a row-level cross join. This is the
  *   standard blocking discipline for fuzzy matching at 100 TB: the
  *   pair space is |vocab_block|², not |rows|².
  * - ts_seasonal_naive: forecast-by-shift is an equi-join on
  *   (type, day−7), not a window lag — correct under gapped calendars
  *   (lag(7) silently means "7 rows back" when days are missing). Both
  *   the daily rollup and the shift join are group-sized frames.
  * - agg_bitagg / fn_date2: plain two-phase hash agg / pure projection.
  */
object Ext7Queries {

  /** Typed rows for the Dataset-API surface (typed_dataset_ops):
    * case-class Encoders, joinWith, groupByKey.reduceGroups. */
  case class Ord(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
  case class Cust(c_custkey: Long, c_name: String)

  val queries: Map[String, Q] = Map(
    // gaps-and-islands: longest runs of CONSECUTIVE order days per
    // customer — island id = day − row_number() is constant within a
    // consecutive run and strictly separates runs across gaps
    "win_gap_islands" -> ((s, dir) => {
      val days = Tables.orders(s, dir)
        .select(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date")).as("day"))
        .distinct()
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("o_custkey"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"), max(col("day")).as("end_day"))
        .select(col("o_custkey"), col("len"), col("start_day"), col("end_day"))
        .orderBy(desc("len"), col("o_custkey"), col("start_day"))
        .limit(20)
    }),

    // blocked fuzzy dedup: near-identical part names by edit distance.
    // DISTINCT names first (vocabulary-bounded), then Levenshtein only
    // within first-token blocks — the pair space never touches row count
    "dedup_fuzzy" -> ((s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
        .withColumn("blk", split(col("p_name"), " ").getItem(0))
      val a = names.select(col("blk"), col("p_name").as("name_a"))
      val b = names.select(col("blk"), col("p_name").as("name_b"))
      a.join(b, "blk")
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 3)
        .select(col("name_a"), col("name_b"), col("dist"))
        .orderBy(col("dist"), col("name_a"), col("name_b"))
        .limit(20)
    }),

    // seasonal-naive baseline: forecast(day) = actual(day − 7), scored
    // as MAE over daily event counts. The shift is an equi-join on
    // (event_type, day − 7) so calendar gaps never misalign the season
    // (a window lag(7) would silently read "7 rows back")
    "ts_seasonal_naive" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1990-01-01").cast("date")).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val fc = daily.select(col("event_type"), (col("day") + 7).as("day"),
        col("cnt").as("fc"))
      daily.join(fc, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(avg(abs(col("cnt") - col("fc"))), 6).as("mae"),
          round(max(abs(col("cnt") - col("fc"))).cast("double"), 6).as("max_err"))
        .orderBy(col("event_type"))
    }),

    // calendar edge functions: month-end clamp (add_months / last_day),
    // quarter truncation, ISO week numbering and ISO day-of-week —
    // the fiscal-calendar pack where engines usually disagree
    "fn_date2" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          last_day(col("o_orderdate").cast("date")).as("month_end"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr_start"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          (weekday(col("o_orderdate")) + 1).as("iso_dow"),
          dayofyear(col("o_orderdate")).as("doy"),
          add_months(col("o_orderdate").cast("date"), 1).as("plus_1mo"))
        .orderBy(col("o_orderkey"))
    }),

    // association rules over order baskets: support/confidence/lift for
    // part pairs bought together — Σ|basket|² pair cost (baskets ≤ 7
    // items), broadcast part supports, exact-count ratios; top-10 by
    // lift among pairs with support ≥ 3
    "orders_basket_rules" -> ((s, dir) => {
      // hash-repartition on the basket key up front: one exchange gives
      // the distinct its (ok, pk) clustering AND the self-join its ok
      // clustering (hashpartitioning(ok) satisfies both), removing the
      // join-side reshuffle, and the scan-side partial distinct runs at
      // full width instead of the 3 input splits (guide §2.1, §2.5)
      val items = Tables.fanOutIfNarrow(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
          "ok").distinct()
      val nOrders = items.select(col("ok")).distinct().agg(count(lit(1)).as("n_orders"))
      val supp = items.groupBy(col("pk")).agg(count(lit(1)).as("s"))
      val pairs = items.select(col("ok"), col("pk").as("a"))
        .join(items.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pairs
        .join(broadcast(supp.select(col("pk").as("a"), col("s").as("s_a"))), "a")
        .join(broadcast(supp.select(col("pk").as("b"), col("s").as("s_b"))), "b")
        .crossJoin(broadcast(nOrders))
        .select(col("a"), col("b"), col("n_ab"),
          round(col("n_ab") / col("s_a"), 6).as("confidence"),
          round((col("n_ab") * col("n_orders")) / (col("s_a") * col("s_b")), 6).as("lift"))
        .orderBy(desc("lift"), col("a"), col("b"))
        .limit(10)
    }),

    // embedding drift probe: pairwise cosine between label centroids —
    // are the class clusters separating? Centroids via posexplode mean
    // (dim-sized frames), pairwise dots over label²
    "emb_centroid_distance" -> ((s, dir) => {
      val cent = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("v").cast("double")).as("m"))
      val dots = cent.select(col("label").as("la"), col("pos"), col("m").as("ma"))
        .join(cent.select(col("label").as("lb"), col("pos"), col("m").as("mb")), "pos")
        .filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(round(sum(round(col("ma") * col("mb"), 9)), 6).as("dot"))
      dots.orderBy(col("la"), col("lb"))
    }),

    // data-drift monitor: weekly event-type composition vs the overall
    // mix — max absolute share drift per week (the ML-ops alarm for
    // shifting input distributions). Shares from exact counts; two
    // small keyed joins, never a row-level window
    "events_drift_monitor" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val typed = Tables.events(s, dir)
        .select(weekofyear(col("ts")).as("wk"), col("event_type"))
      val weekly = typed.groupBy(col("wk"), col("event_type")).agg(count(lit(1)).as("n"))
        .withColumn("wn", sum(col("n")).over(Window.partitionBy(col("wk"))))
      val overall = typed.groupBy(col("event_type")).agg(count(lit(1)).as("tn"))
        .withColumn("tt", sum(col("tn")).over(Window.partitionBy()))
      weekly.join(broadcast(overall), "event_type")
        .select(col("wk"), col("wn"),
          abs(col("n") / col("wn") - col("tn") / col("tt")).as("drift"))
        .groupBy(col("wk"))
        .agg(max(col("wn")).as("n_events"), round(max(col("drift")), 6).as("max_drift"))
        .orderBy(col("wk"))
    }),

    // return-rate lift: P(returnflag = 'R' | priority) / P(R) — which
    // order priorities over-index on returns. Exact conditional counts
    // into one deterministic ratio
    "orders_return_lift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val j = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("prio"),
          (col("l_returnflag") === "R").as("ret"))
      val all = Window.partitionBy()
      j.groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ret"), 1L).otherwise(0L)).as("n_ret"))
        .withColumn("tot", sum(col("n")).over(all))
        .withColumn("tot_ret", sum(col("n_ret")).over(all))
        .select(col("prio"), col("n"),
          round(col("n_ret") / col("n"), 6).as("return_rate"),
          round((col("n_ret") / col("n")) / (col("tot_ret") / col("tot")), 6).as("lift"))
        .orderBy(col("prio"))
    }),

    // fulfillment SLA: order→ship lag distribution per priority
    // (p50/p90 as DISCRETE percentiles over exact day counts + breach
    // rate past 60 days) — one fact join + grouped sorted-agg
    "orders_ship_lag" -> ((s, dir) => {
      val lag = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("prio"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("lag_d"))
      lag.groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_d)").cast("int").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_d)").cast("int").as("p90"),
          round(sum(when(col("lag_d") > 60, 1L).otherwise(0L)) / count(lit(1)), 6)
            .as("breach_rate_60d"))
        .orderBy(col("prio"))
    }),

    // data profiling: per-column null/empty/distinct counts over the
    // documents table — the automatic profile a catalog shows before
    // anyone writes a quality rule. One pass; long-form rows
    "etl_profile" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val cols = Seq("text", "lang", "source")
      val per = cols.map { c =>
        d.agg(lit(c).as("column"),
          count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col(c) === "", 1L).otherwise(0L)).as("n_empty"),
          countDistinct(col(c)).as("n_distinct"))
      }
      per.reduce(_ unionByName _).orderBy(col("column"))
    }),

    // crude readability: vowel-group syllable proxy per token — mean
    // syllables/word and the share of 3+-syllable ("complex") words per
    // source. regexp_extract_all count is a row-local codegen pass
    "text_syllable_stats" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .select(col("source"),
          size(regexp_extract_all(col("w"), lit("[aeiouy]+"), lit(0))).as("syl"))
      toks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          round(avg(col("syl")), 6).as("mean_syllables"),
          round(sum(when(col("syl") >= 3, 1L).otherwise(0L)) / count(lit(1)), 6)
            .as("complex_share"))
        .orderBy(col("source"))
    }),

    // YoY growth leaders: per-customer 1997/1996 spend ratio, top-10
    // among customers active both years — pinned-domain pivot (two
    // conditional sums), exact DECIMAL numerators
    "orders_yoy_growth" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(sum(when(year(col("o_orderdate")) === 1996,
            Tables.dec2(col("o_totalprice")))).as("r96"),
          sum(when(year(col("o_orderdate")) === 1997,
            Tables.dec2(col("o_totalprice")))).as("r97"))
        .filter(col("r96").isNotNull && col("r97").isNotNull)
        .select(col("o_custkey"),
          col("r96").cast("double").as("spend_96"),
          col("r97").cast("double").as("spend_97"),
          round(col("r97").cast("double") / col("r96").cast("double"), 6).as("growth"))
        .orderBy(desc("growth"), col("o_custkey"))
        .limit(10)
    }),

    // array editing surface: append/prepend/insert/remove — the
    // list-manipulation ops a feature pipeline reshapes with; DuckDB
    // lacks array_insert/remove so the oracle rebuilds them from slices
    // and filters. Pure codegen projection
    "fn_array_edit" -> ((s, dir) => {
      val a = slice(split(col("text"), " "), 1, 4)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(array_append(a, lit("zz")), ",").as("appended"),
          array_join(array_prepend(a, lit("aa")), ",").as("prepended"),
          array_join(array_insert(a, lit(2), lit("xx")), ",").as("inserted"),
          array_join(array_remove(a, element_at(a, 1)), ",").as("removed"))
        .orderBy(col("doc_id"))
    }),

    // Wilson score interval for the daily error rate — the CI that
    // behaves at small n and extreme p (unlike the Wald interval).
    // Exact counts into one deterministic double expression (z = 1.96)
    "agg_wilson_ci" -> ((s, dir) => {
      val z2 = lit(1.96 * 1.96)
      Tables.events(s, dir)
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("k"))
        .select(col("n"), col("k"),
          round(col("k") / col("n"), 6).as("p_hat"),
          round(((col("k") / col("n")) + z2 / (lit(2) * col("n"))
            - lit(1.96) * sqrt((col("k") / col("n")) * (lit(1) - col("k") / col("n")) / col("n")
              + z2 / (lit(4) * col("n") * col("n"))))
            / (lit(1) + z2 / col("n")), 6).as("ci_lo"),
          round(((col("k") / col("n")) + z2 / (lit(2) * col("n"))
            + lit(1.96) * sqrt((col("k") / col("n")) * (lit(1) - col("k") / col("n")) / col("n")
              + z2 / (lit(4) * col("n") * col("n"))))
            / (lit(1) + z2 / col("n")), 6).as("ci_hi"))
    }),

    // maximum drawdown of cumulative daily net order value: DECIMAL
    // cumsum (exact), running peak, deepest peak-to-trough gap + its
    // day — two ordered windows, the classic risk metric
    "ts_drawdown" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(Tables.dec2(col("o_totalprice")) - lit(250000).cast("decimal(18,2)"))
          .as("net"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = daily
        .withColumn("cum", sum(col("net")).over(w))
        .withColumn("peak", max(col("cum")).over(w))
        .withColumn("drawdown", col("peak") - col("cum"))
      dd.orderBy(desc("drawdown"), col("day")).limit(1)
        .select(col("day").as("trough_day"),
          col("drawdown").cast("double").as("max_drawdown"),
          col("peak").cast("double").as("peak_at_trough"))
    }),

    // overdispersion check: variance/mean ratio of daily counts per
    // type (Poisson ⇒ ≈1; >1 flags bursty arrivals) — the diagnostic
    // before fitting count models
    "agg_poisson_dispersion" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(avg(col("n")), 6).as("mean_n"),
          round(var_samp(col("n")) / avg(col("n")), 6).as("dispersion"))
        .orderBy(col("event_type"))
    }),

    // five-number summary (boxplot) of event values per type using
    // DISCRETE percentiles — actual data values, since interpolated
    // quantiles ulp-diverge across engines; one sorted-agg pass
    "events_boxplot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("v_min"),
          round(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)"), 6).as("q1"),
          round(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"), 6).as("med"),
          round(expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)"), 6).as("q3"),
          round(max(col("value")), 6).as("v_max"))
        .orderBy(col("event_type"))
    }),

    // vocabulary saturation curve: cumulative distinct 3-grams after
    // 10/25/50/100% of docs (doc_id order) — how fast new data stops
    // adding coverage. Gram→first-doc attribution (one min agg) feeds a
    // doc-ordered cumsum; checkpoints picked by rank arithmetic
    "doc_coverage_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // 3-gram explode over a narrow scan — fan out (Tables.fanOutIfNarrow)
      val grams = Tables.fanOutIfNarrow(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t) - 3), i -> array_join(slice(t, i + 1, 3), ' '))"))
          .as("g"))
        .distinct()
      val newPerDoc = grams.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
        .groupBy(col("fd")).agg(count(lit(1)).as("n_new"))
      val docs = grams.select(col("doc_id")).distinct()
        .join(newPerDoc.withColumnRenamed("fd", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      val w = Window.orderBy(col("doc_id"))
      val all = Window.partitionBy()
      val cum = docs
        .withColumn("rn", row_number().over(w))
        .withColumn("cum_grams", sum(col("n_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("d_total", count(lit(1)).over(all))
        .withColumn("g_total", sum(col("n_new")).over(all))
      cum
        .withColumn("checkpoint",
          when(col("rn") === ceil(col("d_total") * lit(0.1)), 10)
            .when(col("rn") === ceil(col("d_total") * lit(0.25)), 25)
            .when(col("rn") === ceil(col("d_total") * lit(0.5)), 50)
            .when(col("rn") === col("d_total"), 100))
        .filter(col("checkpoint").isNotNull)
        .select(col("checkpoint"), col("rn").as("n_docs"), col("cum_grams"),
          round(col("cum_grams") / col("g_total"), 6).as("coverage"))
        .orderBy(col("checkpoint"))
    }),

    // repeat-purchase metrics: repeat rate + depth among repeaters —
    // the loyalty KPI tile; two hash aggs over customer counts
    "orders_repeat_rate" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_cust"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_repeat"),
          round(sum(when(col("c") >= 2, 1L).otherwise(0L)) / count(lit(1)), 6)
            .as("repeat_rate"),
          round(sum(when(col("c") >= 2, col("c")).otherwise(lit(0L)))
            / sum(when(col("c") >= 2, 1L).otherwise(0L)), 6).as("avg_orders_repeaters"),
          max(col("c")).as("max_orders"))
    }),

    // Mann-Whitney U (rank-sum) between parity-split order totals:
    // average ranks for ties (exact binary halves ⇒ exact sums), then
    // the normal approximation z. One global tie-broken sort + a
    // value-keyed averaging window — the nonparametric A/B cousin of
    // agg_ks_test
    "agg_mann_whitney" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_custkey") % 2 === 0).as("is_a"))
      val wOrd = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      val ranked = pts
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("avgrank", avg(col("rn")).over(Window.partitionBy(col("o_totalprice"))))
      ranked.agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("is_a"), 0L).otherwise(1L)).as("n_b"),
          sum(when(col("is_a"), col("avgrank")).otherwise(lit(0.0))).as("r_a"))
        .select(col("n_a"), col("n_b"),
          (col("r_a") - col("n_a") * (col("n_a") + 1) / 2).as("u"),
          round(
            ((col("r_a") - col("n_a") * (col("n_a") + 1) / 2)
              - col("n_a") * col("n_b") / lit(2.0)) /
              sqrt(col("n_a") * col("n_b") * (col("n_a") + col("n_b") + 1) / lit(12.0)),
            6).as("z"))
    }),

    // great-circle distances: haversine over nation "warehouse" coords
    // derived deterministically from keys — the geo-distance utility as
    // pure trig composition (no geo libs); 25-node pair scan is
    // vocabulary-bounded, top-10 nearest
    "fn_haversine" -> ((s, dir) => {
      val n = Tables.nation(s, dir).select(col("n_nationkey").as("k"),
        ((col("n_nationkey") * 7 % 140) - 70 + 0.5).as("lat"),
        ((col("n_nationkey") * 13 % 360) - 180 + 0.5).as("lon"))
      val a = n.select(col("k").as("ka"), col("lat").as("la"), col("lon").as("oa"))
      val b = n.select(col("k").as("kb"), col("lat").as("lb"), col("lon").as("ob"))
      val rad = lit(math.Pi / 180.0)
      a.join(b, col("ka") < col("kb"))
        .select(col("ka"), col("kb"),
          round(lit(2 * 6371.0) * asin(sqrt(
            pow(sin((col("lb") - col("la")) * rad / 2), 2) +
              cos(col("la") * rad) * cos(col("lb") * rad) *
                pow(sin((col("ob") - col("oa")) * rad / 2), 2))), 3).as("km"))
        .orderBy(col("km"), col("ka"), col("kb"))
        .limit(10)
    }),

    // jackknife sensitivity: leave-one-weekday-out means of order
    // totals from group sufficient statistics — how much one weekday
    // moves the global mean; exact DECIMAL sums, 7 LOO ratios
    "agg_jackknife" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Tables.orders(s, dir)
        .groupBy((weekday(col("o_orderdate")) + 1).as("dow"))
        .agg(count(lit(1)).as("n"), sum(Tables.dec2(col("o_totalprice"))).as("s"))
      val all = Window.partitionBy()
      // NOT "N"/"S": Spark resolves column names case-insensitively, so
      // withColumn("N", …) silently REPLACES "n" and the LOO denominator
      // becomes 0 (observed as an ANSI divide-by-zero)
      g.withColumn("tot_n", sum(col("n")).over(all))
        .withColumn("tot_s", sum(col("s")).over(all))
        .select(((col("tot_s") - col("s")).cast("double")
          / (col("tot_n") - col("n")).cast("double")).as("loo_mean"))
        .agg(count(lit(1)).as("k"),
          round(min(col("loo_mean")), 4).as("loo_min"),
          round(max(col("loo_mean")), 4).as("loo_max"),
          round(max(col("loo_mean")) - min(col("loo_mean")), 6).as("loo_spread"))
    }),

    // SPC p-chart: daily error-rate control limits at pbar ± 3σ(n) and
    // the out-of-control day count. Center/limits from exact event
    // counts; per-day arithmetic is pure row-local expressions
    "events_control_chart" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"))
      val all = Window.partitionBy()
      daily
        .withColumn("pbar", sum(col("err")).over(all) / sum(col("n")).over(all))
        .withColumn("p", col("err") / col("n"))
        .withColumn("sigma", sqrt(col("pbar") * (lit(1) - col("pbar")) / col("n")))
        .agg(count(lit(1)).as("n_days"),
          round(max(col("pbar")), 6).as("pbar"),
          sum(when(col("p") > col("pbar") + lit(3) * col("sigma"), 1L)
            .when(col("p") < col("pbar") - lit(3) * col("sigma"), 1L)
            .otherwise(0L)).as("n_out_of_control"))
    }),

    // two-sample Kolmogorov-Smirnov: D = max ECDF gap between
    // parity-split order totals — exact rational ECDF steps via two
    // windowed cumcounts over ONE global sort (tie-broken), no binning
    "agg_ks_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_custkey") % 2 === 0).as("is_a"))
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      pts
        .withColumn("cum_a", sum(when(col("is_a"), 1L).otherwise(0L)).over(w))
        .withColumn("cum_b", sum(when(col("is_a"), 0L).otherwise(1L)).over(w))
        .withColumn("n_a", sum(when(col("is_a"), 1L).otherwise(0L)).over(all))
        .withColumn("n_b", sum(when(col("is_a"), 0L).otherwise(1L)).over(all))
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
          round(max(abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b"))), 6)
            .as("ks_d"))
    }),

    // Benford's-law audit: first-digit distribution of order totals vs
    // the log10(1+1/d) expectation + chi-square divergence — the
    // classic books-cooking detector. Digit extraction and expectations
    // are identical double expressions in both engines
    "agg_benford" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d1 = floor(col("o_totalprice") /
        pow(lit(10.0), floor(log10(col("o_totalprice"))))).cast("int")
      val obs = Tables.orders(s, dir)
        .select(d1.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
      obs.select(col("digit"), col("n"),
          round(col("n") / col("tot"), 6).as("obs_share"),
          round(log(10.0, lit(1) + lit(1.0) / col("digit")), 6).as("benford_share"),
          col("tot"))
        .withColumn("cell_chi2", round(
          pow(col("n") - col("tot") * log(10.0, lit(1) + lit(1.0) / col("digit")), 2)
            / (col("tot") * log(10.0, lit(1) + lit(1.0) / col("digit"))), 4))
        .select(col("digit"), col("n"), col("obs_share"), col("benford_share"),
          col("cell_chi2"))
        .orderBy(col("digit"))
    }),

    // one-way ANOVA: F statistic of order totals across weekdays from
    // exact group counts and DECIMAL sums (SSB/SSW assembled from
    // sufficient statistics — one pass, no per-row residual join)
    "agg_anova" -> ((s, dir) => {
      val g = Tables.orders(s, dir)
        .groupBy((weekday(col("o_orderdate")) + 1).as("dow"))
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec2(col("o_totalprice"))).cast("double").as("s"),
          sum(Tables.dec2(col("o_totalprice")) * Tables.dec2(col("o_totalprice")))
            .cast("double").as("ss"))
      // SSB = Σ sᵢ²/nᵢ − S²/N, SSW = ΣSS − Σ sᵢ²/nᵢ; all from the 7
      // group rows' sufficient statistics (exact-DECIMAL sums cast once)
      g.agg(sum(col("n")).as("N"), count(lit(1)).as("k"),
          sum(col("s")).as("S"), sum(col("ss")).as("SS"),
          sum(col("s") * col("s") / col("n")).as("ssb_part"))
        .select(col("N").as("n"), col("k"),
          round(
            ((col("ssb_part") - col("S") * col("S") / col("N")) / (col("k") - 1)) /
              ((col("SS") - col("ssb_part")) / (col("N") - col("k"))), 4).as("f_stat"))
    }),

    // revenue waterfall in exact DECIMAL end-to-end: gross → discount →
    // net → tax → final; every intermediate is summation-order-immune
    "orders_revenue_waterfall" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ep = Tables.dec2(col("l_extendedprice"))
      val disc = col("l_discount").cast("decimal(4,2)")
      val tax = col("l_tax").cast("decimal(4,2)")
      // multipliers re-pinned to (4,2): Spark widens (1 − dec) through
      // the int operand to (13,2), and the THREE-factor product then
      // exceeds decimal precision 38 and silently ROUNDS — the values
      // fit (4,2) exactly, keeping the whole chain exact at (28,6)
      val keep = (lit(1) - disc).cast("decimal(4,2)")
      val markup = (lit(1) + tax).cast("decimal(4,2)")
      li.agg(
        sum(ep).cast("double").as("gross"),
        sum(ep * disc).cast("double").as("discount_amt"),
        sum(ep * keep).cast("double").as("net"),
        sum(ep * keep * tax).cast("double").as("tax_amt"),
        // final_amt's exact dec(…,6) sum carries 17 significant digits —
        // past double precision, and decimal→double conversion is NOT
        // correctly rounded the same way in both engines. Round to 4dp
        // first: the scaled integer then fits 2^53 exactly
        round(sum(ep * keep * markup), 4).cast("double").as("final_amt"))
    }),

    // MATCH_RECOGNIZE-lite: regex over each user's time-ordered event-
    // type sequence (funnel-with-gaps 'signup…click…purchase' and the
    // adjacency pattern 'error,error'). Sequences built per key via
    // sorted collect (bounded by a user's activity); matching is one
    // codegen rlike/contains pass
    "events_seq_match" -> ((s, dir) => {
      val seq = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ",").as("seq"))
      seq.agg(count(lit(1)).as("n_users"),
          sum(when(col("seq").rlike("signup.*click.*purchase"), 1L).otherwise(0L))
            .as("n_funnel"),
          sum(when(col("seq").contains("error,error"), 1L).otherwise(0L))
            .as("n_double_error"))
        .select(col("n_users"), col("n_funnel"), col("n_double_error"),
          round(col("n_funnel") / col("n_users"), 6).as("funnel_share"))
    }),

    // cross-source contamination: identical texts appearing under 2+
    // sources — the leakage exact dedup within one source misses. One
    // hash agg on the text key, never pairwise
    "doc_cross_source_dup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .filter(col("n_sources") >= 2)
        .select(col("keeper"), col("n_docs"), col("n_sources"))
        .orderBy(col("keeper"))
    }),

    // deterministic train/val/test split (80/10/10 by overflow-safe
    // hash) with per-source composition report — the reproducible
    // dataset-split every training run needs; shares within source via
    // a source-keyed window
    "doc_train_split" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = (((col("doc_id") % 1000003L) * 2654435761L) % 1000003L) % 10
      val w = Window.partitionBy(col("source"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          when(b < 8, "train").when(b < 9, "val").otherwise("test").as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_in_source", round(col("n") / sum(col("n")).over(w), 6))
        .orderBy(col("source"), col("split"))
    }),

    // chi-square test of independence (order year × priority): Σ
    // (obs − exp)²/exp from exact counts; expectations are deterministic
    // double ratios, the 35-cell sum's order ulps vanish under round 4
    "orders_chi2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val obs = Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("y"), col("o_orderpriority").as("p"))
        .agg(count(lit(1)).as("o"))
      val withTot = obs
        .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("y"))))
        .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("p"))))
        .withColumn("tt", sum(col("o")).over(Window.partitionBy()))
      withTot
        .select(col("y"), col("p"), col("o"),
          (col("rt") * col("ct") / col("tt")).as("e"))
        .agg(round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 4)
            .as("chi2"),
          ((countDistinct(col("y")) - 1) * (countDistinct(col("p")) - 1)).as("dof"),
          sum(col("o")).as("n"))
    }),

    // Zipf law fit: slope of ln(freq) on ln(rank) over the top-100
    // tokens — the corpus-health diagnostic behind text_vocab_stats.
    // One count agg + one ordered window + a co-moment fit
    "text_zipf_fit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(desc("c"), col("tok"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 100)
        .agg(count(lit(1)).as("n_tokens"),
          round(regr_slope(log(col("c")), log(col("rank"))), 6).as("zipf_slope"),
          round(regr_r2(log(col("c")), log(col("rank"))), 6).as("r2"))
    }),

    // A/B-test readout: deterministic parity split, metric = purchases
    // per user, Welch z on the group means — the experimentation
    // primitive (every user converts in this corpus, so a proportion
    // test degenerates; the mean test stays interior). Counts exact;
    // the z formula is one deterministic double expression per engine
    "events_ab_test" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
        .select((col("user_id") % 2).as("grp"), col("c"))
      val g = perUser.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), avg(col("c")).as("m"), var_samp(col("c")).as("v"))
      val wide = g.groupBy()
        .pivot("grp", Seq(0, 1))
        .agg(first(col("n")).as("n"), first(col("m")).as("m"), first(col("v")).as("v"))
        .select(col("0_n").as("n_a"), col("0_m").as("m_a"), col("0_v").as("v_a"),
          col("1_n").as("n_b"), col("1_m").as("m_b"), col("1_v").as("v_b"))
      wide.select(col("n_a"), col("n_b"),
        round(col("m_a"), 6).as("mean_a"),
        round(col("m_b"), 6).as("mean_b"),
        round((col("m_b") - col("m_a")) /
          sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")), 6).as("z"))
    }),

    // collocation mining: PMI of top-20 token pairs over doc presence
    // sets (the text-mining twin of events_pmi). The pair join runs on
    // the vocabulary-bounded top set only — broadcast membership, then
    // a doc-keyed self-join of ≤20 rows per doc
    "text_pmi" -> ((s, dir) => {
      // tokenize + explode + partial distinct over a narrow scan — fan
      // the raw rows out first so the map side runs at full width (r16)
      val dt = Tables.fanOutIfNarrow(
          Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val top = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("tok")).limit(20)
        .select(col("tok"))
      val dtTop = dt.join(broadcast(top), "tok")
      val nd = dt.select(col("doc_id")).distinct().agg(count(lit(1)).as("nd"))
      val na = dtTop.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      dtTop.select(col("doc_id"), col("tok").as("ta"))
        .join(dtTop.select(col("doc_id"), col("tok").as("tb")), "doc_id")
        .filter(col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
        .join(broadcast(na.select(col("tok").as("ta"), col("cnt").as("n_a"))), "ta")
        .join(broadcast(na.select(col("tok").as("tb"), col("cnt").as("n_b"))), "tb")
        .crossJoin(broadcast(nd))
        .select(col("ta"), col("tb"), col("n_ab"),
          round(log((col("n_ab") * col("nd")) / (col("n_a") * col("n_b"))), 6).as("pmi"))
        .orderBy(desc("pmi"), col("ta"), col("tb"))
        .limit(20)
    }),

    // marketing attribution: for each purchase, the user's first- and
    // last-touch clicks within the preceding 7 days. The window match
    // is the binned-replicate equi-join (purchase replicates to its two
    // candidate 7-day bins — join_range_binned's 100 TB shape), never a
    // per-user theta scan. Exact-µs hour averages
    "events_attribution" -> ((s, dir) => {
      val binUs = 7L * 86400 * 1000000L
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          unix_micros(col("ts")).as("pus"))
        .withColumn("bin", explode(array(
          floor(col("pus") / binUs) - 1, floor(col("pus") / binUs))))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("cus"))
        .withColumn("bin", floor(col("cus") / binUs))
      val touched = purchases.join(clicks, Seq("user_id", "bin"))
        .filter(col("cus") <= col("pus") && col("cus") > col("pus") - binUs)
        .groupBy(col("pid"), col("pus"))
        .agg(min(col("cus")).as("first_us"), max(col("cus")).as("last_us"))
      val nP = ev.filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n_purchases"))
      touched.agg(
          count(lit(1)).as("n_attributed"),
          sum(when(col("first_us") === col("last_us"), 1L).otherwise(0L))
            .as("n_single_touch"),
          round(avg((col("pus") - col("first_us")) / lit(3600000000.0)), 6)
            .as("avg_hours_first_to_purchase"))
        .crossJoin(nP)
        .select(col("n_purchases"), col("n_attributed"), col("n_single_touch"),
          col("avg_hours_first_to_purchase"))
    }),

    // trend detection: least-squares slope of monthly order counts per
    // status (x = calendar month index) — two hash aggs + the mergeable
    // co-moment slope
    "orders_trend" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
        .agg(count(lit(1)).as("n"))
      monthly.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_months"),
          round(regr_slope(col("n"), col("m")), 6).as("slope"))
        .orderBy(col("o_orderstatus"))
    }),

    // 2D activity heatmap: event counts on the (ISO dow × hour) grid +
    // global share — one hash agg over a 168-cell domain, window total
    "events_heatmap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, dir)
        .groupBy((weekday(col("ts")) + 1).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") / sum(col("n")).over(Window.partitionBy()), 6))
        .orderBy(col("dow"), col("hr"))
    }),

    // basket-size distribution: lineitems per order → order-count
    // histogram (two cheap hash aggs; the second is domain-bounded)
    "orders_basket_dist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
        .groupBy(col("n_items")).agg(count(lit(1)).as("n_orders"))
        .withColumn("share",
          round(col("n_orders") / sum(col("n_orders")).over(Window.partitionBy()), 6))
        .orderBy(col("n_items"))
    }),

    // market concentration: Herfindahl-Hirschman index of supplier
    // revenue shares per nation (Σ share²) — shares from exact DECIMAL
    // revenue, squared/summed in fp (round 6 absorbs order ulps)
    "agg_hhi" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(Tables.dec2(col("l_extendedprice"))).as("r"))
      val w = Window.partitionBy(col("s_nationkey"))
      rev
        .withColumn("share", col("r").cast("double") / sum(col("r")).over(w).cast("double"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("share") * col("share")), 6).as("hhi"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("s_nationkey"), col("n_name"))), "s_nationkey")
        .select(col("n_name"), col("n_suppliers"), col("hhi"))
        .orderBy(col("n_name"))
    }),

    // autocorrelation diagnostics: ACF of daily event counts at lags 1
    // and 7 per type — the shift is an equi-join on (type, day−k) like
    // ts_seasonal_naive, one corr pass per lag
    "ts_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1990-01-01").cast("date")).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val acf = Seq(1, 7).map { k =>
        val lagged = daily.select(col("event_type"), (col("day") + k).as("day"),
          col("n").as("n_lag"))
        daily.join(lagged, Seq("event_type", "day"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            round(corr(col("n"), col("n_lag")), 6).as("acf"))
          .withColumn("lag", lit(k))
      }
      acf.reduce(_ unionByName _)
        .select(col("event_type"), col("lag"), col("n_pairs"), col("acf"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // regex surface #2: extract_all / count / instr / group-reference
    // replace. Each engine uses its own group-ref syntax ($1 vs \1) and
    // regexp_count/instr are modeled via extract_all-length and strpos
    // in the oracle — semantics pinned, spellings engine-local
    "fn_regex2" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(slice(regexp_extract_all(col("text"), lit("\\b\\w{5}\\b"), lit(0)), 1, 3), ",")
            .as("first5s"),
          expr("regexp_count(text, 'ab')").as("n_ab"),
          expr("regexp_instr(text, 'data')").as("pos_data"),
          regexp_replace(substring(col("text"), 1, 40), "(\\w+) (\\w+)", "$2 $1")
            .as("swapped"))
        .orderBy(col("doc_id"))
    }),

    // ABC inventory classification: parts bucketed by cumulative revenue
    // share (A ≤ 80%, B ≤ 95%, C rest). Exact DECIMAL cumsums with the
    // integer-scaled boundary compares (5·cum ≤ 4·tot, 20·cum ≤ 19·tot)
    // so no double ever decides a class
    "orders_abc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(Tables.dec2(col("l_extendedprice"))).as("r"))
      val w = Window.orderBy(desc("r"), col("l_partkey"))
      rev
        .withColumn("cum", sum(col("r")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum(col("r")).over(Window.partitionBy()))
        .withColumn("cls",
          when(col("cum") * 5 <= col("tot") * 4, "A")
            .when(col("cum") * 20 <= col("tot") * 19, "B")
            .otherwise("C"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("r")).cast("double") / max(col("tot")).cast("double"), 6)
            .as("rev_share"))
        .orderBy(col("cls"))
    }),

    // model-then-score: fit price~quantity per returnflag (single-pass
    // co-moments, coefficients rounded to 6dp so BOTH engines score
    // with identical parameters), then surface the top-10 largest
    // absolute residuals — the outlier triage a fit exists for
    "agg_regression_residuals" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("f"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      val fit = li.groupBy(col("f"))
        .agg(round(regr_slope(col("y"), col("x")), 6).as("b"),
          round(regr_intercept(col("y"), col("x")), 6).as("a"))
      li.join(broadcast(fit), "f")
        .select(col("f"), col("l_orderkey"), col("l_linenumber"),
          round(col("y") - (col("a") + col("b") * col("x")), 4).as("residual"))
        .orderBy(abs(col("residual")).desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
    }),

    // inequality of engagement: Gini coefficient over per-user event
    // counts via the rank formula G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n —
    // every term exact-integer until the final division. One count agg
    // + one ordered window (user-count-sized frame)
    "events_gini" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c"), col("user_id"))
      counts.withColumn("rn", row_number().over(w))
        .agg(count(lit(1)).as("n_users"),
          round(
            (sum(col("rn") * col("c")) * 2).cast("double")
              / (count(lit(1)) * sum(col("c"))).cast("double")
              - (count(lit(1)) + 1).cast("double") / count(lit(1)).cast("double"),
            6).as("gini"))
    }),

    // novelty scoring: fraction of a doc's distinct 3-grams FIRST seen
    // in that doc (by doc_id order) — the dataset-curation signal for
    // "how much does this doc add". Gram attribution is one min-agg on
    // the gram key; never doc-pairwise
    "doc_novelty" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t) - 3), i -> array_join(slice(t, i + 1, 3), ' '))"))
          .as("g"))
        .distinct()
      val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
      grams.join(first, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", round(col("n_novel") / col("n_grams"), 6))
        .orderBy(col("doc_id"))
    }),

    // normal-approximation CI for group means: mean ± 1.96·sd/√n per
    // returnflag — the error bars every KPI tile should carry. One
    // co-moment pass; round 6 absorbs co-moment merge ulps
    "agg_mean_ci" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("f"))
        .agg(count(lit(1)).as("n"),
          avg(col("l_extendedprice")).as("m"),
          stddev_samp(col("l_extendedprice")).as("sd"))
        .select(col("f"), col("n"),
          round(col("m"), 4).as("mean_price"),
          round(col("m") - lit(1.96) * col("sd") / sqrt(col("n")), 4).as("ci_lo"),
          round(col("m") + lit(1.96) * col("sd") / sqrt(col("n")), 4).as("ci_hi"))
        .orderBy(col("f"))
    }),

    // capacity planning: peak-hour to mean-hour load factor per event
    // type — how much headroom a provisioned-for-average system needs.
    // Exact hourly counts, one grouped ratio
    "events_load_factor" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          max(col("n")).as("peak"),
          round(avg(col("n")), 6).as("mean_n"),
          round(max(col("n")) / avg(col("n")), 6).as("load_factor"))
        .orderBy(col("event_type"))
    }),

    // corpus-mix divergence: Jensen-Shannon distance between source
    // token distributions over the global top-100 vocabulary — how
    // different two data sources really are. Grid = source-pairs ×
    // top vocab (bounded), probabilities from exact counts, xlogx
    // contributions summed under round 6
    "text_source_jsd" -> ((s, dir) => {
      val dt = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val top = dt.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("tok")).limit(100).select(col("tok"))
      val cnt = dt.join(broadcast(top), "tok")
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("t"))
      val dist = cnt.join(broadcast(tot), "source")
        .select(col("source"), col("tok"), (col("c") / col("t")).as("p"))
      val srcs = dist.select(col("source")).distinct()
      val grid = srcs.select(col("source").as("sa"))
        .join(srcs.select(col("source").as("sb")), col("sa") < col("sb"))
        .join(broadcast(top), lit(true))
      grid
        .join(dist.select(col("source").as("sa"), col("tok"), col("p").as("pa")),
          Seq("sa", "tok"), "left")
        .join(dist.select(col("source").as("sb"), col("tok"), col("p").as("pb")),
          Seq("sb", "tok"), "left")
        .select(col("sa"), col("sb"),
          coalesce(col("pa"), lit(0.0)).as("pa"),
          coalesce(col("pb"), lit(0.0)).as("pb"))
        .select(col("sa"), col("sb"),
          (when(col("pa") > 0,
            col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))))
            .otherwise(lit(0.0)) +
           when(col("pb") > 0,
            col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
            .otherwise(lit(0.0))).as("contrib"))
        .groupBy(col("sa"), col("sb"))
        .agg(round(sum(col("contrib")) / 2, 6).as("jsd"))
        .orderBy(col("sa"), col("sb"))
    }),

    // Tukey fences: IQR-based outlier counts per returnflag using
    // DISCRETE quartiles (actual data values — no interpolation
    // divergence). ONE lineitem scan: cume_dist over the per-flag sort
    // gives each row its quantile position, percentile_disc(p) = the
    // smallest value whose cume_dist >= p (its exact definition) as a
    // whole-partition window min — no second scan for the fence counts
    "agg_tukey_fences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byF = Window.partitionBy(col("f"))
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("f"), col("l_extendedprice").as("p"))
        .withColumn("cd", cume_dist().over(byF.orderBy(col("p"))))
        .withColumn("q1", min(when(col("cd") >= 0.25, col("p"))).over(byF))
        .withColumn("q3", min(when(col("cd") >= 0.75, col("p"))).over(byF))
        .groupBy(col("f"), col("q1"), col("q3"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("p") < col("q1") - (col("q3") - col("q1")) * 1.5, 1L)
            .otherwise(0L)).as("n_low"),
          sum(when(col("p") > col("q3") + (col("q3") - col("q1")) * 1.5, 1L)
            .otherwise(0L)).as("n_high"))
        .select(col("f"), col("n"),
          round(col("q1"), 2).as("q1"), round(col("q3"), 2).as("q3"),
          col("n_low"), col("n_high"))
        .orderBy(col("f"))
    }),

    // tokenizer diagnostic: token-length distribution (lengths 1–20)
    // with shares — the quick look before choosing shingle/BPE params
    "text_wordlen_dist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .select(least(length(col("w")), lit(20)).as("len"))
        .groupBy(col("len")).agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") / sum(col("n")).over(Window.partitionBy()), 6))
        .orderBy(col("len"))
    }),

    // split-balance audit: are train/val/test statistically alike?
    // Per split: size, mean length, quality-gate keep rate — the
    // leakage/imbalance check after doc_train_split's hash assignment
    "doc_split_balance" -> ((s, dir) => {
      val b = (((col("doc_id") % 1000003L) * 2654435761L) % 1000003L) % 10
      Tables.documents(s, dir)
        .select(
          when(b < 8, "train").when(b < 9, "val").otherwise("test").as("split"),
          length(col("text")).as("len"),
          (size(split(col("text"), " ")) >= 10).as("keep"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("len")), 6).as("mean_len"),
          round(sum(when(col("keep"), 1L).otherwise(0L)) / count(lit(1)), 6)
            .as("keep_rate"))
        .orderBy(col("split"))
    }),

    // engagement-decay curve: events per user by days-since-signup
    // (offsets 0–13) — does activity fade after onboarding? Exact
    // per-offset counts normalized by the signed-up population
    "events_age_curve" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("d0"))
      val aged = ev.select(col("user_id"), to_date(col("ts")).as("d"))
        .join(s0, "user_id")
        .select(datediff(col("d"), col("d0")).as("age_d"))
        .filter(col("age_d").between(0, 13))
      val nUsers = s0.agg(count(lit(1)).as("nu"))
      aged.groupBy(col("age_d")).agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(nUsers))
        .select(col("age_d"), col("n_events"),
          round(col("n_events") / col("nu"), 6).as("events_per_user"))
        .orderBy(col("age_d"))
    }),

    // discount-response profile: order volume and quantity by exact
    // discount level — the elasticity read before pricing changes.
    // Discount levels are exact 2dp values (clean group keys)
    "orders_discount_response" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_discount").cast("decimal(4,2)").cast("double").as("disc"))
        .agg(count(lit(1)).as("n_lines"),
          round(avg(Tables.dec2(col("l_quantity")).cast("double")), 6).as("avg_qty"),
          sum(Tables.dec2(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy(col("disc"))
    }),

    // conversion latency: signup→first-purchase days at discrete
    // p50/p90 plus conversion coverage — the funnel-speed companion to
    // events_survival (same censoring-safe derivation)
    "events_conversion_latency" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
      val conv = s0.join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("pts")), Seq("user_id"), "left")
        .select(col("user_id"), col("s0"),
          when(col("pts") >= col("s0"), col("pts")).as("pp"))
        .groupBy(col("user_id"), col("s0")).agg(min(col("pp")).as("p1"))
        .select(datediff(to_date(col("p1")), to_date(col("s0"))).as("t_days"))
      conv.agg(count(lit(1)).as("n_signups"),
          count(col("t_days")).as("n_converted"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY t_days)").cast("int").as("p50_days"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY t_days)").cast("int").as("p90_days"))
    }),

    // Lorenz curve: cumulative spend share at each customer decile —
    // the graphic behind orders_pareto/events_gini. Exact DECIMAL
    // cumsums; decile points picked by rank arithmetic
    "orders_lorenz" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(Tables.dec2(col("o_totalprice"))).as("m"))
      val w = Window.orderBy(col("m"), col("o_custkey"))
      val all = Window.partitionBy()
      spend
        .withColumn("rn", row_number().over(w))
        .withColumn("cum", sum(col("m")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(all))
        .withColumn("tot", sum(col("m")).over(all))
        .withColumn("decile", (col("rn") * 10 / col("n")).cast("int"))
        .filter(col("rn") * 10 % col("n") === 0 || col("rn") === col("n"))
        .filter(col("decile") >= 1)
        .groupBy(col("decile"))
        .agg(round(max(col("cum")).cast("double") / max(col("tot")).cast("double"), 6)
          .as("cum_spend_share"))
        .orderBy(col("decile"))
    }),

    // empirical-Bayes shrinkage: per-supplier return rates shrunk
    // toward the global rate with a Beta(α,β) prior (k=50 pseudo-
    // observations) — the small-sample leaderboard fix (raw rates rank
    // tiny-n suppliers absurdly). Exact counts; top-10 by shrunk rate
    "agg_shrunk_rates" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
      val all = Window.partitionBy()
      g.withColumn("gr", sum(col("k")).over(all) / sum(col("n")).over(all))
        .select(col("l_suppkey"), col("n"), col("k"),
          round(col("k") / col("n"), 6).as("raw_rate"),
          round((col("k") + lit(50) * col("gr")) / (col("n") + 50), 6).as("shrunk_rate"))
        .orderBy(desc("shrunk_rate"), col("l_suppkey"))
        .limit(10)
    }),

    // cumulative VWAP per returnflag over ship days: running Σ(p·q) /
    // running Σq, both in exact DECIMAL — the order-book metric shape;
    // one keyed ordered window, final 10 days shown
    "win_vwap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("f"), to_date(col("l_shipdate")).as("day"))
        .agg(sum(Tables.dec2(col("l_extendedprice")) * Tables.dec2(col("l_quantity")))
            .as("pq"),
          sum(Tables.dec2(col("l_quantity"))).as("q"))
      val w = Window.partitionBy(col("f")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDesc = Window.partitionBy(col("f")).orderBy(desc("day"))
      daily
        // round the cumulative numerator to 2dp before the double cast:
        // its exact decimal reaches ~7e15 scaled units at sf0.1 — the
        // same DECIMAL→DOUBLE divergence edge as the revenue waterfall
        .withColumn("vwap", round(
          round(sum(col("pq")).over(w), 2).cast("double")
            / sum(col("q")).over(w).cast("double"), 6))
        .withColumn("rk", row_number().over(wDesc))
        .filter(col("rk") <= 10)
        .select(col("f"), col("day"), col("vwap"))
        .orderBy(col("f"), col("day"))
    }),

    // robust mean #2: TRIM (drop) the top/bottom 5% by rank instead of
    // clipping — the winsorized mean's sibling; same rank windows,
    // retained sum in exact DECIMAL
    "agg_trimmed_mean" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("f"), col("l_orderkey"), col("l_linenumber"),
          Tables.dec2(col("l_extendedprice")).as("p"))
      val w = Window.partitionBy(col("f"))
        .orderBy(col("p"), col("l_orderkey"), col("l_linenumber"))
      base
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("f"))))
        .filter(col("rn") > ceil(col("cnt") * lit(0.05)) &&
          col("rn") <= floor(col("cnt") * lit(0.95)))
        .groupBy(col("f"))
        .agg(count(lit(1)).as("n_kept"),
          round(sum(col("p")).cast("double") / count(lit(1)), 6).as("trimmed_mean"))
        .orderBy(col("f"))
    }),

    // robust mean: winsorize at the DISCRETE p5/p95 rank cutoffs
    // (actual data values — interpolated percentiles differ in the last
    // ulp across engines) then average in exact DECIMAL. Two window
    // ranks + a broadcast-sized cutoff join
    "agg_winsorized" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("f"), col("l_orderkey"), col("l_linenumber"),
          Tables.dec2(col("l_extendedprice")).as("p"))
      val w = Window.partitionBy(col("f"))
        .orderBy(col("p"), col("l_orderkey"), col("l_linenumber"))
      val ranked = base
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("f"))))
        .withColumn("lo_rank",
          greatest(lit(1L), ceil(col("cnt") * lit(0.05)).cast("long")))
        .withColumn("hi_rank", ceil(col("cnt") * lit(0.95)).cast("long"))
      val cuts = ranked
        .filter(col("rn") === col("lo_rank") || col("rn") === col("hi_rank"))
        .groupBy(col("f"))
        .agg(min(col("p")).as("lo"), max(col("p")).as("hi"))
      ranked.join(broadcast(cuts), "f")
        .select(col("f"),
          when(col("p") < col("lo"), col("lo"))
            .when(col("p") > col("hi"), col("hi"))
            .otherwise(col("p")).as("cp"))
        .groupBy(col("f"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("cp")).cast("double") / count(lit(1)), 6).as("wins_mean"))
        .orderBy(col("f"))
    }),

    // rank correlation: Spearman = Pearson over AVERAGE ranks (exact
    // tie handling via avg(row_number) per value group) alongside
    // Pearson and covariance, per returnflag. Two keyed window sorts
    // for the ranks + one single-pass co-moment agg
    "agg_spearman" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("f"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      val wx = Window.partitionBy(col("f"))
        .orderBy(col("x"), col("l_orderkey"), col("l_linenumber"))
      val wy = Window.partitionBy(col("f"))
        .orderBy(col("y"), col("l_orderkey"), col("l_linenumber"))
      base
        .withColumn("rnx", row_number().over(wx))
        .withColumn("rny", row_number().over(wy))
        .withColumn("rx", avg(col("rnx")).over(Window.partitionBy(col("f"), col("x"))))
        .withColumn("ry", avg(col("rny")).over(Window.partitionBy(col("f"), col("y"))))
        .groupBy(col("f"))
        .agg(round(corr(col("x"), col("y")), 6).as("pearson"),
          round(corr(col("rx"), col("ry")), 6).as("spearman"),
          round(covar_samp(col("x"), col("y")), 4).as("cov_s"),
          count(lit(1)).as("n"))
        .orderBy(col("f"))
    }),

    // explicit lineage truncation: localCheckpoint materializes the agg
    // and replaces its plan with the materialized RDD (Scan ExistingRDD,
    // plan-asserted) — the tool iterative algorithms (CC, PageRank) use
    // to stop plan growth; here surfaced as a declared query
    "plan_checkpoint" -> ((s, dir) => {
      val agg = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec2(col("l_extendedprice"))).cast("double").as("total"))
      agg.localCheckpoint(true)
        .filter(col("n") > 0)
        .orderBy(col("l_returnflag"))
    }),

    // survival analysis (Kaplan-Meier-lite): time from signup to first
    // purchase per user; S(t) = fraction not yet converted (or never —
    // right-censored) at day t over a 15-day grid. The grid join
    // replicates each user ≤15 times — linear, never a theta scan
    "events_survival" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
      val p1 = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
      // pre-signup purchases are NULLed (not filtered) so a user whose
      // only purchases precede signup stays as right-censored instead of
      // vanishing; min() ignores nulls
      val conv = s0.join(p1, Seq("user_id"), "left")
        .select(col("user_id"), col("s0"),
          when(col("pts") >= col("s0"), col("pts")).as("pp"))
        .groupBy(col("user_id"), col("s0"))
        .agg(min(col("pp")).as("p1"))
        .select(col("user_id"),
          datediff(to_date(col("p1")), to_date(col("s0"))).as("t_days"))
      conv
        .crossJoin(broadcast(s.range(15).select(col("id").cast("int").as("t"))))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(when(col("t_days").isNull || col("t_days") > col("t"), 1L)
            .otherwise(0L)) / count(lit(1)), 6).as("s_t"))
        .orderBy(col("t"))
    }),

    // DAU/WAU/stickiness: daily actives, trailing-7-day actives, and
    // their ratio. WAU must NOT be a distinct agg inside a window (not
    // supported) nor a theta range join (pair blowup) — each user-day
    // replicates to the ≤7 grid days it serves (explode sequence), so
    // the count is an EQUI-grouped distinct; the oracle uses the
    // equivalent quadratic BETWEEN formulation
    "events_dau_wau" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6))")).as("d"))
        .groupBy(col("d")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, col("day") === col("d"))
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau") / col("wau"), 6).as("stickiness"))
        .orderBy(col("day"))
    }),

    // skyline staircase: the days offering a strictly-cheaper minimum
    // order price than EVERY later day (maximize recency, minimize
    // price). One day-level agg + one descending window with a running
    // min — the O(n log n) frontier, no pairwise dominance scan
    "orders_price_frontier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byDay = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(min(Tables.dec2(col("o_totalprice"))).as("p"))
      val w = Window.orderBy(desc("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byDay
        .withColumn("later_min", min(col("p")).over(w))
        .filter(col("later_min").isNull || col("p") < col("later_min"))
        .select(col("day"), col("p").cast("double").as("min_price"))
        .orderBy(col("day"))
    }),

    // CUSUM change-point detection: per event type, the day where the
    // cumulative deviation from the mean peaks — the classic shift
    // detector. Deviations ride ONE ordered window (sequential running
    // sum ⇒ identical fp order in both engines); argmax via rank with
    // a day tie-break.
    "ts_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy(col("event_type"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy(col("event_type"))
        .orderBy(desc("abs_s"), col("day"))
      daily
        .withColumn("dev", col("n") - avg(col("n")).over(wAll))
        .withColumn("abs_s", abs(sum(col("dev")).over(wOrd)))
        .withColumn("n_days", count(lit(1)).over(wAll))
        .withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("change_day"),
          round(col("abs_s"), 6).as("peak_cusum"), col("n_days"))
        .orderBy(col("event_type"))
    }),

    // string surface #3: initcap/overlay (modeled arithmetically in the
    // oracle — DuckDB lacks both), translate/repeat/ascii/chr/reverse/
    // starts/ends — pure codegen projection
    "fn_string3" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          initcap(lower(col("c_name"))).as("ic"),
          translate(col("c_name"), "0#", "O-").as("tr"),
          repeat(substring(col("c_name"), 1, 4), 2).as("rep"),
          ascii(col("c_name")).as("asc"),
          chr(lit(65) + (col("c_custkey") % 26)).as("ch"),
          reverse(col("c_name")).as("rev"),
          expr("overlay(c_name PLACING 'XX' FROM 3 FOR 2)").as("ov"),
          col("c_name").startsWith("Customer").as("sw"),
          col("c_name").endsWith("1").as("ew"))
        .orderBy(col("c_custkey"))
    }),

    // inter-arrival analysis: histogram of day-gaps between consecutive
    // orders per customer, bucketed by ~month. One keyed window (lag)
    // + one small hash agg; share denominators via a window total
    "orders_interarrival" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day"), col("o_orderkey"))
      val gaps = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("day"))
        .withColumn("prev", lag(col("day"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(datediff(col("day"), col("prev")).as("gap"))
      val wAll = Window.partitionBy()
      gaps.groupBy((col("gap") / 30).cast("int").as("bucket_months"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") / sum(col("n")).over(wAll), 6))
        .orderBy(col("bucket_months"))
    }),

    // XPath navigation over row-built XML: xpath_long/string/boolean +
    // the node-list form. The XML is constructed from source columns,
    // so the oracle reproduces every extraction arithmetically without
    // an XML engine (same pattern as fn_aes) — the roundtrip proves the
    // xpath evaluator, not the oracle's parser
    "fn_xml" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"),
          concat(lit("<o><k>"), col("o_orderkey"), lit("</k><s>"),
            col("o_orderstatus"), lit("</s><p>"),
            col("o_orderpriority"), lit("</p></o>")).as("xml"))
        .select(col("o_orderkey"),
          expr("xpath_long(xml, '/o/k')").as("k_rt"),
          expr("xpath_string(xml, '/o/s')").as("s_rt"),
          expr("xpath_boolean(xml, '/o/k > 100')").as("k_gt100"),
          size(expr("xpath(xml, '/o/*/text()')")).as("n_children"))
        .orderBy(col("o_orderkey"))
    }),

    // catalog surface: saveAsTable writes a MANAGED table into the
    // session warehouse and registers it; spark.table reads it back by
    // NAME (no paths), and tableExists proves the metadata round-trip.
    // The BI/notebook path onto the same engine.
    "sql_catalog_table" -> ((s, dir) => {
      val tbl = "graft_cat_orders_summary"
      // a FRESH session's catalog doesn't know the table, but the
      // managed location in the warehouse survives the JVM — drop both
      // (LOCATION_ALREADY_EXISTS otherwise; overwrite alone is not
      // enough across sessions)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      graft.deleteRecursively(java.nio.file.Paths.get(wh, tbl))
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").saveAsTable(tbl)
      s.table(tbl)
        .withColumn("listed", lit(s.catalog.tableExists(tbl)))
        .orderBy(col("o_orderstatus"))
    }),

    // day-of-week seasonality profile: orders/day per ISO dow + index
    // vs the overall rate. Exact counts; each calendar day has exactly
    // one dow, so the overall totals are plain window sums
    "orders_seasonality_dow" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val all = Window.partitionBy()
      Tables.orders(s, dir)
        .select((weekday(col("o_orderdate")) + 1).as("dow"),
          to_date(col("o_orderdate")).as("day"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_orders"), countDistinct(col("day")).as("n_days"))
        .withColumn("tot_n", sum(col("n_orders")).over(all))
        .withColumn("tot_d", sum(col("n_days")).over(all))
        .select(col("dow"), col("n_orders"), col("n_days"),
          round(col("n_orders") / col("n_days"), 6).as("per_day"),
          round((col("n_orders") / col("n_days")) / (col("tot_n") / col("tot_d")), 6)
            .as("idx"))
        .orderBy(col("dow"))
    }),

    // quality-gate waterfall: how many docs survive each successive
    // filter (length → mean token length → stopword floor → repetition
    // cap) — the pipeline-observability report every corpus build needs
    // before committing a filter config. Gate metrics reuse exact
    // integer arithmetic (mean len = (chars − (n−1))/n on single-spaced
    // text) so both engines agree bit-for-bit.
    "doc_filter_waterfall" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val base = Tables.documents(s, dir).select(col("doc_id"),
        size(toks).as("n_toks"),
        length(col("text")).as("n_chars"),
        size(filter(toks, t => t === "the" || t === "a" || t === "of")).as("n_stop"))
      val rep = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("max_tok"))
      base.join(rep, "doc_id")
        .select(
          (col("n_toks") >= 10 && col("n_toks") <= 5000).as("g1"),
          ((col("n_chars") - (col("n_toks") - 1)) / col("n_toks")).as("mean_len"),
          (col("n_stop") / col("n_toks")).as("stop_frac"),
          (col("max_tok") / col("n_toks")).as("rep_frac"))
        .agg(count(lit(1)).as("n_total"),
          expr("count_if(g1)").as("n_len"),
          expr("count_if(g1 AND mean_len >= 2 AND mean_len <= 12)").as("n_meanlen"),
          expr("count_if(g1 AND mean_len >= 2 AND mean_len <= 12 AND stop_frac >= 0.02)").as("n_stopgate"),
          expr("count_if(g1 AND mean_len >= 2 AND mean_len <= 12 AND stop_frac >= 0.02 AND rep_frac <= 0.3)").as("n_final"))
    }),

    // revenue concentration (Pareto): smallest customer prefix covering
    // 80% of spend + top-decile share. Exact DECIMAL cumsums; the 80%
    // threshold compares 5·cum < 4·tot (integer-scaled decimals) so no
    // double crosses the cut. One customer-sized sort — same caveat and
    // remedy as orders_rfm at extreme cardinality.
    "orders_pareto" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(Tables.dec2(col("o_totalprice"))).as("m"))
      val w = Window.orderBy(desc("m"), col("o_custkey"))
      val all = Window.partitionBy()
      val ranked = spend
        .withColumn("rank", row_number().over(w))
        .withColumn("cum", sum(col("m")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum(col("m")).over(all))
        .withColumn("n", count(lit(1)).over(all))
      ranked.agg(
        max(col("n")).as("n_cust"),
        (sum(when(col("cum") * 5 < col("tot") * 4, 1L).otherwise(0L)) + 1L).as("n_cust_80"),
        round(
          sum(when(col("rank") <= greatest(lit(1L), (col("n") / 10).cast("long")), col("m")))
            .cast("double") / max(col("tot")).cast("double"), 6).as("top_decile_share"))
    }),

    // contingency table via the DataFrameStatFunctions surface
    // (df.stat.crosstab): one pivot-shaped count pass; absent combos
    // are 0 (not NULL) by crosstab contract
    "stat_crosstab" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .stat.crosstab("o_orderstatus", "o_orderpriority")
        .orderBy(col("o_orderstatus_o_orderpriority"))
    }),

    // typed Dataset surface: case-class Encoders, joinWith (tuple
    // join), groupByKey.reduceGroups (associative max-by with orderkey
    // tie-break). Same shuffle shape as the untyped plan — the typed
    // API costs serialization, not extra exchanges.
    "typed_dataset_ops" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val ords = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .as[Ord]
      val custs = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"))
        .as[Cust]
      val top = ords.groupByKey(_.o_custkey)
        .reduceGroups { (a, b) =>
          if (a.o_totalprice > b.o_totalprice ||
            (a.o_totalprice == b.o_totalprice && a.o_orderkey < b.o_orderkey)) a else b
        }
        .map(_._2)
      top.joinWith(custs, top("o_custkey") === custs("c_custkey"), "inner")
        .map { case (o, c) => (c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice) }
        .toDF("c_custkey", "c_name", "top_orderkey", "top_price")
        .orderBy(col("c_custkey"))
    }),

    // array set algebra: union/intersect/except (all dedup in Spark) +
    // membership position. Results are sorted before joining to strings
    // because Spark's set ops preserve first-occurrence order while
    // DuckDB's rebuild — ORDER is the engine-specific part, the SET is
    // the contract. Pure codegen projection, no shuffle.
    "fn_array_setops" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      Tables.documents(s, dir)
        .select(col("doc_id"), slice(toks, 1, 6).as("a"), slice(toks, 4, 6).as("b"))
        .select(col("doc_id"),
          array_join(array_sort(array_union(col("a"), col("b"))), ",").as("u"),
          array_join(array_sort(array_intersect(col("a"), col("b"))), ",").as("i"),
          array_join(array_sort(array_except(col("a"), col("b"))), ",").as("x"),
          array_position(col("a"), element_at(col("b"), 1)).as("pos1"),
          size(array_distinct(col("a"))).as("nda"))
        .orderBy(col("doc_id"))
    }),

    // dim-broadcast LEFT OUTER: the stream (fact) side is preserved, the
    // build side is the filtered dim — BroadcastHashJoin LeftOuter in
    // the plan (asserted), so no shuffle of the fact table at any scale
    "join_left_broadcast" -> ((s, dir) => {
      val dim = Tables.customer(s, dir)
        .filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"))
      Tables.orders(s, dir)
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          count(col("c_custkey")).as("n_matched"))
        .orderBy(col("o_orderstatus"))
    }),

    // explicit dim caching: a 25-row dimension cached once feeds TWO
    // join branches — the plan reads InMemoryTableScan twice instead of
    // re-scanning parquet (PlanSpec pins it). The session-cache hygiene
    // in Verify/Bench clears it afterwards.
    "scan_cached" -> ((s, dir) => {
      val nat = Tables.nation(s, dir).cache()
      val a = Tables.customer(s, dir)
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_cust"))
      val b = Tables.supplier(s, dir)
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_supp"))
      a.join(b, Seq("n_name"), "full_outer")
        .select(col("n_name"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("n_name"))
    }),

    // native batch session_window (vs sessionize_batch's manual
    // gaps-and-islands rewrite): same one-exchange shape, and Spark's
    // session end = last event + gap, which the oracle models exactly
    "sessionize_native" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("sess_start_s"),
          unix_timestamp(col("session_window.end")).as("sess_end_s"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start_s"))
    }),

    // SQL-surface PIVOT clause (the BI-tool path) over the same engine:
    // fixed IN-list domain ⇒ one expand+agg pass, no distinct job.
    // Pivot yields NULL for empty cells where FILTER yields 0 — both
    // sides coalesce (the documented cross-engine pivot-null quirk)
    "sql_pivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          Tables.dec2(col("o_totalprice")).as("p"))
        .createOrReplaceTempView("graft_sql_pivot_src")
      s.sql("""
        SELECT o_orderstatus,
          coalesce(urgent_n, 0) AS urgent_n,
          CAST(coalesce(urgent_amt, 0) AS DOUBLE) AS urgent_amt,
          coalesce(low_n, 0) AS low_n,
          CAST(coalesce(low_amt, 0) AS DOUBLE) AS low_amt
        FROM graft_sql_pivot_src
        PIVOT (count(*) AS n, sum(p) AS amt
               FOR o_orderpriority IN ('1-URGENT' AS urgent, '5-LOW' AS low))
        ORDER BY o_orderstatus""")
    }),

    // multiple DISTINCT aggregates in one pass: Spark rewrites them via
    // ONE Expand (3× the input, one row per distinct clause) feeding a
    // single two-phase agg — not three scans. The plan spec pins the
    // Expand; at 100 TB this is 1 read + 1 shuffle however many
    // distinct columns ride along.
    "agg_multi_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("d_supp"),
          countDistinct(col("l_partkey")).as("d_part"),
          countDistinct(to_date(col("l_shipdate"))).as("d_days"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // rounding-mode semantics: HALF_UP (round) vs HALF_EVEN (bround) on
    // ties, floor/ceil toward ∓∞ on negatives. Inputs are EXACT binary
    // quarter/half steps (x.25/x.5/x.75 are powers of two) — the only
    // tie values where double-carried decimals agree across engines;
    // arbitrary 2dp money ties (x.45) diverge on double conversion and
    // are deliberately excluded (documented cross-engine hazard).
    "fn_round_modes" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          ((col("o_orderkey") % 19) - 9 + (col("o_orderkey") % 4) * 0.25).as("x"),
          ((col("o_orderkey") % 4) * 0.5 - 1).as("h"))
        .select(col("o_orderkey"), col("x"), col("h"),
          round(col("x"), 1).as("r1_up"),
          bround(col("x"), 1).as("r1_even"),
          round(col("h"), 0).as("r0_up"),
          bround(col("h"), 0).as("r0_even"),
          floor(col("x")).cast("long").as("fl"),
          ceil(col("x")).cast("long").as("ce"))
        .orderBy(col("o_orderkey"))
    }),

    // RFM customer segmentation: recency/frequency/monetary quintiles →
    // 3-digit segment. The ntile windows are single-partition sorts over
    // CUSTOMER-sized frames (already aggregated) — at larger cardinality
    // you'd swap ntile for approx-percentile cutpoints; segment counts
    // are the declared result either way. Fully deterministic: every
    // ntile orders with a custkey tie-break.
    "orders_rfm" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val anchor = o.agg(max(to_date(col("o_orderdate"))).as("anchor"))
      val cust = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("f"),
          sum(Tables.dec2(col("o_totalprice"))).as("m"))
        .crossJoin(broadcast(anchor))
        .select(col("o_custkey"),
          datediff(col("anchor"), col("last_day")).as("r_days"),
          col("f"), col("m"))
      import org.apache.spark.sql.expressions.Window
      val rW = Window.orderBy(desc("r_days"), col("o_custkey"))
      val fW = Window.orderBy(col("f"), col("o_custkey"))
      val mW = Window.orderBy(col("m"), col("o_custkey"))
      cust
        .withColumn("r_score", ntile(5).over(rW))
        .withColumn("f_score", ntile(5).over(fW))
        .withColumn("m_score", ntile(5).over(mW))
        .groupBy((col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("segment"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("segment"))
    }),

    // deterministic training-data shuffle: hash-derived shard + in-shard
    // position — the way a 100 TB corpus is permuted for training (a
    // global ORDER BY rand() is a full sort and not reproducible).
    // Shards partition-parallel; each position window sorts one shard.
    "doc_shuffle_shard" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // reduce mod m BEFORE the multiply: (k·a) mod m ≡ ((k mod m)·a)
      // mod m and the reduced product stays < 2^52 — ANSI-overflow-safe
      // for any 64-bit id (the unreduced form throws at ids ≥ ~3.5e9;
      // caught by ScaleBench's 10× id-offset corpus)
      val h = ((col("doc_id") % 1000003L) * 2654435761L) % 1000003L
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), h.as("h"), (h % 8).cast("int").as("shard"))
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // behavioral diversity: Shannon entropy of each user's event-type
    // distribution via H = ln(n) − Σ c·ln(c)/n (the text_entropy
    // formulation — one grouped count + one per-user fold, both
    // two-phase hash aggs; inner round(…,9) pins the fold cross-engine)
    "events_entropy" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
          sum(round(col("c") * log(col("c")), 9)).as("clnc"))
        .select(col("user_id"), col("n"), col("n_types"),
          round(log(col("n")) - col("clnc") / col("n"), 6).as("entropy"))
        .orderBy(col("user_id"))
    }),

    // deterministic weighted sampling without replacement (A-ES): key =
    // −ln(u)/w with a hash-derived uniform u — the 20 smallest keys ARE
    // the weighted sample. Pseudo-randomness from modular arithmetic
    // (not rand()) so the draw is reproducible AND oracle-checkable;
    // selection is a global top-k (TakeOrderedAndProject), one scan
    "sample_weighted" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          // mod-before-multiply: ANSI-overflow-safe for 64-bit keys
          ((((col("o_orderkey") % 1000003L) * 2654435761L) % 1000003L + 1L) / lit(1000004.0)).as("u"))
        .withColumn("key", -log(col("u")) / col("o_totalprice"))
        .orderBy(col("key"), col("o_orderkey")).limit(20)
        .select(col("o_orderkey"), col("o_totalprice"),
          round(col("key") * 1e6, 6).as("key_ppm"))
    }),

    // template-family (prefix) dedup: docs sharing their first 10
    // tokens collapse to one keeper — the pretraining-pipeline guard
    // against boilerplate families that exact dedup misses. One
    // projection + one hash agg on the prefix; never pairwise
    "doc_prefix_dedup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 10), " ").as("prefix"))
        .groupBy(col("prefix"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .filter(col("n_docs") >= 2)
        .orderBy(desc("n_docs"), col("prefix"))
    }),

    // event-type association mining: pointwise mutual information of
    // type pairs over per-user presence sets. Distinct (user, type) ⇒
    // pair join is user-keyed (Σ types² per user, types is a small
    // vocabulary), counts are exact longs, ln of one exact ratio
    "events_pmi" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val na = ut.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      val nu = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("nu"))
      ut.select(col("user_id"), col("event_type").as("type_a"))
        .join(ut.select(col("user_id"), col("event_type").as("type_b")), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
        .join(broadcast(na.select(col("event_type").as("type_a"), col("cnt").as("n_a"))), "type_a")
        .join(broadcast(na.select(col("event_type").as("type_b"), col("cnt").as("n_b"))), "type_b")
        .crossJoin(broadcast(nu))
        .select(col("type_a"), col("type_b"), col("n_ab"),
          round(log((col("n_ab") * col("nu")) / (col("n_a") * col("n_b"))), 6).as("pmi"))
        .orderBy(desc("pmi"), col("type_a"), col("type_b"))
    }),

    // corpus-driven stopword pruning: the top-20 most frequent tokens
    // (global count, deterministic tie-break) are removed from every
    // doc. The stop list is a broadcast anti-join — two shuffles of the
    // token frame (vocabulary-bounded count + per-doc agg), no collect.
    // Docs whose every token is a stopword survive via the left join.
    "text_stopword_prune" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(20)
        .select(col("tok").as("stop"))
      val tot = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_total"))
      val kept = toks.join(broadcast(top), col("tok") === col("stop"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"), countDistinct(col("tok")).as("n_kept_distinct"))
      tot.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_kept_distinct"), lit(0L)).as("n_kept_distinct"),
          round(coalesce(col("n_kept"), lit(0L)) / col("n_total"), 6).as("keep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // robust outlier detection: MAD (median absolute deviation) per
    // event type over daily counts — the outlier gate that doesn't let
    // the outliers move the threshold (unlike z-scores). Integer counts
    // make every median exact (.0 or .5), so no cross-engine ulp risk.
    "ts_outlier_mad" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val med = daily.groupBy(col("event_type"))
        .agg(expr("percentile(n, 0.5)").as("med"))
      val dev = daily.join(med, "event_type")
        .withColumn("adev", abs(col("n") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(mad, "event_type")
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_days"),
          expr("count_if(adev > 3 * 1.4826 * mad)").as("n_outliers"))
        .select(col("event_type"), col("n_days"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // weighted aggregate + group share: price-weighted mean discount and
    // each group's share of total spend. Weights/values carry ≤2
    // decimals, so the weighted sums run in exact DECIMAL (immune to
    // double summation order); only the final ratios go through double.
    "agg_weighted" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val g = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec2(col("l_discount")) * Tables.dec2(col("l_extendedprice"))).as("wsum_disc"),
          sum(Tables.dec2(col("l_extendedprice"))).as("w"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      g.select(col("l_returnflag"), col("n"),
          round(col("wsum_disc").cast("double") / col("w").cast("double"), 6).as("wavg_disc"),
          round(col("w").cast("double") / sum(col("w")).over(wAll).cast("double"), 6).as("share"))
        .orderBy(col("l_returnflag"))
    }),

    // bitwise aggregates + conditional count: AND/OR/XOR folds are
    // mergeable (two-phase hash agg), count_if is the FILTER clause
    "agg_bitagg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("bit_and(l_linenumber)").as("band"),
          expr("bit_or(l_linenumber)").as("bor"),
          expr("bit_xor(l_linenumber)").as("bxor"),
          expr("count_if(l_quantity > 25)").as("n_big"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }))

  val oracle: Map[String, String] = Map(
    "win_gap_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day
        |  FROM orders),
        |isl AS (
        |  SELECT o_custkey, day,
        |    day - row_number() OVER (PARTITION BY o_custkey ORDER BY day) AS grp
        |  FROM days)
        |SELECT o_custkey, count(*) AS len,
        |  min(day) AS start_day, max(day) AS end_day
        |FROM isl GROUP BY o_custkey, grp
        |ORDER BY len DESC, o_custkey, start_day LIMIT 20""".stripMargin,

    "dedup_fuzzy" ->
      """WITH names AS (
        |  SELECT DISTINCT p_name, split_part(p_name, ' ', 1) AS blk FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY dist, name_a, name_b LIMIT 20""".stripMargin,

    "ts_seasonal_naive" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS INTEGER) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY event_type, day)
        |SELECT d.event_type, count(*) AS n_days,
        |  round(avg(abs(d.cnt - f.cnt)), 6) AS mae,
        |  round(CAST(max(abs(d.cnt - f.cnt)) AS DOUBLE), 6) AS max_err
        |FROM daily d JOIN daily f
        |  ON d.event_type = f.event_type AND d.day = f.day + 7
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "fn_date2" ->
      """SELECT o_orderkey,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start,
        |  CAST(week(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_1mo
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "orders_basket_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |no AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
        |supp AS (SELECT pk, count(*) AS s FROM items GROUP BY pk),
        |p AS (
        |  SELECT a.pk AS a, b.pk AS b, count(*) AS n_ab
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING count(*) >= 3)
        |SELECT p.a, p.b, p.n_ab,
        |  round(p.n_ab / CAST(sa.s AS DOUBLE), 6) AS confidence,
        |  round((p.n_ab * no.n_orders) / CAST(sa.s * sb.s AS DOUBLE), 6) AS lift
        |FROM p JOIN supp sa ON sa.pk = p.a JOIN supp sb ON sb.pk = p.b
        |CROSS JOIN no
        |ORDER BY lift DESC, p.a, p.b LIMIT 10""".stripMargin,

    "emb_centroid_distance" ->
      """WITH ex AS (
        |  SELECT label,
        |    unnest(range(1, len(embedding) + 1)) AS pos,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos, avg(v) AS m FROM ex GROUP BY label, pos)
        |SELECT a.label AS la, b.label AS lb,
        |  round(sum(round(a.m * b.m, 9)), 6) AS dot
        |FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        |GROUP BY a.label, b.label ORDER BY la, lb""".stripMargin,

    "events_drift_monitor" ->
      """WITH typed AS (
        |  SELECT CAST(week(ts) AS INTEGER) AS wk, event_type FROM events),
        |weekly AS (
        |  SELECT wk, event_type, count(*) AS n,
        |    sum(count(*)) OVER (PARTITION BY wk) AS wn
        |  FROM typed GROUP BY wk, event_type),
        |overall AS (
        |  SELECT event_type, count(*) AS tn,
        |    sum(count(*)) OVER () AS tt
        |  FROM typed GROUP BY event_type)
        |SELECT w.wk, CAST(max(w.wn) AS BIGINT) AS n_events,
        |  round(max(abs(w.n / CAST(w.wn AS DOUBLE)
        |    - o.tn / CAST(o.tt AS DOUBLE))), 6) AS max_drift
        |FROM weekly w JOIN overall o ON o.event_type = w.event_type
        |GROUP BY w.wk ORDER BY w.wk""".stripMargin,

    "orders_return_lift" ->
      """WITH j AS (
        |  SELECT o_orderpriority AS prio, l_returnflag = 'R' AS ret
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (
        |  SELECT prio, count(*) AS n,
        |    CAST(sum(CASE WHEN ret THEN 1 ELSE 0 END) AS BIGINT) AS n_ret
        |  FROM j GROUP BY prio),
        |t AS (
        |  SELECT prio, n, n_ret,
        |    sum(n) OVER () AS tot, sum(n_ret) OVER () AS tot_ret
        |  FROM g)
        |SELECT prio, n,
        |  round(n_ret / CAST(n AS DOUBLE), 6) AS return_rate,
        |  round((n_ret / CAST(n AS DOUBLE))
        |    / (tot_ret / CAST(tot AS DOUBLE)), 6) AS lift
        |FROM t ORDER BY prio""".stripMargin,

    "orders_ship_lag" ->
      """WITH lag AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS INTEGER) AS lag_d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT prio, count(*) AS n,
        |  CAST(quantile_disc(lag_d, 0.5) AS INTEGER) AS p50,
        |  CAST(quantile_disc(lag_d, 0.9) AS INTEGER) AS p90,
        |  round(sum(CASE WHEN lag_d > 60 THEN 1 ELSE 0 END) / count(*), 6)
        |    AS breach_rate_60d
        |FROM lag GROUP BY prio ORDER BY prio""".stripMargin,

    "etl_profile" ->
      """SELECT 'lang' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN lang = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  count(DISTINCT lang) AS n_distinct
        |FROM documents
        |UNION ALL
        |SELECT 'source', count(*),
        |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN source = '' THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT source)
        |FROM documents
        |UNION ALL
        |SELECT 'text', count(*),
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT text)
        |FROM documents
        |ORDER BY "column" """.stripMargin,

    "text_syllable_stats" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |s AS (
        |  SELECT source, len(regexp_extract_all(w, '[aeiouy]+')) AS syl
        |  FROM toks WHERE w <> '')
        |SELECT source, count(*) AS n_words,
        |  round(avg(syl), 6) AS mean_syllables,
        |  round(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) / count(*), 6)
        |    AS complex_share
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    "orders_yoy_growth" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    sum(CASE WHEN year(o_orderdate) = 1996
        |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS r96,
        |    sum(CASE WHEN year(o_orderdate) = 1997
        |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS r97
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY o_custkey)
        |SELECT o_custkey,
        |  CAST(r96 AS DOUBLE) AS spend_96,
        |  CAST(r97 AS DOUBLE) AS spend_97,
        |  round(CAST(r97 AS DOUBLE) / CAST(r96 AS DOUBLE), 6) AS growth
        |FROM g WHERE r96 IS NOT NULL AND r97 IS NOT NULL
        |ORDER BY growth DESC, o_custkey LIMIT 10""".stripMargin,

    "fn_array_edit" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ')[1:4] AS a FROM documents)
        |SELECT doc_id,
        |  array_to_string(list_append(a, 'zz'), ',') AS appended,
        |  array_to_string(list_prepend('aa', a), ',') AS prepended,
        |  array_to_string(list_concat(list_concat(a[1:1], ['xx']), a[2:]), ',')
        |    AS inserted,
        |  coalesce(array_to_string(list_filter(a, x -> x <> a[1]), ','), '')
        |    AS removed
        |FROM t ORDER BY doc_id""".stripMargin,

    "agg_wilson_ci" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events)
        |SELECT n, k,
        |  round(k / CAST(n AS DOUBLE), 6) AS p_hat,
        |  round(((k / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2 * n)
        |    - 1.96 * sqrt((k / CAST(n AS DOUBLE)) * (1 - k / CAST(n AS DOUBLE)) / n
        |      + 1.96 * 1.96 / (4.0 * n * n)))
        |    / (1 + 1.96 * 1.96 / n), 6) AS ci_lo,
        |  round(((k / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2 * n)
        |    + 1.96 * sqrt((k / CAST(n AS DOUBLE)) * (1 - k / CAST(n AS DOUBLE)) / n
        |      + 1.96 * 1.96 / (4.0 * n * n)))
        |    / (1 + 1.96 * 1.96 / n), 6) AS ci_hi
        |FROM a""".stripMargin,

    "ts_drawdown" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))
        |      - CAST(250000 AS DECIMAL(18,2))) AS net
        |  FROM orders GROUP BY day),
        |dd AS (
        |  SELECT day,
        |    max(sum2) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - sum2
        |      AS drawdown,
        |    max(sum2) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM (
        |    SELECT day,
        |      sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sum2
        |    FROM daily))
        |SELECT day AS trough_day,
        |  CAST(drawdown AS DOUBLE) AS max_drawdown,
        |  CAST(peak AS DOUBLE) AS peak_at_trough
        |FROM dd ORDER BY drawdown DESC, day LIMIT 1""".stripMargin,

    "agg_poisson_dispersion" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY event_type, day)
        |SELECT event_type, count(*) AS n_days,
        |  round(avg(n), 6) AS mean_n,
        |  round(var_samp(n) / avg(n), 6) AS dispersion
        |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_boxplot" ->
      """SELECT event_type, count(*) AS n,
        |  round(min(value), 6) AS v_min,
        |  round(quantile_disc(value, 0.25), 6) AS q1,
        |  round(quantile_disc(value, 0.5), 6) AS med,
        |  round(quantile_disc(value, 0.75), 6) AS q3,
        |  round(max(value), 6) AS v_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "doc_coverage_curve" ->
      """WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
        |pos AS (
        |  SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 3)) AS i
        |  FROM t WHERE len(tk) >= 3),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(tk, i + 1, i + 3), ' ') AS g
        |  FROM pos),
        |npd AS (
        |  SELECT fd AS doc_id, count(*) AS n_new FROM (
        |    SELECT g, min(doc_id) AS fd FROM g GROUP BY g)
        |  GROUP BY fd),
        |docs AS (
        |  SELECT d.doc_id, coalesce(n.n_new, 0) AS n_new
        |  FROM (SELECT DISTINCT doc_id FROM g) d
        |  LEFT JOIN npd n ON n.doc_id = d.doc_id),
        |c AS (
        |  SELECT doc_id, n_new,
        |    row_number() OVER (ORDER BY doc_id) AS rn,
        |    sum(n_new) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_grams,
        |    count(*) OVER () AS d_total,
        |    sum(n_new) OVER () AS g_total
        |  FROM docs)
        |SELECT CAST(CASE WHEN rn = ceil(d_total * CAST(0.1 AS DOUBLE)) THEN 10
        |       WHEN rn = ceil(d_total * CAST(0.25 AS DOUBLE)) THEN 25
        |       WHEN rn = ceil(d_total * CAST(0.5 AS DOUBLE)) THEN 50
        |       WHEN rn = d_total THEN 100 END AS INTEGER) AS checkpoint,
        |  CAST(rn AS INTEGER) AS n_docs,
        |  CAST(cum_grams AS BIGINT) AS cum_grams,
        |  round(cum_grams / CAST(g_total AS DOUBLE), 6) AS coverage
        |FROM c
        |WHERE rn = ceil(d_total * CAST(0.1 AS DOUBLE))
        |   OR rn = ceil(d_total * CAST(0.25 AS DOUBLE))
        |   OR rn = ceil(d_total * CAST(0.5 AS DOUBLE))
        |   OR rn = d_total
        |ORDER BY checkpoint""".stripMargin,

    "orders_repeat_rate" ->
      """WITH c AS (
        |  SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey)
        |SELECT count(*) AS n_cust,
        |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
        |  round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) / count(*), 6)
        |    AS repeat_rate,
        |  round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
        |    / sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 6) AS avg_orders_repeaters,
        |  CAST(max(c) AS BIGINT) AS max_orders
        |FROM c""".stripMargin,

    "agg_mann_whitney" ->
      """WITH pts AS (
        |  SELECT o_orderkey, o_totalprice, o_custkey % 2 = 0 AS is_a
        |  FROM orders),
        |r AS (
        |  SELECT is_a,
        |    avg(rn) OVER (PARTITION BY o_totalprice) AS avgrank
        |  FROM (
        |    SELECT is_a, o_totalprice,
        |      row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        |    FROM pts)),
        |a AS (
        |  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN is_a THEN avgrank ELSE 0.0 END) AS r_a
        |  FROM r)
        |SELECT n_a, n_b,
        |  r_a - n_a * (n_a + 1) / 2 AS u,
        |  round(((r_a - n_a * (n_a + 1) / 2) - n_a * n_b / CAST(2.0 AS DOUBLE)) /
        |    sqrt(n_a * n_b * (n_a + n_b + 1) / CAST(12.0 AS DOUBLE)), 6) AS z
        |FROM a""".stripMargin,

    "fn_haversine" ->
      """WITH n AS (
        |  SELECT n_nationkey AS k,
        |    (n_nationkey * 7 % 140) - 70 + CAST(0.5 AS DOUBLE) AS lat,
        |    (n_nationkey * 13 % 360) - 180 + CAST(0.5 AS DOUBLE) AS lon
        |  FROM nation)
        |SELECT a.k AS ka, b.k AS kb,
        |  round(2 * 6371.0 * asin(sqrt(
        |    power(sin((b.lat - a.lat) * pi() / 180 / 2), 2) +
        |    cos(a.lat * pi() / 180) * cos(b.lat * pi() / 180) *
        |    power(sin((b.lon - a.lon) * pi() / 180 / 2), 2))), 3) AS km
        |FROM n a JOIN n b ON a.k < b.k
        |ORDER BY km, ka, kb LIMIT 10""".stripMargin,

    "agg_jackknife" ->
      """WITH g AS (
        |  SELECT CAST(isodow(o_orderdate) AS INTEGER) AS dow,
        |    count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |  FROM orders GROUP BY dow),
        |l AS (
        |  SELECT CAST(sum(s) OVER () - s AS DOUBLE)
        |    / CAST(sum(n) OVER () - n AS DOUBLE) AS loo_mean
        |  FROM g)
        |SELECT count(*) AS k,
        |  round(min(loo_mean), 4) AS loo_min,
        |  round(max(loo_mean), 4) AS loo_max,
        |  round(max(loo_mean) - min(loo_mean), 6) AS loo_spread
        |FROM l""".stripMargin,

    "events_control_chart" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
        |  FROM events GROUP BY day),
        |t AS (
        |  SELECT n, err,
        |    sum(err) OVER () / CAST(sum(n) OVER () AS DOUBLE) AS pbar
        |  FROM daily)
        |SELECT count(*) AS n_days,
        |  round(max(pbar), 6) AS pbar,
        |  CAST(sum(CASE WHEN err / CAST(n AS DOUBLE)
        |      > pbar + 3 * sqrt(pbar * (1 - pbar) / n) THEN 1
        |    WHEN err / CAST(n AS DOUBLE)
        |      < pbar - 3 * sqrt(pbar * (1 - pbar) / n) THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_out_of_control
        |FROM t""".stripMargin,

    "agg_ks_test" ->
      """WITH pts AS (
        |  SELECT o_orderkey, o_totalprice, o_custkey % 2 = 0 AS is_a
        |  FROM orders),
        |c AS (
        |  SELECT
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)
        |      OVER (ORDER BY o_totalprice, o_orderkey
        |            ROWS UNBOUNDED PRECEDING) AS cum_a,
        |    sum(CASE WHEN is_a THEN 0 ELSE 1 END)
        |      OVER (ORDER BY o_totalprice, o_orderkey
        |            ROWS UNBOUNDED PRECEDING) AS cum_b,
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END) OVER () AS n_a,
        |    sum(CASE WHEN is_a THEN 0 ELSE 1 END) OVER () AS n_b
        |  FROM pts)
        |SELECT CAST(max(n_a) AS BIGINT) AS n_a,
        |  CAST(max(n_b) AS BIGINT) AS n_b,
        |  round(max(abs(cum_a / CAST(n_a AS DOUBLE)
        |    - cum_b / CAST(n_b AS DOUBLE))), 6) AS ks_d
        |FROM c""".stripMargin,

    "agg_benford" ->
      """WITH d AS (
        |  SELECT CAST(floor(o_totalprice /
        |    power(10, floor(log10(o_totalprice)))) AS INTEGER) AS digit
        |  FROM orders),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT digit, n, sum(n) OVER () AS tot FROM g)
        |SELECT digit, n,
        |  round(n / tot, 6) AS obs_share,
        |  round(log10(1 + CAST(1.0 AS DOUBLE) / digit), 6) AS benford_share,
        |  round(power(n - tot * log10(1 + CAST(1.0 AS DOUBLE) / digit), 2)
        |    / (tot * log10(1 + CAST(1.0 AS DOUBLE) / digit)), 4) AS cell_chi2
        |FROM t ORDER BY digit""".stripMargin,

    "agg_anova" ->
      """WITH g AS (
        |  SELECT CAST(isodow(o_orderdate) AS INTEGER) AS dow,
        |    count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
        |      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ss
        |  FROM orders GROUP BY dow),
        |a AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS N, count(*) AS k,
        |    sum(s) AS S, sum(ss) AS SS,
        |    sum(s * s / n) AS ssb_part
        |  FROM g)
        |SELECT N AS n, k,
        |  round(((ssb_part - S * S / N) / (k - 1)) /
        |        ((SS - ssb_part) / (N - k)), 4) AS f_stat
        |FROM a""".stripMargin,

    "orders_revenue_waterfall" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS discount_amt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)))
        |    AS DOUBLE) AS net,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
        |    * CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) AS tax_amt,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
        |    * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))), 4)
        |    AS DOUBLE) AS final_amt
        |FROM lineitem""".stripMargin,

    "events_seq_match" ->
      """WITH s AS (
        |  SELECT user_id,
        |    string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN regexp_matches(seq, 'signup.*click.*purchase')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel,
        |  CAST(sum(CASE WHEN contains(seq, 'error,error')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_double_error,
        |  round(sum(CASE WHEN regexp_matches(seq, 'signup.*click.*purchase')
        |                 THEN 1 ELSE 0 END) / count(*), 6) AS funnel_share
        |FROM s""".stripMargin,

    "doc_cross_source_dup" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY text
        |HAVING count(DISTINCT source) >= 2
        |ORDER BY keeper""".stripMargin,

    "doc_train_split" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 10 < 8
        |           THEN 'train'
        |         WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 10 < 9
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |g AS (SELECT source, split, count(*) AS n FROM d GROUP BY source, split)
        |SELECT source, split, n,
        |  round(n / sum(n) OVER (PARTITION BY source), 6) AS share_in_source
        |FROM g ORDER BY source, split""".stripMargin,

    "orders_chi2" ->
      """WITH obs AS (
        |  SELECT year(o_orderdate) AS y, o_orderpriority AS p, count(*) AS o
        |  FROM orders GROUP BY y, p),
        |t AS (
        |  SELECT y, p, o,
        |    sum(o) OVER (PARTITION BY y) * sum(o) OVER (PARTITION BY p)
        |      / sum(o) OVER () AS e
        |  FROM obs)
        |SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
        |  CAST((count(DISTINCT y) - 1) * (count(DISTINCT p) - 1) AS BIGINT) AS dof,
        |  CAST(sum(o) AS BIGINT) AS n
        |FROM t""".stripMargin,

    "text_zipf_fit" ->
      """WITH c AS (
        |  SELECT tok, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |r AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM c)
        |SELECT count(*) AS n_tokens,
        |  round(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope,
        |  round(regr_r2(ln(c), ln(rank)), 6) AS r2
        |FROM r WHERE rank <= 100""".stripMargin,

    "events_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id % 2 AS grp,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT grp, count(*) AS n, avg(c) AS m, var_samp(c) AS v
        |  FROM pu GROUP BY grp),
        |w AS (
        |  SELECT
        |    max(CASE WHEN grp = 0 THEN n END) AS n_a,
        |    max(CASE WHEN grp = 0 THEN m END) AS m_a,
        |    max(CASE WHEN grp = 0 THEN v END) AS v_a,
        |    max(CASE WHEN grp = 1 THEN n END) AS n_b,
        |    max(CASE WHEN grp = 1 THEN m END) AS m_b,
        |    max(CASE WHEN grp = 1 THEN v END) AS v_b
        |  FROM g)
        |SELECT n_a, n_b,
        |  round(m_a, 6) AS mean_a,
        |  round(m_b, 6) AS mean_b,
        |  round((m_b - m_a) / sqrt(v_a / n_a + v_b / n_b), 6) AS z
        |FROM w""".stripMargin,

    "text_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |top AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS df FROM dt GROUP BY tok
        |    ORDER BY df DESC, tok LIMIT 20)),
        |dtt AS (SELECT dt.doc_id, dt.tok FROM dt JOIN top USING (tok)),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM dt),
        |na AS (SELECT tok, count(*) AS cnt FROM dtt GROUP BY tok),
        |p AS (
        |  SELECT a.tok AS ta, b.tok AS tb, count(*) AS n_ab
        |  FROM dtt a JOIN dtt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY ta, tb)
        |SELECT p.ta, p.tb, p.n_ab,
        |  round(ln((p.n_ab * nd.nd) / (x.cnt * y.cnt)), 6) AS pmi
        |FROM p
        |JOIN na x ON x.tok = p.ta
        |JOIN na y ON y.tok = p.tb
        |CROSS JOIN nd
        |ORDER BY pmi DESC, p.ta, p.tb LIMIT 20""".stripMargin,

    "events_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS cus
        |  FROM events WHERE event_type = 'click'),
        |t AS (
        |  SELECT p.pid, p.pus, min(c.cus) AS first_us, max(c.cus) AS last_us
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.cus <= p.pus AND c.cus > p.pus - 604800000000
        |  GROUP BY p.pid, p.pus)
        |SELECT (SELECT count(*) FROM p) AS n_purchases,
        |  count(*) AS n_attributed,
        |  CAST(sum(CASE WHEN first_us = last_us THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_single_touch,
        |  round(avg((pus - first_us) / CAST(3600000000.0 AS DOUBLE)), 6)
        |    AS avg_hours_first_to_purchase
        |FROM t""".stripMargin,

    "orders_trend" ->
      """WITH m AS (
        |  SELECT o_orderstatus,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    count(*) AS n
        |  FROM orders GROUP BY o_orderstatus, m)
        |SELECT o_orderstatus, count(*) AS n_months,
        |  round(regr_slope(n, m), 6) AS slope
        |FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "events_heatmap" ->
      """WITH g AS (
        |  SELECT CAST(isodow(ts) AS INTEGER) AS dow,
        |    CAST(hour(ts) AS INTEGER) AS hr, count(*) AS n
        |  FROM events GROUP BY dow, hr)
        |SELECT dow, hr, n,
        |  round(n / sum(n) OVER (), 6) AS share
        |FROM g ORDER BY dow, hr""".stripMargin,

    "orders_basket_dist" ->
      """WITH b AS (
        |  SELECT l_orderkey, count(*) AS n_items
        |  FROM lineitem GROUP BY l_orderkey),
        |h AS (SELECT n_items, count(*) AS n_orders FROM b GROUP BY n_items)
        |SELECT n_items, n_orders,
        |  round(n_orders / sum(n_orders) OVER (), 6) AS share
        |FROM h ORDER BY n_items""".stripMargin,

    "agg_hhi" ->
      """WITH rev AS (
        |  SELECT s_nationkey, s_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_nationkey, s_suppkey),
        |sh AS (
        |  SELECT s_nationkey,
        |    CAST(r AS DOUBLE) / CAST(sum(r) OVER (PARTITION BY s_nationkey) AS DOUBLE)
        |      AS share
        |  FROM rev)
        |SELECT n.n_name, count(*) AS n_suppliers,
        |  round(sum(share * share), 6) AS hhi
        |FROM sh JOIN nation n ON n.n_nationkey = sh.s_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "ts_acf" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS INTEGER) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY event_type, day),
        |pairs AS (
        |  SELECT d.event_type, k.lag, d.n, f.n AS n_lag
        |  FROM (SELECT 1 AS lag UNION ALL SELECT 7) k
        |  JOIN daily d ON true
        |  JOIN daily f ON f.event_type = d.event_type AND d.day = f.day + k.lag)
        |SELECT event_type, CAST(lag AS INTEGER) AS lag, count(*) AS n_pairs,
        |  round(corr(n, n_lag), 6) AS acf
        |FROM pairs GROUP BY event_type, lag
        |ORDER BY event_type, lag""".stripMargin,

    "fn_regex2" ->
      """SELECT doc_id,
        |  coalesce(array_to_string(regexp_extract_all(text, '\b\w{5}\b')[1:3], ','), '')
        |    AS first5s,
        |  CAST(len(regexp_extract_all(text, 'ab')) AS INTEGER) AS n_ab,
        |  CAST(strpos(text, 'data') AS INTEGER) AS pos_data,
        |  regexp_replace(substring(text, 1, 40), '(\w+) (\w+)', '\2 \1', 'g') AS swapped
        |FROM documents ORDER BY doc_id""".stripMargin,

    "orders_abc" ->
      """WITH rev AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (
        |  SELECT r,
        |    sum(r) OVER (ORDER BY r DESC, l_partkey
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(r) OVER () AS tot
        |  FROM rev),
        |k AS (
        |  SELECT r, tot,
        |    CASE WHEN cum * 5 <= tot * 4 THEN 'A'
        |         WHEN cum * 20 <= tot * 19 THEN 'B'
        |         ELSE 'C' END AS cls
        |  FROM c)
        |SELECT cls, count(*) AS n_parts,
        |  round(CAST(sum(r) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6) AS rev_share
        |FROM k GROUP BY cls ORDER BY cls""".stripMargin,

    "agg_regression_residuals" ->
      """WITH li AS (
        |  SELECT l_returnflag AS f, l_orderkey, l_linenumber,
        |    l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem),
        |fit AS (
        |  SELECT f, round(regr_slope(y, x), 6) AS b,
        |    round(regr_intercept(y, x), 6) AS a
        |  FROM li GROUP BY f)
        |SELECT li.f, li.l_orderkey, li.l_linenumber,
        |  round(li.y - (fit.a + fit.b * li.x), 4) AS residual
        |FROM li JOIN fit ON fit.f = li.f
        |ORDER BY abs(round(li.y - (fit.a + fit.b * li.x), 4)) DESC,
        |  li.l_orderkey, li.l_linenumber
        |LIMIT 10""".stripMargin,

    "events_gini" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        |r AS (
        |  SELECT c, row_number() OVER (ORDER BY c, user_id) AS rn FROM c)
        |SELECT count(*) AS n_users,
        |  round(CAST(sum(rn * c) * 2 AS DOUBLE) / CAST(count(*) * sum(c) AS DOUBLE)
        |    - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini
        |FROM r""".stripMargin,

    "doc_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
        |pos AS (
        |  SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 3)) AS i
        |  FROM t WHERE len(tk) >= 3),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(tk, i + 1, i + 3), ' ') AS g
        |  FROM pos),
        |fd AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY g)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN fd.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN fd.fd = g.doc_id THEN 1 ELSE 0 END)
        |    / count(*), 6) AS novelty
        |FROM g JOIN fd ON fd.g = g.g
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "agg_mean_ci" ->
      """SELECT l_returnflag AS f, count(*) AS n,
        |  round(avg(l_extendedprice), 4) AS mean_price,
        |  round(avg(l_extendedprice)
        |    - 1.96 * stddev_samp(l_extendedprice) / sqrt(count(*)), 4) AS ci_lo,
        |  round(avg(l_extendedprice)
        |    + 1.96 * stddev_samp(l_extendedprice) / sqrt(count(*)), 4) AS ci_hi
        |FROM lineitem GROUP BY f ORDER BY f""".stripMargin,

    "events_load_factor" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        |  FROM events GROUP BY event_type, hr)
        |SELECT event_type, count(*) AS n_hours,
        |  CAST(max(n) AS BIGINT) AS peak,
        |  round(avg(n), 6) AS mean_n,
        |  round(max(n) / avg(n), 6) AS load_factor
        |FROM h GROUP BY event_type ORDER BY event_type""".stripMargin,

    "text_source_jsd" ->
      """WITH dt AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |top AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM dt GROUP BY tok
        |    ORDER BY c DESC, tok LIMIT 100)),
        |cnt AS (
        |  SELECT source, dt.tok, count(*) AS c
        |  FROM dt JOIN top ON top.tok = dt.tok
        |  GROUP BY source, dt.tok),
        |tot AS (SELECT source, sum(c) AS t FROM cnt GROUP BY source),
        |dist AS (
        |  SELECT cnt.source, cnt.tok, cnt.c / CAST(tot.t AS DOUBLE) AS p
        |  FROM cnt JOIN tot ON tot.source = cnt.source),
        |srcs AS (SELECT DISTINCT source FROM dist),
        |grid AS (
        |  SELECT a.source AS sa, b.source AS sb, top.tok
        |  FROM srcs a JOIN srcs b ON a.source < b.source CROSS JOIN top),
        |j AS (
        |  SELECT g.sa, g.sb,
        |    coalesce(da.p, 0) AS pa, coalesce(db.p, 0) AS pb
        |  FROM grid g
        |  LEFT JOIN dist da ON da.source = g.sa AND da.tok = g.tok
        |  LEFT JOIN dist db ON db.source = g.sb AND db.tok = g.tok)
        |SELECT sa, sb,
        |  round(sum(
        |    CASE WHEN pa > 0 THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0 END +
        |    CASE WHEN pb > 0 THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0 END) / 2, 6)
        |    AS jsd
        |FROM j GROUP BY sa, sb ORDER BY sa, sb""".stripMargin,

    "agg_tukey_fences" ->
      """WITH q AS (
        |  SELECT l_returnflag AS f,
        |    quantile_disc(l_extendedprice, 0.25) AS q1,
        |    quantile_disc(l_extendedprice, 0.75) AS q3
        |  FROM lineitem GROUP BY f)
        |SELECT li.l_returnflag AS f, count(*) AS n,
        |  round(q.q1, 2) AS q1, round(q.q3, 2) AS q3,
        |  CAST(sum(CASE WHEN li.l_extendedprice < q.q1 - (q.q3 - q.q1) * 1.5
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN li.l_extendedprice > q.q3 + (q.q3 - q.q1) * 1.5
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM lineitem li JOIN q ON q.f = li.l_returnflag
        |GROUP BY li.l_returnflag, q.q1, q.q3 ORDER BY f""".stripMargin,

    "text_wordlen_dist" ->
      """WITH w AS (
        |  SELECT least(length(t), 20) AS len FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |g AS (SELECT len, count(*) AS n FROM w GROUP BY len)
        |SELECT CAST(len AS INTEGER) AS len, n,
        |  round(n / sum(n) OVER (), 6) AS share
        |FROM g ORDER BY len""".stripMargin,

    "doc_split_balance" ->
      """WITH d AS (
        |  SELECT CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 10 < 8
        |           THEN 'train'
        |         WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 10 < 9
        |           THEN 'val'
        |         ELSE 'test' END AS split,
        |    length(text) AS len,
        |    len(string_split(text, ' ')) >= 10 AS keep
        |  FROM documents)
        |SELECT split, count(*) AS n,
        |  round(avg(len), 6) AS mean_len,
        |  round(sum(CASE WHEN keep THEN 1 ELSE 0 END) / count(*), 6) AS keep_rate
        |FROM d GROUP BY split ORDER BY split""".stripMargin,

    "events_age_curve" ->
      """WITH s0 AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |aged AS (
        |  SELECT CAST(date_diff('day', s.d0, CAST(e.ts AS DATE)) AS INTEGER)
        |    AS age_d
        |  FROM events e JOIN s0 s ON s.user_id = e.user_id),
        |nu AS (SELECT count(*) AS nu FROM s0)
        |SELECT age_d, count(*) AS n_events,
        |  round(count(*) / CAST(nu.nu AS DOUBLE), 6) AS events_per_user
        |FROM aged CROSS JOIN nu
        |WHERE age_d BETWEEN 0 AND 13
        |GROUP BY age_d, nu.nu ORDER BY age_d""".stripMargin,

    "orders_discount_response" ->
      """SELECT CAST(CAST(l_discount AS DECIMAL(4,2)) AS DOUBLE) AS disc,
        |  count(*) AS n_lines,
        |  round(avg(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE)), 6)
        |    AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY disc ORDER BY disc""".stripMargin,

    "events_conversion_latency" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS s0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT s.user_id,
        |    CAST(date_diff('day', CAST(s.s0 AS DATE), CAST(min(p.pp) AS DATE))
        |      AS INTEGER) AS t_days
        |  FROM s0 s LEFT JOIN (
        |    SELECT e.user_id, CASE WHEN e.ts >= s2.s0 THEN e.ts END AS pp
        |    FROM events e JOIN s0 s2 ON s2.user_id = e.user_id
        |    WHERE e.event_type = 'purchase') p
        |  ON p.user_id = s.user_id
        |  GROUP BY s.user_id, s.s0)
        |SELECT count(*) AS n_signups,
        |  count(t_days) AS n_converted,
        |  CAST(quantile_disc(t_days, 0.5) AS INTEGER) AS p50_days,
        |  CAST(quantile_disc(t_days, 0.9) AS INTEGER) AS p90_days
        |FROM conv""".stripMargin,

    "orders_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT m,
        |    row_number() OVER (ORDER BY m, o_custkey) AS rn,
        |    sum(m) OVER (ORDER BY m, o_custkey ROWS UNBOUNDED PRECEDING) AS cum,
        |    count(*) OVER () AS n,
        |    sum(m) OVER () AS tot
        |  FROM spend)
        |SELECT CAST(rn * 10 / n AS INTEGER) AS decile,
        |  round(CAST(max(cum) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
        |    AS cum_spend_share
        |FROM r
        |WHERE (rn * 10 % n = 0 OR rn = n) AND rn * 10 / n >= 1
        |GROUP BY decile ORDER BY decile""".stripMargin,

    "agg_shrunk_rates" ->
      """WITH g AS (
        |  SELECT l_suppkey, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (
        |  SELECT l_suppkey, n, k,
        |    sum(k) OVER () / CAST(sum(n) OVER () AS DOUBLE) AS gr
        |  FROM g)
        |SELECT l_suppkey, n, k,
        |  round(k / CAST(n AS DOUBLE), 6) AS raw_rate,
        |  round((k + 50 * gr) / (n + 50), 6) AS shrunk_rate
        |FROM t ORDER BY shrunk_rate DESC, l_suppkey LIMIT 10""".stripMargin,

    "win_vwap" ->
      """WITH daily AS (
        |  SELECT l_returnflag AS f, CAST(l_shipdate AS DATE) AS day,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS pq,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
        |  FROM lineitem GROUP BY f, day),
        |c AS (
        |  SELECT f, day,
        |    round(CAST(round(sum(pq) OVER (PARTITION BY f ORDER BY day
        |        ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
        |      / CAST(sum(q) OVER (PARTITION BY f ORDER BY day
        |        ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS vwap,
        |    row_number() OVER (PARTITION BY f ORDER BY day DESC) AS rk
        |  FROM daily)
        |SELECT f, day, vwap FROM c WHERE rk <= 10
        |ORDER BY f, day""".stripMargin,

    "agg_trimmed_mean" ->
      """WITH base AS (
        |  SELECT l_returnflag AS f, l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p
        |  FROM lineitem),
        |ranked AS (
        |  SELECT f, p,
        |    row_number() OVER (PARTITION BY f
        |      ORDER BY p, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY f) AS cnt
        |  FROM base)
        |SELECT f, count(*) AS n_kept,
        |  round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS trimmed_mean
        |FROM ranked
        |WHERE rn > ceil(cnt * CAST(0.05 AS DOUBLE))
        |  AND rn <= floor(cnt * CAST(0.95 AS DOUBLE))
        |GROUP BY f ORDER BY f""".stripMargin,

    "agg_winsorized" ->
      """WITH base AS (
        |  SELECT l_returnflag AS f, l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p
        |  FROM lineitem),
        |ranked AS (
        |  SELECT f, p,
        |    row_number() OVER (PARTITION BY f
        |      ORDER BY p, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY f) AS cnt
        |  FROM base),
        |cuts AS (
        |  SELECT f, min(p) AS lo, max(p) AS hi FROM ranked
        |  WHERE rn = greatest(1, CAST(ceil(cnt * CAST(0.05 AS DOUBLE)) AS BIGINT))
        |     OR rn = CAST(ceil(cnt * CAST(0.95 AS DOUBLE)) AS BIGINT)
        |  GROUP BY f)
        |SELECT r.f, count(*) AS n,
        |  round(CAST(sum(CASE WHEN r.p < c.lo THEN c.lo
        |                      WHEN r.p > c.hi THEN c.hi
        |                      ELSE r.p END) AS DOUBLE) / count(*), 6) AS wins_mean
        |FROM ranked r JOIN cuts c ON c.f = r.f
        |GROUP BY r.f ORDER BY r.f""".stripMargin,

    "agg_spearman" ->
      """WITH b AS (
        |  SELECT l_returnflag AS f, l_orderkey, l_linenumber,
        |    l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem),
        |r AS (
        |  SELECT f, x, y,
        |    avg(rnx) OVER (PARTITION BY f, x) AS rx,
        |    avg(rny) OVER (PARTITION BY f, y) AS ry
        |  FROM (
        |    SELECT f, x, y,
        |      row_number() OVER (PARTITION BY f ORDER BY x, l_orderkey, l_linenumber) AS rnx,
        |      row_number() OVER (PARTITION BY f ORDER BY y, l_orderkey, l_linenumber) AS rny
        |    FROM b))
        |SELECT f, round(corr(x, y), 6) AS pearson,
        |  round(corr(rx, ry), 6) AS spearman,
        |  round(covar_samp(x, y), 4) AS cov_s,
        |  count(*) AS n
        |FROM r GROUP BY f ORDER BY f""".stripMargin,

    "plan_checkpoint" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY l_returnflag
        |HAVING count(*) > 0 ORDER BY l_returnflag""".stripMargin,

    "events_survival" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS s0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT s.user_id,
        |    CAST(date_diff('day', CAST(s.s0 AS DATE), CAST(min(p.pp) AS DATE))
        |      AS INTEGER) AS t_days
        |  FROM s0 s LEFT JOIN (
        |    SELECT e.user_id, s2.s0,
        |      CASE WHEN e.ts >= s2.s0 THEN e.ts END AS pp
        |    FROM events e JOIN s0 s2 ON s2.user_id = e.user_id
        |    WHERE e.event_type = 'purchase') p
        |  ON p.user_id = s.user_id
        |  GROUP BY s.user_id, s.s0)
        |SELECT t.t, count(*) AS n_users,
        |  round(sum(CASE WHEN c.t_days IS NULL OR c.t_days > t.t
        |                 THEN 1 ELSE 0 END) / count(*), 6) AS s_t
        |FROM conv c CROSS JOIN (SELECT CAST(i AS INTEGER) AS t
        |                        FROM generate_series(0, 14) g(i)) t
        |GROUP BY t.t ORDER BY t.t""".stripMargin,

    "events_dau_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day)
        |SELECT d.day, d.dau,
        |  (SELECT count(DISTINCT u.user_id) FROM ud u
        |   WHERE u.day BETWEEN d.day - 6 AND d.day) AS wau,
        |  round(d.dau / (SELECT count(DISTINCT u.user_id) FROM ud u
        |    WHERE u.day BETWEEN d.day - 6 AND d.day), 6) AS stickiness
        |FROM dau d ORDER BY d.day""".stripMargin,

    "orders_price_frontier" ->
      """WITH byday AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    min(CAST(o_totalprice AS DECIMAL(18,2))) AS p
        |  FROM orders GROUP BY day),
        |f AS (
        |  SELECT day, p,
        |    min(p) OVER (ORDER BY day DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS later_min
        |  FROM byday)
        |SELECT day, CAST(p AS DOUBLE) AS min_price
        |FROM f WHERE later_min IS NULL OR p < later_min
        |ORDER BY day""".stripMargin,

    "ts_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY event_type, day),
        |c AS (
        |  SELECT event_type, day,
        |    abs(sum(n - avg_n) OVER (PARTITION BY event_type ORDER BY day
        |        ROWS UNBOUNDED PRECEDING)) AS abs_s,
        |    n_days
        |  FROM (
        |    SELECT event_type, day, n,
        |      avg(n) OVER (PARTITION BY event_type) AS avg_n,
        |      count(*) OVER (PARTITION BY event_type) AS n_days
        |    FROM daily)),
        |r AS (
        |  SELECT event_type, day, abs_s, n_days,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY abs_s DESC, day) AS rk
        |  FROM c)
        |SELECT event_type, day AS change_day,
        |  round(abs_s, 6) AS peak_cusum, n_days
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "fn_string3" ->
      """WITH b AS (SELECT c_custkey, c_name, lower(c_name) AS lc FROM customer)
        |SELECT c_custkey,
        |  upper(lc[1]) || lc[2:] AS ic,
        |  translate(c_name, '0#', 'O-') AS tr,
        |  repeat(substring(c_name, 1, 4), 2) AS rep,
        |  CAST(ascii(c_name) AS INTEGER) AS asc,
        |  chr(CAST(65 + c_custkey % 26 AS INTEGER)) AS ch,
        |  reverse(c_name) AS rev,
        |  substring(c_name, 1, 2) || 'XX' || substring(c_name, 5) AS ov,
        |  starts_with(c_name, 'Customer') AS sw,
        |  ends_with(c_name, '1') AS ew
        |FROM b ORDER BY c_custkey""".stripMargin,

    "orders_interarrival" ->
      """WITH g AS (
        |  SELECT CAST(date_diff('day', prev, day) AS INTEGER) AS gap FROM (
        |    SELECT CAST(o_orderdate AS DATE) AS day,
        |      lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |        ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev
        |    FROM orders)
        |  WHERE prev IS NOT NULL),
        |h AS (SELECT CAST(gap // 30 AS INTEGER) AS bucket_months, count(*) AS n
        |      FROM g GROUP BY bucket_months)
        |SELECT bucket_months, n,
        |  round(n / sum(n) OVER (), 6) AS share
        |FROM h ORDER BY bucket_months""".stripMargin,

    "fn_xml" ->
      """SELECT o_orderkey,
        |  o_orderkey AS k_rt,
        |  o_orderstatus AS s_rt,
        |  o_orderkey > 100 AS k_gt100,
        |  3 AS n_children
        |FROM orders WHERE o_orderkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "sql_catalog_table" ->
      """SELECT o_orderstatus, count(*) AS n, true AS listed
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "orders_seasonality_dow" ->
      """WITH d AS (
        |  SELECT CAST(isodow(o_orderdate) AS INTEGER) AS dow,
        |    CAST(o_orderdate AS DATE) AS day
        |  FROM orders),
        |g AS (
        |  SELECT dow, count(*) AS n_orders, count(DISTINCT day) AS n_days
        |  FROM d GROUP BY dow)
        |SELECT dow, n_orders, n_days,
        |  round(n_orders / n_days, 6) AS per_day,
        |  round((n_orders / n_days)
        |    / (sum(n_orders) OVER () / sum(n_days) OVER ()), 6) AS idx
        |FROM g ORDER BY dow""".stripMargin,

    "doc_filter_waterfall" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |rep AS (
        |  SELECT doc_id, max(c) AS max_tok FROM (
        |    SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t)
        |  GROUP BY doc_id),
        |base AS (
        |  SELECT d.doc_id,
        |    len(string_split(d.text, ' ')) AS n_toks,
        |    length(d.text) AS n_chars,
        |    len(list_filter(string_split(d.text, ' '),
        |      x -> x IN ('the', 'a', 'of'))) AS n_stop,
        |    r.max_tok
        |  FROM documents d JOIN rep r ON r.doc_id = d.doc_id),
        |m AS (
        |  SELECT n_toks >= 10 AND n_toks <= 5000 AS g1,
        |    (n_chars - (n_toks - 1)) / n_toks AS mean_len,
        |    n_stop / CAST(n_toks AS DOUBLE) AS stop_frac,
        |    max_tok / CAST(n_toks AS DOUBLE) AS rep_frac
        |  FROM base)
        |SELECT count(*) AS n_total,
        |  count(*) FILTER (WHERE g1) AS n_len,
        |  count(*) FILTER (WHERE g1 AND mean_len >= 2 AND mean_len <= 12) AS n_meanlen,
        |  count(*) FILTER (WHERE g1 AND mean_len >= 2 AND mean_len <= 12
        |    AND stop_frac >= 0.02) AS n_stopgate,
        |  count(*) FILTER (WHERE g1 AND mean_len >= 2 AND mean_len <= 12
        |    AND stop_frac >= 0.02 AND rep_frac <= 0.3) AS n_final
        |FROM m""".stripMargin,

    "orders_pareto" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT m,
        |    row_number() OVER (ORDER BY m DESC, o_custkey) AS rank,
        |    sum(m) OVER (ORDER BY m DESC, o_custkey
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(m) OVER () AS tot,
        |    count(*) OVER () AS n
        |  FROM spend)
        |SELECT max(n) AS n_cust,
        |  CAST(sum(CASE WHEN cum * 5 < tot * 4 THEN 1 ELSE 0 END) + 1
        |    AS BIGINT) AS n_cust_80,
        |  round(CAST(sum(CASE WHEN rank <= greatest(1, n // 10) THEN m END) AS DOUBLE)
        |    / CAST(max(tot) AS DOUBLE), 6) AS top_decile_share
        |FROM ranked""".stripMargin,

    "stat_crosstab" ->
      """SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus_o_orderpriority""".stripMargin,

    "typed_dataset_ops" ->
      """WITH mx AS (
        |  SELECT o_custkey, max(o_totalprice) AS mp
        |  FROM orders GROUP BY o_custkey),
        |pick AS (
        |  SELECT o.o_custkey, min(o.o_orderkey) AS top_orderkey, mx.mp AS top_price
        |  FROM orders o JOIN mx ON mx.o_custkey = o.o_custkey
        |    AND o.o_totalprice = mx.mp
        |  GROUP BY o.o_custkey, mx.mp)
        |SELECT c.c_custkey, c.c_name, p.top_orderkey, p.top_price
        |FROM pick p JOIN customer c ON c.c_custkey = p.o_custkey
        |ORDER BY c.c_custkey""".stripMargin,

    "fn_array_setops" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(text, ' ')[1:6] AS a,
        |    string_split(text, ' ')[4:9] AS b
        |  FROM documents)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','), '') AS u,
        |  coalesce(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ','), '') AS i,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS x,
        |  CAST(coalesce(list_position(a, b[1]), 0) AS BIGINT) AS pos1,
        |  CAST(len(list_distinct(a)) AS INTEGER) AS nda
        |FROM t ORDER BY doc_id""".stripMargin,

    "join_left_broadcast" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(c.c_custkey) AS n_matched
        |FROM orders o
        |LEFT JOIN (SELECT c_custkey, c_name FROM customer
        |           WHERE c_custkey % 3 = 0) c
        |  ON o.o_custkey = c.c_custkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "scan_cached" ->
      """WITH a AS (
        |  SELECT n.n_name, count(*) AS n_cust
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name),
        |b AS (
        |  SELECT n.n_name, count(*) AS n_supp
        |  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY n.n_name)
        |SELECT coalesce(a.n_name, b.n_name) AS n_name,
        |  coalesce(a.n_cust, 0) AS n_cust,
        |  coalesce(b.n_supp, 0) AS n_supp
        |FROM a FULL OUTER JOIN b ON a.n_name = b.n_name
        |ORDER BY n_name""".stripMargin,

    "sessionize_native" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN prev_ts IS NULL
        |             OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM x)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start_s,
        |  CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS sess_end_s,
        |  count(*) AS n_events
        |FROM m GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start_s""".stripMargin,

    "sql_pivot" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_n,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderpriority = '1-URGENT'), 0) AS DOUBLE) AS urgent_amt,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low_n,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderpriority = '5-LOW'), 0) AS DOUBLE) AS low_amt
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_multi_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS d_supp,
        |  count(DISTINCT l_partkey) AS d_part,
        |  count(DISTINCT CAST(l_shipdate AS DATE)) AS d_days,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "fn_round_modes" ->
      """WITH v AS (
        |  SELECT o_orderkey,
        |    CAST((o_orderkey % 19) - 9 + (o_orderkey % 4) * CAST(0.25 AS DOUBLE) AS DOUBLE) AS x,
        |    CAST((o_orderkey % 4) * CAST(0.5 AS DOUBLE) - 1 AS DOUBLE) AS h
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT o_orderkey, x, h,
        |  round(x, 1) AS r1_up,
        |  roundbankers(x, 1) AS r1_even,
        |  round(h, 0) AS r0_up,
        |  roundbankers(h, 0) AS r0_even,
        |  CAST(floor(x) AS BIGINT) AS fl,
        |  CAST(ceil(x) AS BIGINT) AS ce
        |FROM v ORDER BY o_orderkey""".stripMargin,

    "orders_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(CAST(o_orderdate AS DATE)),
        |      (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS r_days,
        |    count(*) AS f,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT o_custkey,
        |    ntile(5) OVER (ORDER BY r_days DESC, o_custkey) AS r_score,
        |    ntile(5) OVER (ORDER BY f, o_custkey) AS f_score,
        |    ntile(5) OVER (ORDER BY m, o_custkey) AS m_score
        |  FROM cust)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS segment,
        |  count(*) AS n_cust
        |FROM scored GROUP BY segment ORDER BY segment""".stripMargin,

    "doc_shuffle_shard" ->
      """WITH k AS (
        |  SELECT doc_id, ((doc_id % 1000003) * 2654435761) % 1000003 AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
        |    AS INTEGER) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,

    "events_entropy" ->
      """WITH tc AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type),
        |agg AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    count(*) AS n_types,
        |    sum(round(c * ln(c), 9)) AS clnc
        |  FROM tc GROUP BY user_id)
        |SELECT user_id, n, n_types,
        |  round(ln(n) - clnc / n, 6) AS entropy
        |FROM agg ORDER BY user_id""".stripMargin,

    "sample_weighted" ->
      """WITH keyed AS (
        |  SELECT o_orderkey, o_totalprice,
        |    -ln((((o_orderkey % 1000003) * 2654435761) % 1000003 + 1) / 1000004.0)
        |      / o_totalprice AS key
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |  round(key * 1e6, 6) AS key_ppm
        |FROM keyed ORDER BY key, o_orderkey LIMIT 20""".stripMargin,

    "doc_prefix_dedup" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:10], ' ') AS prefix
        |  FROM documents)
        |SELECT prefix, count(*) AS n_docs, min(doc_id) AS keeper
        |FROM p GROUP BY prefix HAVING count(*) >= 2
        |ORDER BY n_docs DESC, prefix""".stripMargin,

    "events_pmi" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |na AS (SELECT event_type, count(*) AS cnt FROM ut GROUP BY event_type),
        |nu AS (SELECT count(DISTINCT user_id) AS nu FROM ut),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT p.type_a, p.type_b, p.n_ab,
        |  round(ln((p.n_ab * nu.nu) / (x.cnt * y.cnt)), 6) AS pmi
        |FROM p
        |JOIN na x ON x.event_type = p.type_a
        |JOIN na y ON y.event_type = p.type_b
        |CROSS JOIN nu
        |ORDER BY pmi DESC, p.type_a, p.type_b""".stripMargin,

    "text_stopword_prune" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |top AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS n FROM toks GROUP BY tok
        |    ORDER BY n DESC, tok LIMIT 20)),
        |tot AS (SELECT doc_id, count(*) AS n_total FROM toks GROUP BY doc_id),
        |kept AS (
        |  SELECT doc_id, count(*) AS n_kept, count(DISTINCT tok) AS n_kept_distinct
        |  FROM toks WHERE tok NOT IN (SELECT tok FROM top)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, t.n_total,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.n_kept_distinct, 0) AS n_kept_distinct,
        |  round(coalesce(k.n_kept, 0) / t.n_total, 6) AS keep_ratio
        |FROM tot t LEFT JOIN kept k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "ts_outlier_mad" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY event_type, day),
        |med AS (
        |  SELECT event_type, quantile_cont(n, 0.5) AS med
        |  FROM daily GROUP BY event_type),
        |dev AS (
        |  SELECT d.event_type, abs(d.n - m.med) AS adev, m.med
        |  FROM daily d JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n_days,
        |  round(d.med, 6) AS med, round(m.mad, 6) AS mad,
        |  count(*) FILTER (WHERE d.adev > 3 * 1.4826 * m.mad) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type, d.med, m.mad
        |ORDER BY d.event_type""".stripMargin,

    "agg_weighted" ->
      """WITH g AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS wsum_disc,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(CAST(wsum_disc AS DOUBLE) / CAST(w AS DOUBLE), 6) AS wavg_disc,
        |  round(CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE), 6) AS share
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "agg_bitagg" ->
      """SELECT l_returnflag,
        |  CAST(bit_and(l_linenumber) AS INTEGER) AS band,
        |  CAST(bit_or(l_linenumber) AS INTEGER) AS bor,
        |  CAST(bit_xor(l_linenumber) AS INTEGER) AS bxor,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
