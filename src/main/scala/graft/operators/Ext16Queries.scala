package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 third batch: rank/paired-categorical inference (Kendall τ-b,
  * Cochran Q, Friedman), lagged partial correlation (Granger-lite),
  * inter-arrival dispersion, leakage-free target encoding, TF-IDF
  * keyword surfacing, and an LSH banding-parameter design curve.
  *
  * Numeric discipline matches Ext14/Ext15: exact integer/decimal
  * accumulation everywhere possible; doubles only in final scalar
  * formulas written token-identically on both engines; per-term 9dp
  * rounding before any float sum; every rank tie-breaks on an explicit
  * column.
  *
  * Scale: the pair scans here are calendar-bounded (day×day for τ-b) or
  * md5-group-sampled (LSH curve, the sim_pair_hist_sampled ladder —
  * ~n·62 pairs, linear); everything else is keyed shuffles with
  * map-side combine plus enum-bounded roll-ups.
  */
object Ext16Queries {

  /** Per-customer order counts in three calendar bands (1995-96 /
    * 1997-98 / 1999-2001) — the paired-treatment spine for Cochran's Q
    * and Friedman's test.
    */
  private def bands(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(year(col("o_orderdate")) <= 1996, 1L).otherwise(0L)).as("a"),
        sum(when(year(col("o_orderdate")).between(1997, 1998), 1L).otherwise(0L)).as("b"),
        sum(when(year(col("o_orderdate")) >= 1999, 1L).otherwise(0L)).as("c"))

  /** Daily (order count, revenue cents) series — calendar-bounded. */
  private def daily(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.orders(s, dir)
      .groupBy(date_trunc("DAY", col("o_orderdate")).cast("date").as("d"))
      .agg(count(lit(1)).as("x"),
        sum((Tables.dec2(col("o_totalprice")) * 100).cast("long")).as("y"))

  val queries: Map[String, Q] = Map(

    // Kendall τ-b between daily order count and daily revenue: exact
    // integer S over the day-pair scan (days², never rows²), exact tie
    // counts from value grouping, one final division.
    "stat_kendall_tau" -> ((s, dir) => {
      val dl = daily(s, dir)
      val a = dl.select(col("d").as("d1"), col("x").as("x1"), col("y").as("y1"))
      val b = dl.select(col("d").as("d2"), col("x").as("x2"), col("y").as("y2"))
      val sgn = (u: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =>
        when(u > v, 1L).when(u < v, -1L).otherwise(0L)
      val pairs = a.join(b, col("d1") < col("d2"))
        .select((sgn(col("x2"), col("x1")) * sgn(col("y2"), col("y1"))).as("p"))
        .agg(sum(col("p")).as("s_stat"))
      val n = dl.agg(count(lit(1)).as("n_days"))
      val tx = dl.groupBy(col("x")).agg(count(lit(1)).as("t"))
        .agg(sum(((col("t") * (col("t") - 1)) / 2).cast("long")).as("tie_x"))
      val ty = dl.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(sum(((col("t") * (col("t") - 1)) / 2).cast("long")).as("tie_y"))
      pairs.crossJoin(broadcast(n)).crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .select(col("n_days"), col("s_stat"), col("tie_x"), col("tie_y"),
          round(col("s_stat").cast("double") /
            sqrt((col("n_days") * (col("n_days") - 1) / 2 - col("tie_x")).cast("double") *
              (col("n_days") * (col("n_days") - 1) / 2 - col("tie_y")).cast("double")), 6)
            .as("tau_b"))
    }),

    // Cochran's Q over three calendar bands: did the set of customers
    // placing a >= 100k order shift across eras? Exact integer row/
    // column sums; one final division. Blocks with all-0/all-1 rows
    // cancel out of the statistic by construction, so no filter needed.
    "stat_cochran_q" -> ((s, dir) => {
      val per = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(
          max(when(year(col("o_orderdate")) <= 1996 &&
            col("o_totalprice") >= 100000, 1L).otherwise(0L)).as("h1"),
          max(when(year(col("o_orderdate")).between(1997, 1998) &&
            col("o_totalprice") >= 100000, 1L).otherwise(0L)).as("h2"),
          max(when(year(col("o_orderdate")) >= 1999 &&
            col("o_totalprice") >= 100000, 1L).otherwise(0L)).as("h3"))
      per.agg(count(lit(1)).as("n_cust"),
        sum(col("h1")).as("c1"), sum(col("h2")).as("c2"), sum(col("h3")).as("c3"),
        sum((col("h1") + col("h2") + col("h3")) *
          (col("h1") + col("h2") + col("h3"))).as("sr2"),
        sum(col("h1") + col("h2") + col("h3")).as("t"))
        .select(col("n_cust"), col("c1"), col("c2"), col("c3"),
          round(lit(2.0) *
            (lit(3) * (col("c1") * col("c1") + col("c2") * col("c2") +
              col("c3") * col("c3")) - col("t") * col("t")).cast("double") /
            (lit(3) * col("t") - col("sr2")).cast("double"), 6).as("cochran_q"))
    }),

    // Friedman rank test over the same three bands (order counts as the
    // repeated measure): midranks of 3 values via pure indicator
    // arithmetic (quarter-integer-exact in double), tie correction from
    // the per-block partition shape {0, 6, 24}.
    "stat_friedman" -> ((s, dir) => {
      val rk = (v: org.apache.spark.sql.Column,
                o1: org.apache.spark.sql.Column, o2: org.apache.spark.sql.Column) =>
        lit(1.0) + when(o1 < v, 1L).otherwise(0L) + when(o2 < v, 1L).otherwise(0L) +
          lit(0.5) * (when(o1 === v, 1L).otherwise(0L) + when(o2 === v, 1L).otherwise(0L))
      val t3 = when(col("a") === col("b") && col("b") === col("c"), 24L)
        .when(col("a") === col("b") || col("b") === col("c") || col("a") === col("c"), 6L)
        .otherwise(0L)
      val agg = bands(s, dir)
        .select(rk(col("a"), col("b"), col("c")).as("ra"),
          rk(col("b"), col("a"), col("c")).as("rb"),
          rk(col("c"), col("a"), col("b")).as("rc"), t3.as("t3"))
        .agg(count(lit(1)).as("n_blocks"), sum(col("ra")).as("r1"),
          sum(col("rb")).as("r2"), sum(col("rc")).as("r3"), sum(col("t3")).as("st3"))
      agg.select(col("n_blocks"), col("r1"), col("r2"), col("r3"),
        round(((col("r1") * col("r1") + col("r2") * col("r2") +
          col("r3") * col("r3")) / col("n_blocks") - lit(12.0) * col("n_blocks")) /
          (lit(1.0) - col("st3").cast("double") / (lit(24.0) * col("n_blocks"))), 6)
          .as("friedman_stat"))
    }),

    // Granger-lite: partial correlation of today's revenue with
    // yesterday's ORDER COUNT, controlling for yesterday's revenue —
    // exact decimal moments over the calendar-joined daily frame, the
    // three pairwise correlations rounded at 9dp before the partial
    // formula, t-statistic at 6dp.
    "ts_granger_lite" -> ((s, dir) => {
      val dl = daily(s, dir)
      val cur = dl.select(col("d"), col("y"))
      val prev = dl.select(col("d").as("dp"), col("x").as("xl"), col("y").as("yl"))
      val j = cur.join(prev, col("d") === date_add(col("dp"), 1))
      val m = j.agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("yl")).as("syl"), sum(col("xl")).as("sxl"),
        sum((col("y").cast("decimal(19,0)") * col("y")).cast("decimal(38,0)")).cast("double").as("syy"),
        sum((col("yl").cast("decimal(19,0)") * col("yl")).cast("decimal(38,0)")).cast("double").as("sylyl"),
        sum((col("xl").cast("decimal(19,0)") * col("xl")).cast("decimal(38,0)")).cast("double").as("sxlxl"),
        sum((col("y").cast("decimal(19,0)") * col("yl")).cast("decimal(38,0)")).cast("double").as("syyl"),
        sum((col("y").cast("decimal(19,0)") * col("xl")).cast("decimal(38,0)")).cast("double").as("syxl"),
        sum((col("yl").cast("decimal(19,0)") * col("xl")).cast("decimal(38,0)")).cast("double").as("sylxl"))
      val r = (sab: org.apache.spark.sql.Column, sa: org.apache.spark.sql.Column,
               sb: org.apache.spark.sql.Column, saa: org.apache.spark.sql.Column,
               sbb: org.apache.spark.sql.Column) =>
        round((col("n") * sab - sa.cast("double") * sb) /
          sqrt((col("n") * saa - sa.cast("double") * sa) *
            (col("n") * sbb - sb.cast("double") * sb)), 9)
      val withR = m.select(col("n"),
        r(col("syxl"), col("sy"), col("sxl"), col("syy"), col("sxlxl")).as("r_y_xlag"),
        r(col("syyl"), col("sy"), col("syl"), col("syy"), col("sylyl")).as("r_y_ylag"),
        r(col("sylxl"), col("syl"), col("sxl"), col("sylyl"), col("sxlxl")).as("r_ylag_xlag"))
      withR.select(col("n"), col("r_y_xlag"), col("r_y_ylag"), col("r_ylag_xlag"),
        round((col("r_y_xlag") - col("r_y_ylag") * col("r_ylag_xlag")) /
          sqrt((lit(1.0) - col("r_y_ylag") * col("r_y_ylag")) *
            (lit(1.0) - col("r_ylag_xlag") * col("r_ylag_xlag"))), 6).as("partial_r"))
    }),

    // Inter-arrival dispersion per event type: exact microsecond gaps
    // from a (user, type)-keyed lag window, exact integer/decimal
    // moments, CV in one final expression. CV >> 1 flags bursty event
    // streams (bot cohorts, batch replays).
    "events_interarrival_cv" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("gap", unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sx"),
          sum((col("gap").cast("decimal(19,0)") * col("gap")).cast("decimal(38,0)"))
            .cast("double").as("sxx"))
        .select(col("event_type"), col("n_gaps"),
          round(col("sx").cast("double") / col("n_gaps") / 1000000L, 3).as("mean_gap_s"),
          round(sqrt((col("sxx") - col("sx").cast("double") * col("sx") / col("n_gaps")) /
            (col("n_gaps") - 1)) / (col("sx").cast("double") / col("n_gaps")), 6).as("cv"))
        .orderBy(col("event_type"))
    }),

    // Leave-one-out target encoding of mktsegment against the
    // positive-balance target: the two distinct LOO values per segment
    // in closed form (each row's own label removed from its encoding —
    // the leakage-free variant of feat_target_encode), plus the mean
    // LOO over rows, which must equal the raw rate (invariant column).
    "feat_target_encode_loo" -> ((s, dir) => {
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_acctbal") > 0, 1L).otherwise(0L)).as("pos"))
        .select(col("c_mktsegment"), col("n"), col("pos"),
          round((col("pos") - 1).cast("double") / (col("n") - 1), 6).as("loo_pos"),
          round(col("pos").cast("double") / (col("n") - 1), 6).as("loo_neg"),
          round((col("pos") * ((col("pos") - 1).cast("double") / (col("n") - 1)) +
            (col("n") - col("pos")) * (col("pos").cast("double") / (col("n") - 1))) /
            col("n"), 6).as("mean_loo"),
          round(col("pos").cast("double") / col("n"), 6).as("raw_rate"))
        .orderBy(col("c_mktsegment"))
    }),

    // TF-IDF keyword surfacing: top-3 scored tokens per ingest source
    // (smooth idf at 9dp, score at 6dp, rank ties break on the token).
    // One (source, token) shuffle + one vocab-keyed join; the per-source
    // rank window partitions on source.
    "text_tfidf_top" -> ((s, dir) => {
      // both explodes sit directly over the narrow scan — fan out once
      val docs = Tables.fanOutIfNarrow(Tables.documents(s, dir), "doc_id")
      val tf = docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "").distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      val scored = tf.join(df, "tok").crossJoin(broadcast(nd))
        .select(col("source"), col("tok"), col("tf"), col("df"),
          round(col("tf") * round(log((col("nd") + lit(1.0)) / (col("df") + lit(1.0))) +
            lit(1.0), 9), 6).as("score"))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("score").desc, col("tok"))))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("tok"), col("tf"), col("df"), col("score"))
        .orderBy(col("source"), col("rk"))
    }),

    // MinHash-LSH banding design curve: expected detection probability
    // 1-(1-s^r)^b evaluated against the OBSERVED token-set Jaccard
    // distribution of an md5-group-sampled pair scan (the
    // sim_pair_hist_sampled ladder — ~n·62 pairs, linear; zero-overlap
    // pairs land in bucket 0 by group-size arithmetic, not a pair
    // scan). Reports, per (bands × rows-per-band) config at 128 total
    // hashes, the expected candidate volume in the sample and the
    // detect rate among high-J (>= 0.5) and low-J (< 0.3) pairs.
    "dedup_lsh_curve" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val n = Tables.rowCountCached(s, s"$dir/documents.parquet")
      val prefLen = graft.api.DedupOps.samplePrefixLen(n)
      val g = substring(md5(col("doc_id").cast("string")), 1, prefLen)
      // the explode+distinct map side runs over the narrow scan — fan out
      val toks = Tables.fanOutIfNarrow(docs, "doc_id")
        .select(col("doc_id"), g.as("grp"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "").distinct()
      val sizes = toks.groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("ntok"))
      val inter = toks.as("x").join(toks.as("y"),
          col("x.grp") === col("y.grp") && col("x.tok") === col("y.tok") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
        .agg(count(lit(1)).as("inter"))
      val jac = inter
        .join(sizes.select(col("doc_id").as("ia"), col("ntok").as("na")), "ia")
        .join(sizes.select(col("doc_id").as("ib"), col("ntok").as("nb")), "ib")
        .select((col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("j"))
      val joined = jac
        .select(least(floor(col("j") * 10), lit(9.0)).cast("int").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("nj"))
      val totals = sizes.groupBy(col("grp")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) / 2).as("tp"))
        .crossJoin(broadcast(jac.agg(count(lit(1)).as("npairs"))))
      val hist = s.range(10).select(col("id").cast("int").as("bucket"))
        .join(joined, Seq("bucket"), "left")
        .crossJoin(broadcast(totals))
        .select(col("bucket"),
          (coalesce(col("nj"), lit(0L)) +
            when(col("bucket") === 0, col("tp") - col("npairs")).otherwise(0L)).as("np"))
      val cfg = Seq((32, 4), (16, 8), (8, 16)).toDF("bands", "rpb")
      val curve = hist.crossJoin(broadcast(cfg))
        .select(col("bands"), col("rpb"), col("bucket"), col("np"),
          round(lit(1.0) - pow(lit(1.0) -
            pow((col("bucket") + lit(0.5)) / 10, col("rpb")), col("bands")), 9).as("p"))
      curve.groupBy(col("bands"), col("rpb"))
        .agg(round(sum(col("np") * col("p")), 3).as("exp_candidates"),
          round(sum(when(col("bucket") >= 5, col("np") * col("p"))) /
            nullif(sum(when(col("bucket") >= 5, col("np"))), lit(0L)), 6).as("recall_hi"),
          round(sum(when(col("bucket") < 3, col("np") * col("p"))) /
            nullif(sum(when(col("bucket") < 3, col("np"))), lit(0L)), 6).as("fp_lo"))
        .select(col("bands"), col("rpb"), (col("bands") * col("rpb")).as("n_hashes"),
          col("exp_candidates"), col("recall_hi"), col("fp_lo"))
        .orderBy(col("bands").desc)
    })
  )

  val oracle: Map[String, String] = Map(

    "stat_kendall_tau" ->
      """WITH dl AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT sum((CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) *
        |             (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END))
        |    AS s_stat
        |  FROM dl a JOIN dl b ON a.d < b.d),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dl),
        |tx AS (SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS tie_x
        |       FROM (SELECT count(*) AS t FROM dl GROUP BY x)),
        |ty AS (SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS tie_y
        |       FROM (SELECT count(*) AS t FROM dl GROUP BY y))
        |SELECT n_days, CAST(s_stat AS BIGINT) AS s_stat, tie_x, tie_y,
        |  round(CAST(s_stat AS DOUBLE) /
        |    sqrt(CAST(n_days * (n_days - 1) / 2 - tie_x AS DOUBLE) *
        |         CAST(n_days * (n_days - 1) / 2 - tie_y AS DOUBLE)), 6) AS tau_b
        |FROM p, n, tx, ty""".stripMargin,

    "stat_cochran_q" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    max(CASE WHEN year(o_orderdate) <= 1996 AND o_totalprice >= 100000
        |      THEN 1 ELSE 0 END) AS h1,
        |    max(CASE WHEN year(o_orderdate) BETWEEN 1997 AND 1998
        |      AND o_totalprice >= 100000 THEN 1 ELSE 0 END) AS h2,
        |    max(CASE WHEN year(o_orderdate) >= 1999 AND o_totalprice >= 100000
        |      THEN 1 ELSE 0 END) AS h3
        |  FROM orders GROUP BY o_custkey),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(h1) AS BIGINT) AS c1, CAST(sum(h2) AS BIGINT) AS c2,
        |    CAST(sum(h3) AS BIGINT) AS c3,
        |    CAST(sum((h1 + h2 + h3) * (h1 + h2 + h3)) AS BIGINT) AS sr2,
        |    CAST(sum(h1 + h2 + h3) AS BIGINT) AS t
        |  FROM per)
        |SELECT n_cust, c1, c2, c3,
        |  round(2.0 * CAST(3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t AS DOUBLE) /
        |    CAST(3 * t - sr2 AS DOUBLE), 6) AS cochran_q
        |FROM a""".stripMargin,

    "stat_friedman" ->
      """WITH bands AS (
        |  SELECT o_custkey,
        |    CAST(sum(CASE WHEN year(o_orderdate) <= 1996 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN year(o_orderdate) BETWEEN 1997 AND 1998
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN year(o_orderdate) >= 1999 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM orders GROUP BY o_custkey),
        |rk AS (
        |  SELECT
        |    1.0 + (CASE WHEN b < a THEN 1 ELSE 0 END) + (CASE WHEN c < a THEN 1 ELSE 0 END)
        |      + 0.5 * ((CASE WHEN b = a THEN 1 ELSE 0 END) + (CASE WHEN c = a THEN 1 ELSE 0 END)) AS ra,
        |    1.0 + (CASE WHEN a < b THEN 1 ELSE 0 END) + (CASE WHEN c < b THEN 1 ELSE 0 END)
        |      + 0.5 * ((CASE WHEN a = b THEN 1 ELSE 0 END) + (CASE WHEN c = b THEN 1 ELSE 0 END)) AS rb,
        |    1.0 + (CASE WHEN a < c THEN 1 ELSE 0 END) + (CASE WHEN b < c THEN 1 ELSE 0 END)
        |      + 0.5 * ((CASE WHEN a = c THEN 1 ELSE 0 END) + (CASE WHEN b = c THEN 1 ELSE 0 END)) AS rc,
        |    CASE WHEN a = b AND b = c THEN 24
        |         WHEN a = b OR b = c OR a = c THEN 6 ELSE 0 END AS t3
        |  FROM bands),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(ra) AS DOUBLE) AS r1, CAST(sum(rb) AS DOUBLE) AS r2,
        |    CAST(sum(rc) AS DOUBLE) AS r3, CAST(sum(t3) AS BIGINT) AS st3
        |  FROM rk)
        |SELECT n_blocks, r1, r2, r3,
        |  round(((r1 * r1 + r2 * r2 + r3 * r3) / n_blocks - 12.0 * n_blocks) /
        |    (1.0 - CAST(st3 AS DOUBLE) / (24.0 * n_blocks)), 6) AS friedman_stat
        |FROM agg""".stripMargin,

    "ts_granger_lite" ->
      """WITH dl AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT cur.y AS y, prev.y AS yl, prev.x AS xl
        |  FROM dl cur JOIN dl prev ON cur.d = prev.d + 1),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(yl) AS BIGINT) AS syl,
        |    CAST(sum(xl) AS BIGINT) AS sxl,
        |    CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(yl AS DECIMAL(19,0)) * yl) AS DOUBLE) AS sylyl,
        |    CAST(sum(CAST(xl AS DECIMAL(19,0)) * xl) AS DOUBLE) AS sxlxl,
        |    CAST(sum(CAST(y AS DECIMAL(19,0)) * yl) AS DOUBLE) AS syyl,
        |    CAST(sum(CAST(y AS DECIMAL(19,0)) * xl) AS DOUBLE) AS syxl,
        |    CAST(sum(CAST(yl AS DECIMAL(19,0)) * xl) AS DOUBLE) AS sylxl
        |  FROM j),
        |r AS (
        |  SELECT n,
        |    round((n * syxl - CAST(sy AS DOUBLE) * sxl) /
        |      sqrt((n * syy - CAST(sy AS DOUBLE) * sy) *
        |           (n * sxlxl - CAST(sxl AS DOUBLE) * sxl)), 9) AS r_y_xlag,
        |    round((n * syyl - CAST(sy AS DOUBLE) * syl) /
        |      sqrt((n * syy - CAST(sy AS DOUBLE) * sy) *
        |           (n * sylyl - CAST(syl AS DOUBLE) * syl)), 9) AS r_y_ylag,
        |    round((n * sylxl - CAST(syl AS DOUBLE) * sxl) /
        |      sqrt((n * sylyl - CAST(syl AS DOUBLE) * syl) *
        |           (n * sxlxl - CAST(sxl AS DOUBLE) * sxl)), 9) AS r_ylag_xlag
        |  FROM m)
        |SELECT n, r_y_xlag, r_y_ylag, r_ylag_xlag,
        |  round((r_y_xlag - r_y_ylag * r_ylag_xlag) /
        |    sqrt((1.0 - r_y_ylag * r_y_ylag) *
        |         (1.0 - r_ylag_xlag * r_ylag_xlag)), 6) AS partial_r
        |FROM r""".stripMargin,

    "events_interarrival_cv" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap) AS BIGINT) AS sx,
        |    CAST(sum(CAST(gap AS DECIMAL(19,0)) * gap) AS DOUBLE) AS sxx
        |  FROM g WHERE gap IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_gaps,
        |  round(CAST(sx AS DOUBLE) / n_gaps / 1000000, 3) AS mean_gap_s,
        |  round(sqrt((sxx - CAST(sx AS DOUBLE) * sx / n_gaps) / (n_gaps - 1)) /
        |    (CAST(sx AS DOUBLE) / n_gaps), 6) AS cv
        |FROM a ORDER BY event_type""".stripMargin,

    "feat_target_encode_loo" ->
      """WITH seg AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n, pos,
        |  round(CAST(pos - 1 AS DOUBLE) / (n - 1), 6) AS loo_pos,
        |  round(CAST(pos AS DOUBLE) / (n - 1), 6) AS loo_neg,
        |  round((pos * (CAST(pos - 1 AS DOUBLE) / (n - 1)) +
        |    (n - pos) * (CAST(pos AS DOUBLE) / (n - 1))) / n, 6) AS mean_loo,
        |  round(CAST(pos AS DOUBLE) / n, 6) AS raw_rate
        |FROM seg ORDER BY c_mktsegment""".stripMargin,

    "text_tfidf_top" ->
      """WITH tf AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT source, unnest(str_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY source, tok),
        |df AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |scored AS (
        |  SELECT source, tok, tf, df,
        |    round(tf * round(ln((nd + 1.0) / (df + 1.0)) + 1.0, 9), 6) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN nd),
        |rk AS (
        |  SELECT source, tok, tf, df, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, tok) AS rk
        |  FROM scored)
        |SELECT source, CAST(rk AS BIGINT) AS rk, tok, tf, df, score
        |FROM rk WHERE rk <= 3 ORDER BY source, rk""".stripMargin,

    "dedup_lsh_curve" ->
      """WITH pl AS (
        |  SELECT CASE WHEN count(*) <= 2000 THEN 1
        |              WHEN count(*) <= 32000 THEN 2
        |              WHEN count(*) <= 512000 THEN 3 ELSE 4 END AS p
        |  FROM documents),
        |toks AS (
        |  SELECT DISTINCT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, (SELECT p FROM pl)) AS grp,
        |    tok
        |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |sizes AS (
        |  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS ntok
        |  FROM toks GROUP BY doc_id, grp),
        |inter AS (
        |  SELECT x.doc_id AS ia, y.doc_id AS ib, CAST(count(*) AS BIGINT) AS inter
        |  FROM toks x JOIN toks y
        |    ON x.grp = y.grp AND x.tok = y.tok AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT CAST(inter AS DOUBLE) / (na.ntok + nb.ntok - inter) AS j
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = inter.ia
        |  JOIN sizes nb ON nb.doc_id = inter.ib),
        |joined AS (
        |  SELECT CAST(least(floor(j * 10), 9) AS INT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS nj
        |  FROM jac GROUP BY 1),
        |totals AS (
        |  SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS tp,
        |    (SELECT count(*) FROM jac) AS npairs
        |  FROM (SELECT grp, count(*) AS c FROM sizes GROUP BY grp)),
        |hist AS (
        |  SELECT CAST(b.range AS INT) AS bucket,
        |    coalesce(nj, 0) + CASE WHEN b.range = 0
        |      THEN (SELECT tp FROM totals) - (SELECT npairs FROM totals)
        |      ELSE 0 END AS np
        |  FROM range(10) b LEFT JOIN joined ON joined.bucket = b.range),
        |cfg AS (SELECT * FROM (VALUES (32, 4), (16, 8), (8, 16)) AS t(bands, rpb)),
        |curve AS (
        |  SELECT bands, rpb, bucket, np,
        |    round(1.0 - power(1.0 - power((bucket + 0.5) / 10, rpb), bands), 9) AS p
        |  FROM hist CROSS JOIN cfg)
        |SELECT CAST(bands AS INT) AS bands, CAST(rpb AS INT) AS rpb,
        |  CAST(bands * rpb AS INT) AS n_hashes,
        |  round(sum(np * p), 3) AS exp_candidates,
        |  round(sum(CASE WHEN bucket >= 5 THEN np * p END) /
        |    nullif(sum(CASE WHEN bucket >= 5 THEN np END), 0), 6) AS recall_hi,
        |  round(sum(CASE WHEN bucket < 3 THEN np * p END) /
        |    nullif(sum(CASE WHEN bucket < 3 THEN np END), 0), 6) AS fp_lo
        |FROM curve GROUP BY bands, rpb ORDER BY bands DESC""".stripMargin
  )
}
