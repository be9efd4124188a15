package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 fifth batch: weighted median over a bounded value domain,
  * two-sample Poisson rate comparison, the average-neighbor-degree
  * curve, stratified-design effect, Bowker symmetry, the turning-point
  * randomness test, sampled embedding hubness, and user-activity
  * concentration.
  *
  * Numeric discipline matches the earlier round-15 batches: every
  * cumulative window runs over a BOUNDED domain (quantity values 1-50,
  * per-user count values, degree bands, 3×3 contingency cells), never
  * the raw corpus; weighted masses accumulate in exact decimal; one
  * double division per output scalar.
  */
object Ext18Queries {

  val queries: Map[String, Q] = Map(

    // Revenue-weighted median quantity per return flag: the weighted
    // quantile over the BOUNDED quantity domain (1..50) — cum mass
    // window over ≤50 rows per flag, exact decimal-cent masses, lower
    // weighted median (first value whose cum mass reaches half).
    "agg_weighted_median" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .agg(sum((Tables.dec2(col("l_extendedprice")) * 100).cast("long")).as("w"))
      val wq = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = li.groupBy(col("l_returnflag")).agg(sum(col("w")).as("tw"))
      li.withColumn("cw", sum(col("w")).over(wq))
        .join(tot, "l_returnflag")
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("q")).as("wmedian_qty"), max(col("tw")).as("weight_cents"))
        .orderBy(col("l_returnflag"))
    }),

    // Two-sample Poisson rate test per event type: even vs odd epoch
    // days — exact event and day counts, one z formula. Flags types
    // whose arrival rate is not time-homogeneous.
    "stat_poisson_rate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          (expr("unix_micros(ts) DIV 86400000000") % 2 === 0).as("even"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
      val days = ev.select(col("even"), col("day")).distinct()
        .groupBy(col("even")).agg(count(lit(1)).as("d"))
      val d1 = days.filter(col("even")).select(col("d").as("d1"))
      val d2 = days.filter(!col("even")).select(col("d").as("d2"))
      ev.groupBy(col("event_type"))
        .agg(sum(when(col("even"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("even"), 0L).otherwise(1L)).as("c2"))
        .crossJoin(broadcast(d1)).crossJoin(broadcast(d2))
        .select(col("event_type"), col("c1"), col("c2"), col("d1"), col("d2"),
          round((col("c1").cast("double") / col("d1") -
            col("c2").cast("double") / col("d2")) /
            sqrt(col("c1").cast("double") / (col("d1") * col("d1")) +
              col("c2").cast("double") / (col("d2") * col("d2"))), 6).as("z"))
        .orderBy(col("event_type"))
    }),

    // Average neighbor degree per degree band — the assortativity
    // CURVE behind the scalar graph_assortativity: hubs linking to
    // hubs vs leaves. Exact decimal sums over banded degrees.
    "graph_avg_neighbor_degree" -> ((s, dir) => {
      val e = AnalyticsQueries.edges1996(s, dir)
      val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("dv"))
      val dir2 = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val band = (d: org.apache.spark.sql.Column) =>
        when(d <= 2, d).when(d <= 4, 3).when(d <= 8, 5)
          .when(d <= 16, 9).otherwise(17)
      dir2
        .join(deg.select(col("n").as("a"), col("dv").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("dv").as("db")), "b")
        .groupBy(band(col("da")).as("deg_band"))
        .agg(count(lit(1)).as("n_endpoints"),
          round(sum(col("db").cast("decimal(19,0)")).cast("double") /
            count(lit(1)), 6).as("avg_neighbor_degree"))
        .orderBy(col("deg_band"))
    }),

    // Stratified-design effect: Var(proportional stratified) /
    // Var(SRS) for account balance stratified by market segment —
    // below 1 means stratification pays. Exact decimal-cent moments.
    "sample_design_effect" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("h"),
          (Tables.dec2(col("c_acctbal")) * 100).cast("long").as("y"))
      val strat = c.groupBy(col("h"))
        .agg(count(lit(1)).as("nh"), sum(col("y")).as("sy"),
          sum((col("y").cast("decimal(19,0)") * col("y")).cast("decimal(38,0)"))
            .cast("double").as("syy"))
        .select(col("h"), col("nh"), col("sy"), col("syy"),
          ((col("syy") - col("sy").cast("double") * col("sy") / col("nh")) /
            (col("nh") - 1)).as("s2h"))
      val a = strat.agg(sum(col("nh")).as("n"), count(lit(1)).as("k"),
        sum(col("sy")).as("sy"), sum(col("syy")).as("syy"),
        sum(col("nh") * col("s2h")).as("nhs2"))
      a.select(col("n"), col("k"),
          ((col("syy") - col("sy").cast("double") * col("sy") / col("n")) /
            (col("n") - 1)).as("var_srs"),
          (col("nhs2") / col("n")).as("var_strat"))
        .select(col("n"), col("k"),
          round(col("var_srs") / 1e8, 6).as("var_srs_sq_dollars"),
          round(col("var_strat") / 1e8, 6).as("var_strat_sq_dollars"),
          round(col("var_strat") / col("var_srs"), 6).as("deff"))
    }),

    // Bowker symmetry test (the k-level McNemar): order-count level
    // {0, 1, 2+} in 1995-97 vs 1998-2001 — did customers move between
    // activity levels symmetrically? Exact off-diagonal counts; cells
    // with empty symmetric pairs drop out by definition.
    "stat_bowker" -> ((s, dir) => {
      val lvl = (c: org.apache.spark.sql.Column) =>
        when(c === 0, 0).when(c === 1, 1).otherwise(2)
      val per = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L)).as("n1"),
          sum(when(year(col("o_orderdate")) >= 1998, 1L).otherwise(0L)).as("n2"))
        .select(lvl(col("n1")).as("l1"), lvl(col("n2")).as("l2"))
      val cells = per.groupBy(col("l1"), col("l2")).agg(count(lit(1)).as("n"))
      val pairs = cells.filter(col("l1") < col("l2"))
        .select(col("l1"), col("l2"), col("n").as("nij"))
        .join(cells.filter(col("l1") > col("l2"))
          .select(col("l2").as("l1"), col("l1").as("l2"), col("n").as("nji")),
          Seq("l1", "l2"), "full")
        .select(coalesce(col("nij"), lit(0L)).as("nij"),
          coalesce(col("nji"), lit(0L)).as("nji"))
      pairs.agg(count(lit(1)).as("n_pairs"),
        round(sum(when(col("nij") + col("nji") > 0,
          pow(col("nij") - col("nji"), 2) / (col("nij") + col("nji")))
          .otherwise(0.0)), 6).as("bowker_stat"))
    }),

    // Wallis-Moore turning-point test on daily revenue: observed peaks
    // + troughs vs the 2(n-2)/3 expectation under randomness — exact
    // integer counts, one z formula.
    "ts_turning_points" -> ((s, dir) => {
      val dl = Tables.orders(s, dir)
        .groupBy(date_trunc("DAY", col("o_orderdate")).cast("date").as("d"))
        .agg(sum((Tables.dec2(col("o_totalprice")) * 100).cast("long")).as("y"))
      val wd = Window.orderBy(col("d"))
      val t = dl.withColumn("yp", lag(col("y"), 1).over(wd))
        .withColumn("yn", lead(col("y"), 1).over(wd))
        .filter(col("yp").isNotNull && col("yn").isNotNull)
        .agg(count(lit(1)).as("n_interior"),
          sum(when(col("y") > col("yp") && col("y") > col("yn"), 1L)
            .otherwise(0L)).as("peaks"),
          sum(when(col("y") < col("yp") && col("y") < col("yn"), 1L)
            .otherwise(0L)).as("troughs"))
      t.select(col("n_interior"), col("peaks"), col("troughs"),
        round(((col("peaks") + col("troughs")).cast("double") -
          lit(2.0) * col("n_interior") / 3) /
          sqrt((lit(16.0) * (col("n_interior") + 2) - 29) / 90), 6).as("z"))
    }),

    // Sampled hubness profile: within md5-prefix groups (the
    // sim_pair_hist_sampled ladder), each vector's exact top-1
    // neighbor; the distribution of incoming top-1 votes. Heavy hubs
    // predict poor ANN recall — the diagnostic that motivates
    // multi-entry beam search.
    "emb_hubness_sampled" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val n = Tables.rowCountCached(s, s"$dir/embeddings.parquet")
      val prefLen = graft.api.DedupOps.samplePrefixLen(n)
      // the double-cast + md5 prep feeds both equi-join sides from the
      // narrow scan — fan out first (no-op on a wide table, r16)
      val e = graft.api.SimilarityOps.asDouble(
          Tables.fanOutIfNarrow(emb, "vec_id"), "embedding", col("vec_id"))
        .withColumn("grp", substring(md5(col("vec_id").cast("string")), 1, prefLen))
      val pairs = e.select(col("grp"), col("vec_id").as("ia"), col("e").as("ea"))
        .join(e.select(col("grp"), col("vec_id").as("ib"), col("e").as("eb")),
          Seq("grp"))
        .filter(col("ia") =!= col("ib"))
        .select(col("ia"), col("ib"),
          graft.api.SimilarityOps.exactCos(col("ea"), col("eb")).as("cos"))
      val top1 = pairs.withColumn("rn", row_number().over(
          Window.partitionBy(col("ia")).orderBy(desc("cos"), col("ib"))))
        .filter(col("rn") === 1)
      val votes = top1.groupBy(col("ib")).agg(count(lit(1)).as("inv"))
      val withZero = e.select(col("vec_id").as("ib"))
        .join(votes, Seq("ib"), "left")
        .select(coalesce(col("inv"), lit(0L)).as("inv"))
      withZero
        .groupBy(least(col("inv"), lit(3L)).as("in_band"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("in_band"))
    }),

    // User-activity concentration: the event share of the top 1% and
    // top 10% most-active users — exact integer boundary split over
    // the bounded per-user COUNT-value domain (never a global user
    // sort).
    "events_activity_concentration" -> ((s, dir) => {
      val pu = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val grp = pu.groupBy(col("c")).agg(count(lit(1)).as("m"))
      val tot = grp.agg(sum(col("m")).as("u_total"),
        sum(col("c") * col("m")).as("e_total"))
      val wc = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grp.withColumn("cumu", sum(col("m")).over(wc))
        .crossJoin(broadcast(tot))
        .select(col("c"), col("m"), col("cumu"), (col("cumu") - col("m")).as("prevu"),
          col("u_total"), col("e_total"),
          floor(col("u_total") / 100).cast("long").as("k1"),
          floor(col("u_total") / 10).cast("long").as("k10"))
      val taken = (k: org.apache.spark.sql.Column) =>
        when(col("cumu") <= k, col("m") * col("c"))
          .when(col("prevu") < k, (k - col("prevu")) * col("c"))
          .otherwise(0L)
      cum.groupBy(col("u_total"), col("e_total"), col("k1"), col("k10"))
        .agg(sum(taken(col("k1"))).as("e1"), sum(taken(col("k10"))).as("e10"))
        .select(col("u_total"), col("e_total"), col("k1"), col("k10"),
          round(col("e1").cast("double") / col("e_total"), 6).as("share_top1pct"),
          round(col("e10").cast("double") / col("e_total"), 6).as("share_top10pct"))
    })
  )

  val oracle: Map[String, String] = Map(

    "agg_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS tw
        |        FROM li GROUP BY 1),
        |cw AS (
        |  SELECT l_returnflag, q,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        |  FROM li)
        |SELECT l_returnflag, CAST(min(q) AS BIGINT) AS wmedian_qty,
        |  CAST(max(tw) AS BIGINT) AS weight_cents
        |FROM cw JOIN tot USING (l_returnflag)
        |WHERE cw * 2 >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "stat_poisson_rate" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 86400000000) % 2 = 0 AS even
        |  FROM events),
        |days AS (
        |  SELECT even, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT DISTINCT even, day FROM ev) GROUP BY even),
        |c AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN even THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM ev GROUP BY event_type)
        |SELECT event_type, c1, c2,
        |  (SELECT d FROM days WHERE even) AS d1,
        |  (SELECT d FROM days WHERE NOT even) AS d2,
        |  round((CAST(c1 AS DOUBLE) / (SELECT d FROM days WHERE even) -
        |         CAST(c2 AS DOUBLE) / (SELECT d FROM days WHERE NOT even)) /
        |    sqrt(CAST(c1 AS DOUBLE) / ((SELECT d FROM days WHERE even) *
        |           (SELECT d FROM days WHERE even)) +
        |         CAST(c2 AS DOUBLE) / ((SELECT d FROM days WHERE NOT even) *
        |           (SELECT d FROM days WHERE NOT even))), 6) AS z
        |FROM c ORDER BY event_type""".stripMargin,

    "graph_avg_neighbor_degree" ->
      """WITH le AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |              AND l_shipdate < TIMESTAMP '1997-01-01'),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM le a JOIN le b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dv
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY n),
        |dir2 AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |j AS (
        |  SELECT da.dv AS da, db.dv AS db
        |  FROM dir2
        |  JOIN deg da ON da.n = dir2.a
        |  JOIN deg db ON db.n = dir2.b)
        |SELECT CAST(CASE WHEN da <= 2 THEN da WHEN da <= 4 THEN 3
        |  WHEN da <= 8 THEN 5 WHEN da <= 16 THEN 9 ELSE 17 END AS BIGINT)
        |    AS deg_band,
        |  CAST(count(*) AS BIGINT) AS n_endpoints,
        |  round(CAST(sum(CAST(db AS DECIMAL(19,0))) AS DOUBLE) / count(*), 6)
        |    AS avg_neighbor_degree
        |FROM j GROUP BY 1 ORDER BY deg_band""".stripMargin,

    "sample_design_effect" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS h,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM customer),
        |strat AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS nh, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy
        |  FROM c GROUP BY h),
        |s2 AS (
        |  SELECT h, nh, sy, syy,
        |    (syy - CAST(sy AS DOUBLE) * sy / nh) / (nh - 1) AS s2h
        |  FROM strat),
        |a AS (
        |  SELECT CAST(sum(nh) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(sy) AS BIGINT) AS sy, sum(syy) AS syy,
        |    sum(nh * s2h) AS nhs2
        |  FROM s2),
        |v AS (
        |  SELECT n, k,
        |    (syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS var_srs,
        |    nhs2 / n AS var_strat
        |  FROM a)
        |SELECT n, k,
        |  round(var_srs / 1e8, 6) AS var_srs_sq_dollars,
        |  round(var_strat / 1e8, 6) AS var_strat_sq_dollars,
        |  round(var_strat / var_srs, 6) AS deff
        |FROM v""".stripMargin,

    "stat_bowker" ->
      """WITH per AS (
        |  SELECT
        |    CASE WHEN sum(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END) = 0
        |      THEN 0
        |      WHEN sum(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END) = 1
        |      THEN 1 ELSE 2 END AS l1,
        |    CASE WHEN sum(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END) = 0
        |      THEN 0
        |      WHEN sum(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END) = 1
        |      THEN 1 ELSE 2 END AS l2
        |  FROM orders GROUP BY o_custkey),
        |cells AS (SELECT l1, l2, CAST(count(*) AS BIGINT) AS n
        |          FROM per GROUP BY l1, l2),
        |pairs AS (
        |  SELECT coalesce(x.n, 0) AS nij, coalesce(y.n, 0) AS nji
        |  FROM (SELECT * FROM cells WHERE l1 < l2) x
        |  FULL JOIN (SELECT l2 AS l1, l1 AS l2, n FROM cells WHERE l1 > l2) y
        |    USING (l1, l2))
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(sum(CASE WHEN nij + nji > 0
        |    THEN power(nij - nji, 2) * 1.0 / (nij + nji) ELSE 0.0 END), 6)
        |    AS bowker_stat
        |FROM pairs""".stripMargin,

    "ts_turning_points" ->
      """WITH dl AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT y, lag(y) OVER (ORDER BY d) AS yp, lead(y) OVER (ORDER BY d) AS yn
        |  FROM dl),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_interior,
        |    CAST(sum(CASE WHEN y > yp AND y > yn THEN 1 ELSE 0 END) AS BIGINT)
        |      AS peaks,
        |    CAST(sum(CASE WHEN y < yp AND y < yn THEN 1 ELSE 0 END) AS BIGINT)
        |      AS troughs
        |  FROM t WHERE yp IS NOT NULL AND yn IS NOT NULL)
        |SELECT n_interior, peaks, troughs,
        |  round((CAST(peaks + troughs AS DOUBLE) - 2.0 * n_interior / 3) /
        |    sqrt((16.0 * (n_interior + 2) - 29) / 90), 6) AS z
        |FROM a""".stripMargin,

    "emb_hubness_sampled" ->
      """WITH pl AS (
        |  SELECT CASE WHEN count(*) <= 2000 THEN 1
        |              WHEN count(*) <= 32000 THEN 2
        |              WHEN count(*) <= 512000 THEN 3 ELSE 4 END AS p
        |  FROM embeddings),
        |g AS (
        |  SELECT vec_id, embedding,
        |    substr(md5(CAST(vec_id AS VARCHAR)), 1, (SELECT p FROM pl)) AS grp
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), 6)
        |      AS cos
        |  FROM g a JOIN g b ON a.grp = b.grp AND a.vec_id <> b.vec_id),
        |top1 AS (
        |  SELECT ia, ib FROM (
        |    SELECT ia, ib,
        |      row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib) AS rn
        |    FROM pairs) WHERE rn = 1),
        |votes AS (SELECT ib, CAST(count(*) AS BIGINT) AS inv
        |          FROM top1 GROUP BY ib),
        |z AS (
        |  SELECT coalesce(v.inv, 0) AS inv
        |  FROM g LEFT JOIN votes v ON v.ib = g.vec_id)
        |SELECT CAST(least(inv, 3) AS BIGINT) AS in_band,
        |  CAST(count(*) AS BIGINT) AS n_vectors
        |FROM z GROUP BY 1 ORDER BY in_band""".stripMargin,

    "events_activity_concentration" ->
      """WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY user_id),
        |grp AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM pu GROUP BY c),
        |tot AS (SELECT CAST(sum(m) AS BIGINT) AS u_total,
        |  CAST(sum(c * m) AS BIGINT) AS e_total FROM grp),
        |cum AS (
        |  SELECT c, m,
        |    sum(m) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumu,
        |    u_total, e_total,
        |    CAST(floor(u_total / 100) AS BIGINT) AS k1,
        |    CAST(floor(u_total / 10) AS BIGINT) AS k10
        |  FROM grp CROSS JOIN tot),
        |t AS (
        |  SELECT u_total, e_total, k1, k10,
        |    sum(CASE WHEN cumu <= k1 THEN m * c
        |        WHEN cumu - m < k1 THEN (k1 - (cumu - m)) * c ELSE 0 END) AS e1,
        |    sum(CASE WHEN cumu <= k10 THEN m * c
        |        WHEN cumu - m < k10 THEN (k10 - (cumu - m)) * c ELSE 0 END) AS e10
        |  FROM cum GROUP BY u_total, e_total, k1, k10)
        |SELECT u_total, e_total, k1, k10,
        |  round(CAST(e1 AS DOUBLE) / e_total, 6) AS share_top1pct,
        |  round(CAST(e10 AS DOUBLE) / e_total, 6) AS share_top10pct
        |FROM t""".stripMargin
  )
}
