package graft.operators

import graft.{Q, Tables}
import graft.api.TextOps.nonEmptyTokens
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 fourth batch: Cramér–von Mises two-sample comparison, the
  * paired sign test, symbolic (quintile-bigram) entropy of the daily
  * series, degree-distribution Gini, the feature-hashing collision
  * profile, session-duration statistics, pairwise source-vocabulary
  * overlap, and the shingle document-frequency profile.
  *
  * Numeric discipline matches Ext14–Ext16: the CvM statistic keeps an
  * EXACT integer numerator (Σ(cA+cB)·(FA−FB)² expanded over the common
  * denominator) down to one final division; rank/cum windows run over
  * the bounded VALUE domain, never the corpus; entropy terms round at
  * 9dp before their ≤25-row sum.
  */
object Ext17Queries {

  /** 30-min-gap sessionization with per-session bounds — the Ext15
    * spine plus min/max event micros for duration statistics.
    */
  private def sessionBounds(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess", when(col("prev_ts").isNull ||
        col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("sess_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agg = flagged.groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("t0"), max(unix_micros(col("ts"))).as("t1"))
    val openers = flagged.filter(col("new_sess") === 1)
      .select(col("user_id"), col("sess_id"), col("event_type").as("first_type"))
    agg.join(openers, Seq("user_id", "sess_id"))
  }

  val queries: Map[String, Q] = Map(

    // Cramér–von Mises two-sample statistic of doc length across
    // md5-hash-split arms: per distinct VALUE (never per row), exact
    // cumulative counts, and the numerator Σ(cA+cB)·(cumA·nB−cumB·nA)²
    // accumulated in exact decimal — one double division at the end.
    "stat_cvm_twosample" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("n_chars").as("v"),
          when(substring(md5(col("doc_id").cast("string")), 1, 1) < "8", "A")
            .otherwise("B").as("arm"))
      val vc = d.groupBy(col("v")).agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("cb"))
      val tot = vc.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("n_values"))
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = vc
        .withColumn("cuma", sum(col("ca")).over(wv))
        .withColumn("cumb", sum(col("cb")).over(wv))
        .crossJoin(broadcast(tot))
      val num = cum.select(col("na"), col("nb"), col("n_values"),
          ((col("cuma") * col("nb") - col("cumb") * col("na")).as("diff")),
          (col("ca") + col("cb")).as("w"))
        .select(col("na"), col("nb"), col("n_values"),
          ((col("diff").cast("decimal(19,0)") * col("diff")).cast("decimal(38,0)") *
            col("w")).as("term"))
        .groupBy(col("na"), col("nb"), col("n_values"))
        .agg(sum(col("term")).cast("double").as("num"))
      num.select(col("na"), col("nb"), col("n_values"),
        round(col("num") /
          ((col("na") + col("nb")).cast("double") * (col("na") + col("nb")) *
            col("na") * col("nb")), 6).as("cvm_t"))
    }),

    // Paired sign test: per customer, order count 1995-97 vs 1998-2001
    // — exact discordant counts, continuity-corrected normal z.
    "stat_sign_test" -> ((s, dir) => {
      val per = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L)).as("h1"),
          sum(when(year(col("o_orderdate")) >= 1998, 1L).otherwise(0L)).as("h2"))
      per.agg(
        sum(when(col("h2") > col("h1"), 1L).otherwise(0L)).as("b"),
        sum(when(col("h1") > col("h2"), 1L).otherwise(0L)).as("c"),
        sum(when(col("h1") === col("h2"), 1L).otherwise(0L)).as("n_ties"))
        .select(col("b"), col("c"), col("n_ties"),
          round((abs(col("b") - col("c")) - 1).cast("double") /
            sqrt((col("b") + col("c")).cast("double")), 6).as("z"))
    }),

    // Symbolic entropy of the daily-revenue series: quintile symbols
    // (ntile over the calendar-bounded daily frame, ties broken by
    // date), bigram transition distribution, Shannon entropy with
    // 9dp-rounded terms over the ≤25-row alphabet.
    "ts_symbolic_entropy" -> ((s, dir) => {
      val dl = Tables.orders(s, dir)
        .groupBy(date_trunc("DAY", col("o_orderdate")).cast("date").as("d"))
        .agg(sum((Tables.dec2(col("o_totalprice")) * 100).cast("long")).as("y"))
      val q = dl.withColumn("q", ntile(5).over(Window.orderBy(col("y"), col("d"))))
      val bg = q.withColumn("qp", lag(col("q"), 1).over(Window.orderBy(col("d"))))
        .filter(col("qp").isNotNull)
        .groupBy(col("qp"), col("q")).agg(count(lit(1)).as("cnt"))
      val tot = bg.agg(sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"))
      bg.crossJoin(broadcast(tot))
        .select(col("n_bigrams"), col("n_distinct"),
          round((col("cnt").cast("double") / col("n_bigrams")) *
            log(col("cnt").cast("double") / col("n_bigrams")), 9).as("term"))
        .groupBy(col("n_bigrams"), col("n_distinct"))
        .agg(round(-sum(col("term")), 6).as("entropy"))
        .select(col("n_bigrams"), col("n_distinct"), col("entropy"),
          round(col("entropy") / log(lit(25.0)), 6).as("norm_entropy"))
    }),

    // Gini coefficient of the co-purchase degree distribution — the
    // skew signal behind every degree-capped graph variant. Grouped
    // sorted-rank formula over the bounded DEGREE-VALUE domain; exact
    // decimal rank-mass terms; one final division.
    "graph_degree_gini" -> ((s, dir) => {
      val e = AnalyticsQueries.edges1996(s, dir)
      val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("dv"))
      val grp = deg.groupBy(col("dv")).agg(count(lit(1)).as("c"))
      val wv = Window.orderBy(col("dv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = grp.withColumn("cum", sum(col("c")).over(wv))
        .select(col("dv"), col("c"),
          ((col("dv").cast("decimal(19,0)") *
            (col("c") * (col("cum") - col("c")) +
              ((col("c") * (col("c") + 1)) / 2).cast("long")))
            .cast("decimal(38,0)")).as("term"),
          (col("dv").cast("decimal(19,0)") * col("c")).cast("decimal(38,0)").as("mass"))
      ranked.agg(sum(col("c")).as("n_nodes"),
          sum(col("mass")).cast("long").as("sum_degree"),
          sum(col("term")).cast("double").as("rankmass"))
        .select(col("n_nodes"), col("sum_degree"),
          round(lit(2.0) * col("rankmass") /
            (col("n_nodes").cast("double") * col("sum_degree")) -
            (col("n_nodes") + 1).cast("double") / col("n_nodes"), 6).as("gini"))
    }),

    // Feature-hashing collision profile: segment×nation crosses hashed
    // to a 16-bucket md5 alphabet — occupancy, collision count, and row
    // mass per bucket (what a hashing-trick encoder must budget for).
    "feat_hashing_trick" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select(concat(col("c_mktsegment"), lit("|"),
          col("c_nationkey").cast("string")).as("f"))
        .withColumn("bucket", substring(md5(col("f")), 1, 1))
        .groupBy(col("bucket"))
        .agg(countDistinct(col("f")).as("n_feats"), count(lit(1)).as("n_rows"))
        .select(col("bucket"), col("n_feats"), col("n_rows"),
          (col("n_feats") > 1).as("collision"))
        .orderBy(col("bucket"))
    }),

    // Session-duration statistics per opening event type over the
    // 30-min-gap sessions: duration stats computed over MULTI-event
    // sessions (singletons carry zero duration by construction), exact
    // microsecond bounds, interpolated median on integer micros.
    "events_session_duration" -> ((s, dir) => {
      val sess = sessionBounds(s, dir)
      val multi = sess.filter(col("n_events") >= 2)
        .select(col("first_type"), (col("t1") - col("t0")).as("dur"))
      val base = sess.groupBy(col("first_type"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") >= 2, 1L).otherwise(0L)).as("n_multi"))
      val stats = multi.groupBy(col("first_type"))
        .agg(sum(col("dur")).as("sd"),
          expr("percentile(dur, 0.5)").as("p50"), max(col("dur")).as("mx"))
      base.join(stats, Seq("first_type"))
        .select(col("first_type"), col("n_sessions"), col("n_multi"),
          round(col("sd").cast("double") / col("n_multi") / 1000000L, 3).as("mean_s"),
          round(col("p50") / lit(1000000.0), 3).as("p50_s"),
          round(col("mx").cast("double") / 1000000L, 3).as("max_s"))
        .orderBy(col("first_type"))
    }),

    // Pairwise source-vocabulary Jaccard: which ingest sources share a
    // token vocabulary (dedup/contamination risk across feeds). The
    // join fans out per token only to the ≤20 sources containing it —
    // vocabulary-bounded, never doc-pair-bounded. Top-10 pairs.
    "text_source_overlap" -> ((s, dir) => {
      // tokenize+explode over the narrow scan — fan out first (r16)
      val st = Tables.fanOutIfNarrow(Tables.documents(s, dir), "doc_id")
        .select(col("source"), explode(nonEmptyTokens("text")).as("tok")).distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("vocab"))
      val inter = st.as("x").join(st.as("y"),
          col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("source").as("s1"), col("vocab").as("v1")), "s1")
        .join(sizes.select(col("source").as("s2"), col("vocab").as("v2")), "s2")
        .select(col("s1"), col("s2"), col("inter"), col("v1"), col("v2"),
          round(col("inter").cast("double") /
            (col("v1") + col("v2") - col("inter")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("s1"), col("s2"))
        .limit(10)
    }),

    // Shingle document-frequency profile: how much of the 8-token
    // shingle stream is unique vs repeated across docs — the
    // feasibility dial for shingle-based dedup (a mostly-df-1 corpus
    // near-dedups cheaply; heavy high-df mass predicts candidate
    // explosion). Same md5-prefix shingle keys as dedup_soft_weights;
    // explicit integer df bands.
    "dedup_shingle_profile" -> ((s, dir) => {
      val tk = Tables.documents(s, dir)
        .select(col("doc_id"), nonEmptyTokens("text").as("t"))
        .filter(size(col("t")) >= 8)
      val sh = tk.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 7), " +
          "i -> array_join(slice(t, i, 8), ' '))")).as("sh_raw"))
        .select(col("doc_id"),
          substring(md5(col("sh_raw").cast("binary")), 1, 16).as("sh"))
      val df = sh.groupBy(col("sh"))
        .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("df"))
      val banded = df.select(
        when(col("df") === 1, 1).when(col("df") <= 3, 2)
          .when(col("df") <= 7, 3).when(col("df") <= 15, 4).otherwise(5).as("band"),
        col("occ"))
      val tot = banded.agg(sum(col("occ")).as("total_occ"))
      banded.groupBy(col("band"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("occ")).as("n_occ"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_shingles"), col("n_occ"),
          round(col("n_occ").cast("double") / col("total_occ"), 6).as("occ_share"))
        .orderBy(col("band"))
    })
  )

  val oracle: Map[String, String] = Map(

    "stat_cvm_twosample" ->
      """WITH d AS (
        |  SELECT n_chars AS v,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM documents),
        |vc AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY v),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb,
        |  CAST(count(*) AS BIGINT) AS n_values FROM vc),
        |cum AS (
        |  SELECT ca, cb,
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM vc),
        |num AS (
        |  SELECT CAST(sum(CAST(cuma * nb - cumb * na AS DECIMAL(19,0)) *
        |    (cuma * nb - cumb * na) * (ca + cb)) AS DOUBLE) AS num
        |  FROM cum CROSS JOIN tot)
        |SELECT na, nb, n_values,
        |  round(num / (CAST(na + nb AS DOUBLE) * (na + nb) * na * nb), 6) AS cvm_t
        |FROM num CROSS JOIN tot""".stripMargin,

    "stat_sign_test" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(sum(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h2
        |  FROM orders GROUP BY o_custkey)
        |SELECT
        |  CAST(sum(CASE WHEN h2 > h1 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN h1 > h2 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN h1 = h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
        |  round(CAST(abs(sum(CASE WHEN h2 > h1 THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN h1 > h2 THEN 1 ELSE 0 END)) - 1 AS DOUBLE) /
        |    sqrt(CAST(sum(CASE WHEN h2 > h1 THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN h1 > h2 THEN 1 ELSE 0 END) AS DOUBLE)), 6) AS z
        |FROM per""".stripMargin,

    "ts_symbolic_entropy" ->
      """WITH dl AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |q AS (SELECT d, ntile(5) OVER (ORDER BY y, d) AS q FROM dl),
        |bg AS (
        |  SELECT qp, q, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT q, lag(q) OVER (ORDER BY d) AS qp FROM q)
        |  WHERE qp IS NOT NULL GROUP BY qp, q),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(count(*) AS BIGINT) AS n_distinct FROM bg),
        |e AS (
        |  SELECT n_bigrams, n_distinct,
        |    round(-sum(round((CAST(cnt AS DOUBLE) / n_bigrams) *
        |      ln(CAST(cnt AS DOUBLE) / n_bigrams), 9)), 6) AS entropy
        |  FROM bg CROSS JOIN tot GROUP BY n_bigrams, n_distinct)
        |SELECT n_bigrams, n_distinct, entropy,
        |  round(entropy / ln(25.0), 6) AS norm_entropy
        |FROM e""".stripMargin,

    "graph_degree_gini" ->
      """WITH le AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |              AND l_shipdate < TIMESTAMP '1997-01-01'),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM le a JOIN le b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dv
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY n),
        |grp AS (SELECT dv, CAST(count(*) AS BIGINT) AS c FROM deg GROUP BY dv),
        |ranked AS (
        |  SELECT dv, c,
        |    sum(c) OVER (ORDER BY dv ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum
        |  FROM grp),
        |a AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_nodes,
        |    CAST(sum(CAST(dv AS DECIMAL(19,0)) * c) AS BIGINT) AS sum_degree,
        |    CAST(sum(CAST(dv AS DECIMAL(19,0)) *
        |      (c * (cum - c) + (c * (c + 1)) // 2)) AS DOUBLE) AS rankmass
        |  FROM ranked)
        |SELECT n_nodes, sum_degree,
        |  round(2.0 * rankmass / (CAST(n_nodes AS DOUBLE) * sum_degree) -
        |    CAST(n_nodes + 1 AS DOUBLE) / n_nodes, 6) AS gini
        |FROM a""".stripMargin,

    "feat_hashing_trick" ->
      """WITH f AS (
        |  SELECT c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR) AS f
        |  FROM customer),
        |b AS (SELECT substr(md5(f), 1, 1) AS bucket, f FROM f)
        |SELECT bucket, CAST(count(DISTINCT f) AS BIGINT) AS n_feats,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  count(DISTINCT f) > 1 AS collision
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "events_session_duration" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT user_id, event_type, new_sess, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM y),
        |agg AS (
        |  SELECT user_id, sess_id, count(*) AS n_events,
        |    min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |  FROM z GROUP BY user_id, sess_id),
        |op AS (
        |  SELECT user_id, sess_id, event_type AS first_type
        |  FROM z WHERE new_sess = 1),
        |sess AS (
        |  SELECT first_type, n_events, t1 - t0 AS dur
        |  FROM agg JOIN op USING (user_id, sess_id)),
        |base AS (
        |  SELECT first_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |    CAST(sum(CASE WHEN n_events >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi
        |  FROM sess GROUP BY first_type),
        |st AS (
        |  SELECT first_type, CAST(sum(dur) AS BIGINT) AS sd,
        |    quantile_cont(dur, 0.5) AS p50, CAST(max(dur) AS BIGINT) AS mx
        |  FROM sess WHERE n_events >= 2 GROUP BY first_type)
        |SELECT first_type, n_sessions, n_multi,
        |  round(CAST(sd AS DOUBLE) / n_multi / 1000000, 3) AS mean_s,
        |  round(p50 / 1000000.0, 3) AS p50_s,
        |  round(CAST(mx AS DOUBLE) / 1000000, 3) AS max_s
        |FROM base JOIN st USING (first_type) ORDER BY first_type""".stripMargin,

    "text_source_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, tok
        |  FROM (SELECT source, unnest(str_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab
        |          FROM st GROUP BY source),
        |inter AS (
        |  SELECT x.source AS s1, y.source AS s2, CAST(count(*) AS BIGINT) AS inter
        |  FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, inter, a.vocab AS v1, b.vocab AS v2,
        |  round(CAST(inter AS DOUBLE) / (a.vocab + b.vocab - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes a ON a.source = inter.s1
        |JOIN sizes b ON b.source = inter.s2
        |ORDER BY jaccard DESC, s1, s2 LIMIT 10""".stripMargin,

    "dedup_shingle_profile" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 7 + 1),
        |    i -> substr(md5(array_to_string(t[i:i+7], ' ')), 1, 16))) AS sh
        |  FROM tk WHERE len(t) >= 8),
        |df AS (
        |  SELECT sh, CAST(count(*) AS BIGINT) AS occ,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM sh GROUP BY sh),
        |banded AS (
        |  SELECT CASE WHEN df = 1 THEN 1 WHEN df <= 3 THEN 2
        |    WHEN df <= 7 THEN 3 WHEN df <= 15 THEN 4 ELSE 5 END AS band, occ
        |  FROM df),
        |tot AS (SELECT CAST(sum(occ) AS BIGINT) AS total_occ FROM banded)
        |SELECT CAST(band AS INT) AS band, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(occ) AS BIGINT) AS n_occ,
        |  round(CAST(sum(occ) AS DOUBLE) / total_occ, 6) AS occ_share
        |FROM banded CROSS JOIN tot GROUP BY band, total_occ ORDER BY band""".stripMargin
  )
}
