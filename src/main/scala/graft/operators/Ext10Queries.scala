package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 operator pack, second batch: URL-canonicalization dedup,
  * binary-payload dedup, deterministic reservoir-equivalent sampling,
  * embedding Mahalanobis QC, catalog CTAS with partitioning, and the
  * perplexity quality gate.
  *
  * Scale notes:
  * - dedup_url / mm_payload_dedup: one hash groupBy each (canonical
  *   string / payload md5) with map-side combine — the cheap first rung
  *   of media/web dedup, shuffle linear in rows.
  * - sample_reservoir_hash: per-stratum k-smallest-by-content-hash — a
  *   reservoir-equivalent sample that is reproducible and join-stable
  *   (same rows on every engine/run, unlike an actual reservoir). One
  *   keyed window; at extreme per-stratum cardinality swap the window
  *   rank for the bounded-heap top-k operator (agg_topk_heap machinery).
  * - emb_outlier_mahal: the per-dim moments are |labels|×64 rows
  *   (broadcast back); the distance is one posexplode + grouped sum —
  *   never a covariance matrix, never pairs.
  * - text_perplexity_filter: corpus unigram counts are
  *   vocabulary-bounded (broadcast); the gate is a per-LANG window
  *   (partitioned — not global); at 100 TB swap percent_rank for an
  *   approx_percentile cutoff per language, same schema.
  */
object Ext10Queries {

  private def media(s: org.apache.spark.sql.SparkSession, dir: String) =
    MultimodalQueries.mediaTable(s, dir)

  val queries: Map[String, Q] = Map(

    // retrieval eval 1/3 — Mean Reciprocal Rank: for each query, the
    // rank of the first same-label neighbor in the exact cosine
    // ranking. The metric every retrieval pipeline reports; exact and
    // deterministic here (6dp cosine + id tiebreak), so it is fully
    // oracle-checkable — no sketch grading needed
    "sim_eval_mrr" -> ((s, dir) => {
      val firstRel = AnnQueries.rankedByQuery(s, dir)
        .filter(col("label") === col("q_label"))
        .groupBy(col("q_id"))
        .agg(min(col("rank")).as("first_rel_rank"))
      firstRel.agg(count(lit(1)).as("n_queries"),
        round(avg(lit(1.0) / col("first_rel_rank")), 6).as("mrr"),
        min(col("first_rel_rank")).as("best_rank"),
        max(col("first_rel_rank")).as("worst_rank"))
    }),

    // retrieval eval 2/3 — NDCG@10 with binary same-label relevance:
    // DCG terms round at 9dp before the sum (ulp-stable across
    // engines); IDCG uses min(10, total relevant) ideal hits
    "sim_eval_ndcg" -> ((s, dir) => {
      val rk = AnnQueries.rankedByQuery(s, dir)
      val labelN = AnnQueries.embDouble(s, dir).groupBy(col("label")).agg(count(lit(1)).as("ln"))
      val dcg = rk.filter(col("rank") <= 10)
        .withColumn("gain", when(col("label") === col("q_label"),
          round(lit(1.0) / log2(col("rank") + 1), 9)).otherwise(lit(0.0)))
        .groupBy(col("q_id"), col("q_label"))
        .agg(sum(col("gain")).as("dcg"),
          sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
            .as("n_rel10"))
      dcg.join(broadcast(labelN), col("q_label") === col("label"))
        .withColumn("idcg", expr(
          "aggregate(sequence(1, int(least(10, ln - 1))), 0.0D, " +
            "(acc, i) -> acc + round(1.0D / log2(i + 1), 9))"))
        .select(col("q_id"), col("n_rel10"),
          round(col("dcg"), 6).as("dcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy(col("q_id"))
    }),

    // retrieval eval 3/3 — recall@10 of the 32-dim Matryoshka-truncated
    // ranking against the exact full-dim top-10: both rankings are
    // deterministic closed-form math, so the ANN-style quality metric
    // is itself exactly oracle-checkable (unlike LSH/IVF recall, which
    // is graded through invariant reports)
    "sim_eval_recall_trunc" -> ((s, dir) => {
      val exactTop = AnnQueries.rankedByQuery(s, dir).filter(col("rank") <= 10)
        .select(col("q_id"), col("vec_id"))
      val truncTop = graft.api.SimilarityOps.truncatedTopK(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          queryPred = col("vec_id") < 10, dims = 32, k = 10)
        .select(col("q_id").as("t_qid"), col("neighbor_id"))
      val overlap = exactTop.join(truncTop,
          col("q_id") === col("t_qid") && col("vec_id") === col("neighbor_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
      exactTop.select(col("q_id")).distinct()
        .join(overlap, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n_overlap"), lit(0L)) / 10.0, 6).as("recall10"))
        .orderBy(col("q_id"))
    }),

    // web-dedup rung 0: URL canonicalization. Synthetic per-doc URLs
    // (deterministic from doc_id/source, so both engines build the same
    // ones) carry the classic noise — uppercase WWW hosts, utm tracking
    // queries, fragments — and collapse after lowercasing, dropping the
    // fragment, stripping the tracking query, and stripping "www.".
    // Path ids collide across docs of one source by construction, so
    // canonical groups are real. One groupBy on the canonical string.
    "dedup_url" -> ((s, dir) => {
      val url = concat(lit("https://"),
        when(col("doc_id") % 7 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".example.com/p/"),
        (col("doc_id") % 100).cast("string"),
        when(col("doc_id") % 3 === 0,
          lit("?utm_source=feed&utm_campaign=x")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
      val canon = regexp_replace(
        regexp_replace(
          regexp_replace(lower(url), "#.*$", ""),
          "\\?utm[^#]*", ""),
        "^https://www\\.", "https://")
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), canon.as("canon"))
      val groups = d.groupBy(col("source"), col("canon"))
        .agg(count(lit(1)).as("g"))
      groups.groupBy(col("source"))
        .agg(sum(col("g")).as("n_docs"),
          count(lit(1)).as("n_canonical"),
          sum(when(col("g") >= 2, col("g")).otherwise(0L)).as("n_dup_docs"))
        .orderBy(col("source"))
    }),

    // multimodal dedup rung 0: exact binary-payload dedup by md5 of the
    // bytes (identical bytes ⇒ identical digest on every engine; the
    // oracle hashes the same UTF-8 bytes through md5(text)). Per media
    // format: payload count, distinct payloads, and how many sit in
    // duplicate groups — the removal ledger of an asset-dedup pass.
    "mm_payload_dedup" -> ((s, dir) => {
      val m = media(s, dir)
        .select(col("meta.format").as("format"), md5(col("payload")).as("h"))
      val groups = m.groupBy(col("format"), col("h"))
        .agg(count(lit(1)).as("g"))
      groups.groupBy(col("format"))
        .agg(sum(col("g")).as("n_media"),
          count(lit(1)).as("n_distinct_payload"),
          sum(when(col("g") >= 2, col("g")).otherwise(0L)).as("n_dup_media"))
        .orderBy(col("format"))
    }),

    // deterministic reservoir-equivalent sampling: the k=10 docs with
    // the smallest md5(doc_id) per source — statistically a uniform
    // without-replacement sample per stratum, but reproducible and
    // join-stable (the property an actual reservoir lacks)
    "sample_reservoir_hash" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .orderBy(col("source"), col("rn"))
    }),

    // embedding QC: diagonal-Mahalanobis outliers per label. Per-dim
    // moments from one posexplode aggregate (|labels|×64 rows,
    // broadcast back); d² = Σ (x−μ)²/σ² per vector; χ²₆₄ has mean 64,
    // so d² > 128 flags the far tail. Everything rounds at 6dp before
    // the threshold compare so both engines agree bit-for-bit.
    "emb_outlier_mahal" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("vec_id"), col("label"), col("dim"),
          col("xf").cast("double").as("x"))
      val stats = e.groupBy(col("label"), col("dim"))
        .agg(avg(col("x")).as("mu"), var_samp(col("x")).as("s2"))
      val d2 = e.join(broadcast(stats), Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(round(sum(
          when(col("s2") > 1e-12, pow(col("x") - col("mu"), 2) / col("s2"))
            .otherwise(0.0)), 6).as("d2"))
      d2.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("d2")), 6).as("mean_d2"),
          round(max(col("d2")), 6).as("max_d2"),
          sum(when(col("d2") > 128.0, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("label"))
    }),

    // DSv2 catalog CTAS with PARTITIONED BY: the identity-transform
    // createTable path through SQL — partition-pruned reads proven
    // in-band (a lang filter opens strictly fewer files than the full
    // scan), appended partitions keep the layout
    "lake_catalog_ctas_partitioned" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_rt/catalog_wh2"
      val p = java.nio.file.Paths.get(wh)
      graft.deleteRecursively(p)
      java.nio.file.Files.createDirectories(p)
      s.conf.set("spark.sql.catalog.graft_rt_cat2", "graft.lake.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_rt_cat2.warehouse", wh)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .createOrReplaceTempView("cat_ctas_docs")
      s.sql("""CREATE TABLE graft_rt_cat2.tp PARTITIONED BY (lang)
        AS SELECT * FROM cat_ctas_docs WHERE lang <> 'zh'""")
      s.sql("INSERT INTO graft_rt_cat2.tp SELECT * FROM cat_ctas_docs WHERE lang = 'zh'")
      def opened(df: org.apache.spark.sql.DataFrame): Long =
        df.select(input_file_name()).distinct().count()
      val all = opened(s.table("graft_rt_cat2.tp"))
      val en = s.table("graft_rt_cat2.tp").filter(col("lang") === "en")
      val zh = s.table("graft_rt_cat2.tp").filter(col("lang") === "zh")
      val enPruned = opened(en) < all
      val zhPruned = opened(zh) < all && zh.count() > 0
      s.table("graft_rt_cat2.tp").filter(col("lang") === "en")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(col("lang"), col("n"), col("sum_chars"),
          lit(enPruned).as("partition_pruned"),
          lit(zhPruned).as("appended_partition_pruned"))
    }),

    // ratio-to-report: each order's share of its month's revenue — the
    // windowed twin of agg_ratio_to_parent (keyed window over month
    // partitions, never global); revenue stays DECIMAL through the
    // window sum so the denominator is parallelism-independent
    "win_ratio_to_report" -> ((s, dir) => {
      val w = Window.partitionBy(col("m"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("m"),
          col("o_totalprice"))
        .withColumn("month_total",
          sum(Tables.dec2(col("o_totalprice"))).over(w))
        .select(col("o_orderkey"), col("m"),
          round(col("o_totalprice") / col("month_total").cast("double"), 9)
            .as("pct_of_month"))
        .filter(col("o_orderkey") % 50 === 0)
        .orderBy(col("o_orderkey"))
    }),

    // peak concurrency per day: every event opens a 30-minute session;
    // the classic +1/−1 boundary sweep under a PER-DAY cumulative
    // window (partitioned — the global-sweep formulation would funnel;
    // sessions here never cross midnight by construction of the cap)
    "events_peak_concurrency" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("ts"),
          least(col("ts") + expr("INTERVAL '30' MINUTE"),
            date_trunc("day", col("ts")) + expr("INTERVAL '1' DAY")
              - expr("INTERVAL '1' SECOND")).as("te"))
      val bounds = ev.select(to_date(col("ts")).as("d"), col("ts").as("t"),
          lit(1).as("delta"))
        .unionAll(ev.select(to_date(col("te")).as("d"), col("te").as("t"),
          lit(-1).as("delta")))
      val w = Window.partitionBy(col("d"))
        .orderBy(col("t"), col("delta")) // end before start at ties: -1 first
      bounds.withColumn("conc", sum(col("delta")).over(w))
        .groupBy(col("d"))
        .agg(max(col("conc")).cast("long").as("peak_concurrency"),
          (count(lit(1)) / 2).cast("long").as("n_sessions"))
        .orderBy(col("d"))
    }),

    // edit-distance scalar pack: levenshtein over the bounded
    // source-name pair space (sources × sources — a dimension cross,
    // never facts), with the distance histogram
    "fn_levenshtein" -> ((s, dir) => {
      val src = Tables.documents(s, dir).select(col("source")).distinct()
      src.select(col("source").as("a"))
        .crossJoin(src.select(col("source").as("b")))
        .filter(col("a") < col("b"))
        .select(levenshtein(col("a"), col("b")).as("dist"))
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("dist"))
    }),

    // day-over-day audience overlap: common distinct users for every
    // ordered day pair — per-user day arrays exploded to in-array day
    // pairs (≤ calendar² per user, never a user×user or row×row join)
    "events_day_overlap" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val perUser = ud.groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("d"))).as("days"))
      perUser
        .select(explode(expr(
          "flatten(transform(days, (d1, i) -> " +
            "transform(slice(days, i + 2, size(days)), d2 -> struct(d1, d2))))"))
          .as("p"))
        .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .agg(count(lit(1)).as("n_common_users"))
        .filter(col("n_common_users") >= 5)
        .orderBy(col("d1"), col("d2"))
    }),

    // quality gate: drop each language's worst 10% of documents by
    // average unigram log-probability (the text_unigram_logprob signal
    // turned into a retention decision). lp rounds to 6dp before the
    // rank so both engines order identically; the window partitions by
    // LANG (never global)
    "text_perplexity_filter" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = counts.agg(sum(col("c")).as("total"))
      val lp = tok.join(broadcast(counts), "tok")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"), col("lang"))
        .agg((sum(round(log(col("c").cast("double") / col("total")), 9))
          / count(lit(1))).as("lp0"))
        .select(col("doc_id"), col("lang"), round(col("lp0"), 6).as("lp"))
      val w = Window.partitionBy(col("lang")).orderBy(col("lp"))
      lp.withColumn("pr", percent_rank().over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pr") < 0.1, 1L).otherwise(0L)).as("n_dropped"),
          round(avg(when(col("pr") >= 0.1, col("lp"))), 6).as("avg_kept_lp"))
        .orderBy(col("lang"))
    })
  )

  /** Exact query-vs-corpus ranking as DuckDB CTEs (`rk`): identical
    * 6dp-rounded cosine + id tiebreak as the Spark side.
    */
  private val rankedCte =
    """q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_e
      |      FROM embeddings WHERE vec_id < 10),
      |sc AS (
      |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
      |    round(list_sum(list_transform(range(1, 65),
      |      i -> CAST(q.q_e[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))), 6) AS cos
      |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
      |rk AS (SELECT *, row_number() OVER
      |         (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |       FROM sc)""".stripMargin

  val oracle: Map[String, String] = Map(

    "sim_eval_mrr" ->
      s"""WITH $rankedCte,
        |fr AS (SELECT q_id, min(rank) AS frr FROM rk
        |       WHERE label = q_label GROUP BY q_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  round(avg(1.0 / frr), 6) AS mrr,
        |  CAST(min(frr) AS BIGINT) AS best_rank,
        |  CAST(max(frr) AS BIGINT) AS worst_rank
        |FROM fr""".stripMargin,

    "sim_eval_ndcg" ->
      s"""WITH $rankedCte,
        |ln AS (SELECT label, count(*) AS ln FROM embeddings GROUP BY label),
        |d AS (SELECT q_id, q_label,
        |    sum(CASE WHEN label = q_label
        |      THEN round(1.0 / log2(rank + 1), 9) ELSE 0.0 END) AS dcg,
        |    CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rel10
        |  FROM rk WHERE rank <= 10 GROUP BY q_id, q_label),
        |i AS (SELECT d.q_id,
        |    list_sum(list_transform(
        |      generate_series(1, CAST(least(10, ln.ln - 1) AS INT)),
        |      i -> round(1.0 / log2(i + 1), 9))) AS idcg
        |  FROM d JOIN ln ON d.q_label = ln.label)
        |SELECT d.q_id, d.n_rel10, round(d.dcg, 6) AS dcg,
        |  round(d.dcg / i.idcg, 6) AS ndcg
        |FROM d JOIN i USING (q_id) ORDER BY q_id""".stripMargin,

    "sim_eval_recall_trunc" ->
      s"""WITH $rankedCte,
        |t AS (SELECT vec_id,
        |        list_transform(range(1, 33),
        |          i -> CAST(embedding[i] AS DOUBLE)) AS te
        |      FROM embeddings),
        |tn AS (SELECT vec_id, te,
        |         sqrt(list_sum(list_transform(te, x -> x * x))) AS nrm
        |       FROM t),
        |tv AS (SELECT vec_id, list_transform(te, x -> x / nrm) AS e FROM tn),
        |tq AS (SELECT vec_id AS q_id, e AS q_e FROM tv WHERE vec_id < 10),
        |tsc AS (SELECT tq.q_id, tv.vec_id,
        |    round(list_sum(list_transform(range(1, 33),
        |      i -> tq.q_e[i] * tv.e[i])), 6) AS cos
        |  FROM tq JOIN tv ON tv.vec_id <> tq.q_id),
        |trk AS (SELECT q_id, vec_id, row_number() OVER
        |          (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        |        FROM tsc),
        |ttop AS (SELECT q_id, vec_id FROM trk WHERE rank <= 10),
        |etop AS (SELECT q_id, vec_id FROM rk WHERE rank <= 10),
        |ov AS (SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_overlap
        |       FROM etop e JOIN ttop t
        |         ON e.q_id = t.q_id AND e.vec_id = t.vec_id
        |       GROUP BY e.q_id)
        |SELECT qq.q_id, coalesce(ov.n_overlap, 0) AS n_overlap,
        |  round(coalesce(ov.n_overlap, 0) / 10.0, 6) AS recall10
        |FROM (SELECT DISTINCT q_id FROM etop) qq
        |LEFT JOIN ov USING (q_id) ORDER BY q_id""".stripMargin,

    "win_ratio_to_report" ->
      """WITH t AS (
        |  SELECT o_orderkey, date_trunc('month', o_orderdate)::DATE AS m,
        |    o_totalprice,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      OVER (PARTITION BY date_trunc('month', o_orderdate)) AS month_total
        |  FROM orders)
        |SELECT o_orderkey, m,
        |  round(o_totalprice / CAST(month_total AS DOUBLE), 9) AS pct_of_month
        |FROM t WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin,

    "events_peak_concurrency" ->
      """WITH ev AS (
        |  SELECT ts,
        |    least(ts + INTERVAL 30 MINUTE,
        |      date_trunc('day', ts) + INTERVAL 1 DAY - INTERVAL 1 SECOND) AS te
        |  FROM events),
        |b AS (
        |  SELECT CAST(ts AS DATE) AS d, ts AS t, 1 AS delta FROM ev
        |  UNION ALL
        |  SELECT CAST(te AS DATE) AS d, te AS t, -1 AS delta FROM ev),
        |c AS (
        |  SELECT d, sum(delta) OVER (PARTITION BY d ORDER BY t, delta) AS conc
        |  FROM b)
        |SELECT d, CAST(max(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(count(*) / 2 AS BIGINT) AS n_sessions
        |FROM c GROUP BY d ORDER BY d""".stripMargin,

    "fn_levenshtein" ->
      """WITH s AS (SELECT DISTINCT source FROM documents)
        |SELECT levenshtein(a.source, b.source) AS dist,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM s a JOIN s b ON a.source < b.source
        |GROUP BY 1 ORDER BY dist""".stripMargin,

    "events_day_overlap" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT a.d AS d1, b.d AS d2, CAST(count(*) AS BIGINT) AS n_common_users
        |FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.d < b.d
        |GROUP BY 1, 2
        |HAVING count(*) >= 5
        |ORDER BY d1, d2""".stripMargin,

    "dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |    'https://' ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END ||
        |    source || '.example.com/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(url), '#.*$', ''),
        |        '\?utm[^#]*', ''),
        |      '^https://www\.', 'https://') AS canon
        |  FROM u),
        |g AS (SELECT source, canon, count(*) AS g FROM c GROUP BY 1, 2)
        |SELECT source, CAST(sum(g) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_canonical,
        |  CAST(sum(CASE WHEN g >= 2 THEN g ELSE 0 END) AS BIGINT) AS n_dup_docs
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // md5(text) hashes the same UTF-8 bytes Spark's md5(payload) sees
    "mm_payload_dedup" ->
      """WITH m AS (SELECT lang AS format, md5(text) AS h FROM documents),
        |g AS (SELECT format, h, count(*) AS g FROM m GROUP BY 1, 2)
        |SELECT format, CAST(sum(g) AS BIGINT) AS n_media,
        |  CAST(count(*) AS BIGINT) AS n_distinct_payload,
        |  CAST(sum(CASE WHEN g >= 2 THEN g ELSE 0 END) AS BIGINT) AS n_dup_media
        |FROM g GROUP BY format ORDER BY format""".stripMargin,

    "sample_reservoir_hash" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, doc_id, CAST(rn AS INT) AS rn
        |FROM t WHERE rn <= 10 ORDER BY source, rn""".stripMargin,

    "emb_outlier_mahal" ->
      """WITH idx AS (SELECT CAST(range AS INT) AS i FROM range(1, 65)),
        |x AS (SELECT vec_id, label, i - 1 AS dim,
        |        CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx),
        |st AS (SELECT label, dim, avg(x) AS mu, var_samp(x) AS s2
        |       FROM x GROUP BY label, dim),
        |d AS (SELECT x.vec_id, x.label,
        |        round(sum(CASE WHEN st.s2 > 1e-12
        |          THEN pow(x.x - st.mu, 2) / st.s2 ELSE 0.0 END), 6) AS d2
        |      FROM x JOIN st ON x.label = st.label AND x.dim = st.dim
        |      GROUP BY x.vec_id, x.label)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(d2), 6) AS mean_d2,
        |  round(max(d2), 6) AS max_d2,
        |  CAST(sum(CASE WHEN d2 > 128.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d GROUP BY label ORDER BY label""".stripMargin,

    "lake_catalog_ctas_partitioned" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  true AS partition_pruned,
        |  true AS appended_partition_pruned
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang""".stripMargin,

    "text_perplexity_filter" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t2 AS (SELECT * FROM tok WHERE tok <> ''),
        |c AS (SELECT tok, count(*) AS c FROM t2 GROUP BY tok),
        |tot AS (SELECT sum(c) AS total FROM c),
        |lp AS (
        |  SELECT doc_id, lang,
        |    round(sum(round(ln(c.c / CAST(tot.total AS DOUBLE)), 9))
        |      / count(*), 6) AS lp
        |  FROM t2 JOIN c USING (tok) CROSS JOIN tot
        |  GROUP BY doc_id, lang),
        |r AS (
        |  SELECT lang, lp,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY lp) AS pr
        |  FROM lp)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN pr < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  round(avg(CASE WHEN pr >= 0.1 THEN lp END), 6) AS avg_kept_lp
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin
  )
}
