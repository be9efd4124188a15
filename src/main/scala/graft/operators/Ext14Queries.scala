package graft.operators

import graft.{Q, Tables}
import graft.api.TextOps.nonEmptyTokens
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 additions: rank/likelihood/permutation/equivalence inference,
  * lexical-diversity text analysis, langid evaluation, hybrid retrieval
  * fusion, SES backtesting, sessionized bounce, minhash estimator QC,
  * and vacuum orphan-sweep observability.
  *
  * Numeric discipline (the cross-engine determinism rules every key here
  * follows):
  * - prefer EXACT integer/decimal accumulation (counts, cent-scaled
  *   decimals, Σc² in decimal(38,0)) and convert to double only in the
  *   final scalar formula — identical exact inputs give identical
  *   doubles on both engines;
  * - where a float sum is unavoidable, round the per-term value to 9dp
  *   and the output to 6dp (the established sum(round(...,9)) pattern);
  * - every rank/argmax tie-breaks on an explicit id/label column.
  *
  * Scale notes per key live on the query; the common theme: group
  * domains are enum-bounded (langs, sources, arms, value domains),
  * permutation replicas explode map-side with combine, and the only
  * unpartitioned window (Kruskal-Wallis rank table) runs over the
  * DISTINCT-VALUE table, whose size is the value domain, not the corpus.
  */
object Ext14Queries {

  val queries: Map[String, Q] = Map(

    // Kruskal-Wallis rank ANOVA of document length across the 20
    // sources. Average ranks come from the distinct-VALUE table
    // (cum-count + (ties+1)/2) — the corpus never sorts; only the
    // bounded value domain does. Tie-corrected H. All rank sums are
    // exact (.5 halves are binary-exact), so H is deterministic.
    "stat_kruskal_wallis" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").as("v"))
      val vc = d.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranks = vc
        .withColumn("cum", sum(col("cnt")).over(wv))
        .select(col("v"),
          (col("cum") - col("cnt") + (col("cnt") + 1) / lit(2.0)).as("avg_rank"))
      val rj = d.join(broadcast(ranks), "v")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nj"), sum(col("avg_rank")).as("rj"))
      val a = rj.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
        sum(pow(col("rj"), 2) / col("nj")).as("srn"))
      val ties = vc.agg(
        sum((col("cnt") * col("cnt") * col("cnt") - col("cnt"))
          .cast("decimal(38,0)")).cast("double").as("tsum"))
      a.crossJoin(broadcast(ties))
        .select(col("n"), col("k"), (col("k") - 1).as("df"),
          round(lit(12.0) / (col("n") * (col("n") + 1)) * col("srn")
            - lit(3) * (col("n") + 1), 6).as("h"),
          round((lit(12.0) / (col("n") * (col("n") + 1)) * col("srn")
            - lit(3) * (col("n") + 1)) /
            (lit(1.0) - col("tsum") / (pow(col("n"), 3) - col("n"))), 6)
            .as("h_tie_corrected"))
    }),

    // G-test (log-likelihood ratio) of independence over the lang ×
    // source contingency — the information-theoretic sibling of
    // stat_chisq_independence. Enum-bounded cells; per-cell terms
    // rounded at 9dp before the sum.
    "stat_gtest" -> ((s, dir) => {
      val o = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
        .localCheckpoint(false) // lazy: first consumer materializes (r16)
      val rt = o.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
      val ct = o.groupBy(col("source")).agg(sum(col("o")).as("ct"))
      val n = o.agg(sum(col("o")).as("n"),
        countDistinct(col("lang")).as("r"), countDistinct(col("source")).as("c"))
      o.join(broadcast(rt), "lang").join(broadcast(ct), "source")
        .crossJoin(broadcast(n))
        .select(col("n"), col("r"), col("c"),
          round(lit(2.0) * col("o") *
            log(col("o").cast("double") * col("n") / (col("rt") * col("ct"))), 9)
            .as("term"))
        .groupBy(col("n"), col("r"), col("c"))
        .agg(round(sum(col("term")), 6).as("g"))
        .select(col("n"), round(col("g"), 6).as("g"),
          ((col("r") - 1) * (col("c") - 1)).as("df"),
          round(col("g") / col("n"), 6).as("g_per_obs"))
    }),

    // Permutation test for the A/B mean-revenue difference: 200
    // hash-derived label permutations (md5(b_orderkey) — deterministic,
    // any engine replays them), statistic T = sumA·nB − sumB·nA in
    // EXACT integer cents (no float compare anywhere). Replicas explode
    // map-side with combine: 200 × |orders| rows, 400 groups.
    "stat_permutation_test" -> ((s, dir) => {
      // the 200-way explode + per-row md5 runs map-side over the scan —
      // fan the 2-column base out first (no-op on a wide table, r16)
      val o = Tables.fanOutIfNarrow(Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          (Tables.dec2(col("o_totalprice")) * 100).cast("long").as("cents")), "k")
      def armA(tag: org.apache.spark.sql.Column) =
        substring(md5(tag), 1, 1) < "8"
      def stat(df: org.apache.spark.sql.DataFrame, grp: Seq[String]) = df
        .groupBy(grp.map(col) :+ col("a"): _*)
        .agg(sum(col("cents")).as("sp"), count(lit(1)).as("cnt"))
        .groupBy(grp.map(col): _*)
        .agg(
          max(when(col("a"), col("sp"))).as("spa"),
          max(when(col("a"), col("cnt"))).as("na"),
          max(when(!col("a"), col("sp"))).as("spb"),
          max(when(!col("a"), col("cnt"))).as("nb"))
        .select((Seq(col("spa"), col("na"), col("spb"), col("nb"),
          (col("spa") * col("nb") - col("spb") * col("na")).as("t")) ++
          grp.map(col)): _*)
      val obs = stat(o.withColumn("a", armA(col("k").cast("string"))), Seq.empty)
        .select(col("t").as("t_obs"),
          round(col("spa").cast("double") / col("na") / 100
            - col("spb").cast("double") / col("nb") / 100, 6).as("obs_mean_diff"))
      val perms = stat(
        o.withColumn("b", explode(sequence(lit(1), lit(200))))
          .withColumn("a", armA(concat(col("b").cast("string"), lit("_"),
            col("k").cast("string")))),
        Seq("b"))
        .select(col("b"), col("t"))
      perms.crossJoin(broadcast(obs))
        .groupBy(col("obs_mean_diff"))
        .agg(count(lit(1)).as("n_perms"),
          sum(when(abs(col("t")) >= abs(col("t_obs")), 1L).otherwise(0L)).as("n_ge"))
        .select(col("n_perms"), col("n_ge"), col("obs_mean_diff"),
          round((col("n_ge") + 1).cast("double") / (col("n_perms") + 1), 6)
            .as("p_value"))
    }),

    // TOST equivalence test on the same hash-split arms: are the two
    // arms' mean revenues equivalent within ±5% of the overall mean?
    // Moments accumulate in exact cents (sum) and decimal(38,0)
    // (sum of squares); doubles only in the final z formulas.
    "stat_tost_equivalence" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(
          (Tables.dec2(col("o_totalprice")) * 100).cast("long").as("c"),
          (substring(md5(col("o_orderkey").cast("string")), 1, 1) < "8").as("a"))
      val m = o.groupBy(col("a"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum((col("c").cast("decimal(19,0)") * col("c")).cast("decimal(38,0)"))
            .as("sq"))
      val w = m.agg(
        max(when(col("a"), col("n"))).as("na"),
        max(when(!col("a"), col("n"))).as("nb"),
        max(when(col("a"), col("sc"))).cast("double").as("sa"),
        max(when(!col("a"), col("sc"))).cast("double").as("sb"),
        max(when(col("a"), col("sq"))).cast("double").as("qa"),
        max(when(!col("a"), col("sq"))).cast("double").as("qb"))
      val ma = col("sa") / col("na") / 100
      val mb = col("sb") / col("nb") / 100
      val va = (col("qa") - col("sa") * col("sa") / col("na")) / (col("na") - 1) / 10000
      val vb = (col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1) / 10000
      val se = sqrt(va / col("na") + vb / col("nb"))
      val delta = (col("sa") + col("sb")) / (col("na") + col("nb")) / 100 * 0.05
      w.select(col("na").as("n_a"), col("nb").as("n_b"),
        round(ma - mb, 6).as("mean_diff"),
        round(se, 6).as("se"),
        round(delta, 6).as("margin"),
        round((ma - mb + delta) / se, 6).as("t_lower"),
        round((delta - (ma - mb)) / se, 6).as("t_upper"),
        (((ma - mb + delta) / se) > 1.645 && ((delta - (ma - mb)) / se) > 1.645)
          .as("equivalent"))
    }),

    // Simpson diversity / effective vocabulary of each language's token
    // distribution: Σp² from EXACT integer moments (Σc, Σc² in
    // decimal) — the concentration sibling of text_entropy's Shannon
    // view. One (lang, token) shuffle with map-side combine.
    "text_simpson_diversity" -> ((s, dir) => {
      val c = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      c.groupBy(col("lang"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum((col("c").cast("decimal(19,0)") * col("c")).cast("decimal(38,0)"))
            .cast("double").as("sc2"))
        .select(col("lang"), col("n_tokens"), col("vocab"),
          round(lit(1.0) - col("sc2") /
            (col("n_tokens").cast("double") * col("n_tokens")), 6).as("simpson"),
          round(col("n_tokens").cast("double") * col("n_tokens") / col("sc2"), 6)
            .as("effective_vocab"))
        .orderBy(col("lang"))
    }),

    // Moving-average type-token ratio (MATTR, window 50 / stride 25):
    // the length-robust lexical-diversity measure plain TTR isn't.
    // Per-doc work is a projection over the token array (distinct
    // counts are exact ints; ONE division per doc); per-lang roll-up
    // averages the 6dp per-doc scores.
    "text_mattr" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          nonEmptyTokens("text").as("t"))
        .filter(size(col("t")) >= 50)
      val perDoc = d
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(0, size(t) - 50, 25)")).as("st"), col("t"))
        .select(col("doc_id"), col("lang"),
          expr("size(array_distinct(slice(t, st + 1, 50)))").as("dt"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(sum(col("dt")).cast("double") / (lit(50.0) * count(lit(1))), 6)
          .as("mattr"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("mattr")), 6).as("avg_mattr"))
        .orderBy(col("lang"))
    })
  )

  val oracle: Map[String, String] = Map(

    "stat_kruskal_wallis" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |vc AS (SELECT v, count(*) AS cnt FROM d GROUP BY v),
        |ranks AS (
        |  SELECT v,
        |    sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - cnt + (cnt + 1) / 2.0 AS avg_rank
        |  FROM vc),
        |rj AS (
        |  SELECT source, count(*) AS nj, sum(avg_rank) AS rj
        |  FROM d JOIN ranks USING (v) GROUP BY source),
        |a AS (SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n,
        |        sum(rj * rj / nj) AS srn FROM rj),
        |ties AS (SELECT CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
        |                 AS DOUBLE) AS tsum FROM vc)
        |SELECT n, CAST(k AS BIGINT) AS k, CAST(k - 1 AS BIGINT) AS df,
        |  round(12.0 / (n * (n + 1.0)) * srn - 3 * (n + 1), 6) AS h,
        |  round((12.0 / (n * (n + 1.0)) * srn - 3 * (n + 1)) /
        |    (1.0 - tsum / (power(n, 3) - n)), 6) AS h_tie_corrected
        |FROM a CROSS JOIN ties""".stripMargin,

    "stat_gtest" ->
      """WITH o AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM o GROUP BY lang),
        |ct AS (SELECT source, sum(o) AS ct FROM o GROUP BY source),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |        count(DISTINCT lang) AS r, count(DISTINCT source) AS c FROM o),
        |terms AS (
        |  SELECT n.n, n.r, n.c,
        |    round(2.0 * o.o * ln(CAST(o.o AS DOUBLE) * n.n / (rt.rt * ct.ct)), 9)
        |      AS term
        |  FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n)
        |SELECT n, round(round(sum(term), 6), 6) AS g,
        |  CAST((r - 1) * (c - 1) AS BIGINT) AS df,
        |  round(round(sum(term), 6) / n, 6) AS g_per_obs
        |FROM terms GROUP BY n, r, c""".stripMargin,

    "stat_permutation_test" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |obs AS (
        |  SELECT
        |    sum(CASE WHEN substr(md5(CAST(k AS VARCHAR)),1,1) < '8' THEN cents END) AS spa,
        |    count(*) FILTER (WHERE substr(md5(CAST(k AS VARCHAR)),1,1) < '8') AS na,
        |    sum(CASE WHEN substr(md5(CAST(k AS VARCHAR)),1,1) >= '8' THEN cents END) AS spb,
        |    count(*) FILTER (WHERE substr(md5(CAST(k AS VARCHAR)),1,1) >= '8') AS nb
        |  FROM o),
        |p AS (
        |  SELECT b.b, substr(md5(CAST(b.b AS VARCHAR) || '_' || CAST(k AS VARCHAR)),1,1) < '8' AS a,
        |    cents
        |  FROM o CROSS JOIN (SELECT unnest(range(1, 201)) AS b) b),
        |pt AS (
        |  SELECT b,
        |    sum(CASE WHEN a THEN cents END) * count(*) FILTER (WHERE NOT a)
        |      - sum(CASE WHEN NOT a THEN cents END) * count(*) FILTER (WHERE a) AS t
        |  FROM p GROUP BY b)
        |SELECT CAST(count(*) AS BIGINT) AS n_perms,
        |  CAST(sum(CASE WHEN abs(t) >= abs(obs.spa * obs.nb - obs.spb * obs.na)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
        |  round(CAST(obs.spa AS DOUBLE) / obs.na / 100
        |    - CAST(obs.spb AS DOUBLE) / obs.nb / 100, 6) AS obs_mean_diff,
        |  round((sum(CASE WHEN abs(t) >= abs(obs.spa * obs.nb - obs.spb * obs.na)
        |    THEN 1 ELSE 0 END) + 1.0) / (count(*) + 1), 6) AS p_value
        |FROM pt CROSS JOIN obs
        |GROUP BY obs.spa, obs.na, obs.spb, obs.nb""".stripMargin,

    "stat_tost_equivalence" ->
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    substr(md5(CAST(o_orderkey AS VARCHAR)),1,1) < '8' AS a
        |  FROM orders),
        |m AS (
        |  SELECT a, count(*) AS n, sum(c) AS sc,
        |    sum(CAST(c AS DECIMAL(19,0)) * c) AS sq
        |  FROM o GROUP BY a),
        |w AS (
        |  SELECT
        |    max(CASE WHEN a THEN n END) AS na, max(CASE WHEN NOT a THEN n END) AS nb,
        |    CAST(max(CASE WHEN a THEN sc END) AS DOUBLE) AS sa,
        |    CAST(max(CASE WHEN NOT a THEN sc END) AS DOUBLE) AS sb,
        |    CAST(max(CASE WHEN a THEN sq END) AS DOUBLE) AS qa,
        |    CAST(max(CASE WHEN NOT a THEN sq END) AS DOUBLE) AS qb
        |  FROM m)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(sa / na / 100 - sb / nb / 100, 6) AS mean_diff,
        |  round(sqrt(((qa - sa * sa / na) / (na - 1) / 10000) / na
        |    + ((qb - sb * sb / nb) / (nb - 1) / 10000) / nb), 6) AS se,
        |  round((sa + sb) / (na + nb) / 100 * 0.05, 6) AS margin,
        |  round((sa / na / 100 - sb / nb / 100 + (sa + sb) / (na + nb) / 100 * 0.05)
        |    / sqrt(((qa - sa * sa / na) / (na - 1) / 10000) / na
        |      + ((qb - sb * sb / nb) / (nb - 1) / 10000) / nb), 6) AS t_lower,
        |  round(((sa + sb) / (na + nb) / 100 * 0.05 - (sa / na / 100 - sb / nb / 100))
        |    / sqrt(((qa - sa * sa / na) / (na - 1) / 10000) / na
        |      + ((qb - sb * sb / nb) / (nb - 1) / 10000) / nb), 6) AS t_upper,
        |  ((sa / na / 100 - sb / nb / 100 + (sa + sb) / (na + nb) / 100 * 0.05)
        |    / sqrt(((qa - sa * sa / na) / (na - 1) / 10000) / na
        |      + ((qb - sb * sb / nb) / (nb - 1) / 10000) / nb) > 1.645
        |   AND ((sa + sb) / (na + nb) / 100 * 0.05 - (sa / na / 100 - sb / nb / 100))
        |    / sqrt(((qa - sa * sa / na) / (na - 1) / 10000) / na
        |      + ((qb - sb * sb / nb) / (nb - 1) / 10000) / nb) > 1.645) AS equivalent
        |FROM w""".stripMargin,

    "text_simpson_diversity" ->
      """WITH tok AS (
        |  SELECT lang, unnest(str_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, count(*) AS c FROM tok WHERE tok <> '' GROUP BY 1, 2),
        |a AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CAST(c AS DECIMAL(19,0)) * c) AS DOUBLE) AS sc2
        |  FROM c GROUP BY lang)
        |SELECT lang, n_tokens, vocab,
        |  round(1.0 - sc2 / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS simpson,
        |  round(CAST(n_tokens AS DOUBLE) * n_tokens / sc2, 6) AS effective_vocab
        |FROM a ORDER BY lang""".stripMargin,

    "text_mattr" ->
      """WITH d AS (
        |  SELECT doc_id, lang, list_filter(str_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |d2 AS (SELECT * FROM d WHERE len(t) >= 50),
        |w AS (
        |  SELECT doc_id, lang,
        |    unnest(generate_series(0, len(t) - 50, 25)) AS st, t
        |  FROM d2),
        |pd AS (
        |  SELECT doc_id, lang,
        |    round(CAST(sum(len(list_distinct(list_slice(t, st + 1, st + 50)))) AS DOUBLE)
        |      / (50.0 * count(*)), 6) AS mattr
        |  FROM w GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(mattr), 6) AS avg_mattr
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin
  )
}
