package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Library-facing text-analysis operators for training-data pipelines. */
object TextOps {

  private def toks(textCol: String) = split(col(textCol), " ")

  /** Whitespace tokens with empty tokens dropped — in-row array
    * arithmetic, no explode. This object's own operators split with
    * [[toks]], which keeps empty tokens.
    */
  private[graft] def nonEmptyTokens(textCol: String): Column =
    filter(split(col(textCol), " "), t => t =!= lit(""))

  /** Corpus-wide token frequencies. */
  def tokenFrequencies(documents: DataFrame, textCol: String): DataFrame =
    documents.select(explode(toks(textCol)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Bigram counts (within-document adjacency).
    *
    * Deliberately NOT a `transform(slice(...), (x,i) -> ...)` higher-order
    * function: HOFs evaluate interpreted (no codegen, no subexpression
    * elimination), so the inlined `split` re-runs per element — O(len²)
    * per document, and worse once JIT call-site profiles go megamorphic
    * in a long-lived session. posexplode + lead keeps every operator in
    * codegen; split runs exactly once per document.
    */
  def bigramCounts(documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    documents.select(col(idCol), posexplode(toks(textCol)).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
  }

  /** Per-document quality features: token count, average token length,
    * distinct-token ratio, and a simple pass/fail gate.
    */
  def qualityScores(documents: DataFrame, idCol: String, textCol: String,
      nCharsCol: String, minTokens: Int = 5, minChars: Int = 20): DataFrame =
    documents.withColumn("toks", toks(textCol))
      .select(
        col(idCol),
        size(col("toks")).as("n_tokens"),
        round(col(nCharsCol).cast("double") / size(col("toks")), 6).as("avg_tok_len"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
          .as("distinct_ratio"),
        (size(col("toks")) >= minTokens && col(nCharsCol) >= minChars).as("passes_quality"))

  /** Whitespace vs BPE-style token counts per document. The BPE-ish
    * pattern mirrors GPT-2-style pre-tokenization classes (contraction,
    * letter run, digit run, single other-symbol) — the cheap first-order
    * estimate of LLM token cost, all codegen (regexp_extract_all), no
    * UDF. The pattern sticks to syntax RE2 (DuckDB) and java.util.regex
    * (Spark) interpret identically, so it is oracle-checkable.
    */
  def tokenCounts(documents: DataFrame, idCol: String, textCol: String,
      pattern: String = bpePattern): DataFrame =
    documents.select(col(idCol),
      size(toks(textCol)).as("n_tokens_ws"),
      size(regexp_extract_all(col(textCol), lit(pattern), lit(1))).as("n_tokens_bpe"))

  val bpePattern: String = "('[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])"

  /** Position-weighted integer rolling fingerprint — exact and
    * partial-aggregation-friendly (pure int64 arithmetic).
    */
  def fingerprints(documents: DataFrame, idCol: String, textCol: String): DataFrame =
    documents.select(col(idCol), posexplode(toks(textCol)).as(Seq("pos", "tok")))
      .groupBy(col(idCol))
      .agg(pmod(
        sum(pmod((col("pos") + 1) * lit(131L) + length(col("tok")) * lit(31L) +
          ascii(col("tok")), lit(1000000007L))),
        lit(1000000007L)).as("fingerprint"))

  /** Weighted character-n-gram language scorer. Per language the score is
    * Σ occurrences(ngram) · weight, length-normalized — a continuous
    * frequency profile (n-gram counts via codegen'd length/replace, no
    * UDF, no explode), not a boolean marker check, so distinct documents
    * get distinct scores and the argmax is driven by the text's actual
    * character statistics. Deterministic tiebreak on language code.
    * Returns (`id`, `pred_lang`, `pred_score`).
    *
    * Weights approximate published relative n-gram frequencies of each
    * language (e.g. "th"/"the" dominate English text; "sch"/"ei" German;
    * "ción"/"que" Spanish; pinyin digraphs for romanized Chinese).
    */
  def langId(documents: DataFrame, idCol: String, textCol: String,
      profiles: Seq[(String, Seq[(String, Double)])] = defaultProfiles): DataFrame = {
    val len = greatest(length(col(textCol)), lit(1)).cast("double")
    // occurrences(m) = (len(text) - len(replace(text, m, ''))) / len(m)
    def occ(m: String) =
      (length(col(textCol)) - length(regexp_replace(col(textCol), java.util.regex.Pattern.quote(m), "")))
        .cast("double") / lit(m.length.toDouble)
    val scored = profiles.map { case (lang, grams) =>
      val score = grams.map { case (m, w) => occ(m) * lit(w) }.reduce(_ + _) / len
      struct((lit(0.0) - score).as("neg_score"), lit(lang).as("lang"))
    }
    documents.select(col(idCol),
      sort_array(array(scored: _*)).getItem(0).getField("lang").as("pred_lang"),
      (lit(0.0) - sort_array(array(scored: _*)).getItem(0).getField("neg_score"))
        .as("pred_score"))
  }

  val defaultProfiles: Seq[(String, Seq[(String, Double)])] = Seq(
    "de" -> Seq("sch" -> 2.0, "ich" -> 1.5, "ei" -> 1.2, "ch" -> 1.0, "un" -> 0.8, "der" -> 1.5, "en " -> 1.0),
    "en" -> Seq("th" -> 1.5, "the" -> 2.0, "he" -> 1.0, "ing" -> 1.5, "an" -> 0.7, "er" -> 0.6, "of " -> 1.5),
    "es" -> Seq("ción" -> 2.5, "que" -> 1.5, "de " -> 1.2, "la" -> 1.0, "os" -> 1.0, "ar" -> 0.8, "ñ" -> 2.5),
    "fr" -> Seq("eau" -> 2.0, "eu" -> 1.2, "ou" -> 1.0, "le" -> 1.0, "es " -> 1.0, "é" -> 2.0, "que" -> 1.0),
    "zh" -> Seq("zh" -> 2.5, "xi" -> 2.0, "ng " -> 1.5, "sh" -> 1.0, "uan" -> 1.8, "ao" -> 1.5, "ia" -> 1.0))
}
