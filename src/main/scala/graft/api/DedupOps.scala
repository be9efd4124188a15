package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Library-facing deduplication operators over arbitrary frames.
  * The declared contract queries in `graft.operators` are thin adapters
  * over these. Thresholds are rationals (num/den) so candidate filters
  * stay in exact integer arithmetic.
  */
object DedupOps {

  /** Pushdown barrier for threshold predicates. A plain (deterministic)
    * predicate gets pushed into the pair-join condition, where Catalyst
    * prepends it to the cheap id/band conjuncts — the expensive
    * intersect then runs (twice) on every RAW ordered pair instead of
    * once on band survivors. OR-ing an always-false nondeterministic
    * term blocks the push. `rand() > 2` no longer works (Spark 4.1
    * constant-folds rand() range comparisons); a Scala UDF poisons JIT
    * profiles via the shared CatalystTypeConverters path at millions of
    * calls. monotonically_increasing_id() has neither problem: codegen,
    * nondeterministic, and never negative but not folded.
    */
  private[api] def noPush: org.apache.spark.sql.Column =
    monotonically_increasing_id() < lit(0L)

  /** md5-prefix group length for a deterministic intra-group pair
    * sample over an n-row frame: the smallest p with 16^p ≥ n/125, on
    * an exact integer ladder (~125 rows per group, so sampled pairs
    * stay ~n·62 — LINEAR in n). Every md5-group sample uses it;
    * integer thresholds, not a float log, so Spark and any SQL oracle
    * always pick the same p for the same count.
    */
  def samplePrefixLen(n: Long): Int =
    if (n <= 2000L) 1 else if (n <= 32000L) 2 else if (n <= 512000L) 3 else 4

  /** [[nearJaccardPairs]] restricted to intra-md5-group pairs — the
    * 100 TB form of an EXACT pairwise baseline: rows split into
    * hash-derived groups of ~125 (prefix from [[samplePrefixLen]]), and
    * only same-group pairs are scored, so the pair count is ~n·62 and
    * the join is a plain equi-shuffle on the group key (bucket-local
    * scans, never a global BNLJ). The sample is content-hash
    * deterministic — any engine replays it exactly — which keeps the
    * sampled ground truth oracle-checkable while the full exact tier
    * stays quadratic by nature. Output schema matches
    * [[nearJaccardPairs]] (id_a, id_b, jaccard).
    */
  def nearJaccardPairsSampled(documents: DataFrame, idCol: String,
      textCol: String, num: Int, den: Int, prefLen: Int): DataFrame = {
    // tokenize+hash+sort is the heavy map work — spread it over all
    // cores when the source scan is narrow (no-op on a wide table)
    val prepared = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        sort_array(array_distinct(transform(
          array_distinct(split(col(textCol), " ")), t => xxhash64(t)))).as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"),
        substring(md5(col("doc_id").cast("string")), 1, prefLen).as("grp"))
    val a = prepared.select(col("grp"), col("doc_id").as("id_a"),
      col("ids").as("ids_a"), col("n").as("n_a"))
    val b = prepared.select(col("grp"), col("doc_id").as("id_b"),
      col("ids").as("ids_b"), col("n").as("n_b"))
    a.join(b, Seq("grp"))
      .filter(col("id_a") < col("id_b") &&
        col("n_b") * den >= col("n_a") * num && col("n_a") * den >= col("n_b") * num)
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("ids_a"), col("ids_b")))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num || noPush)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** Exact dedup: one surviving row id per distinct key, plus the
    * multiplicity — deterministic (min id wins), unlike dropDuplicates.
    */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** All pairs with token-set Jaccard ≥ num/den. Exact results at any
    * vocabulary size: tokens become 64-bit xxhash64 ids (collision odds
    * ~n²·2⁻⁶⁴ per document — astronomically rare) and the per-pair
    * intersect is a codegen two-pointer merge over sorted long arrays.
    * Size-band blocking (|A|/|B| ∈ [num/den, den/num]) prunes the
    * self-join. At very large corpora run [[minhashCandidates]] first
    * and verify only candidates with this.
    */
  def nearJaccardPairs(documents: DataFrame, idCol: String, textCol: String,
      num: Int = 4, den: Int = 5): DataFrame =
    nearJaccardPairsOnSets(documents.select(col(idCol).as("doc_id"),
      array_distinct(split(col(textCol), " ")).as("ts")), num, den)

  /** [[nearJaccardPairs]] over pre-built element sets (`doc_id`,
    * `ts: array<string>`): whitespace tokens, n-gram shingles from
    * [[shingleSets]], or any other unit of comparison.
    */
  def nearJaccardPairsOnSets(sets: DataFrame, num: Int, den: Int): DataFrame = {
    // Element identity = xxhash64(element): each doc becomes a SORTED
    // LONG array in ONE codegen projection — no vocabulary dictionary,
    // no broadcast (a 100 TB corpus vocabulary exceeds any broadcast
    // limit), no shuffle to prepare. The per-pair merge is primitive
    // getLong + compare, ~100x cheaper per element than UTF8String
    // access on the same sets. array_distinct collapses the ~2⁻⁶⁴
    // in-doc hash collisions so |set| stays exact.
    // fan out BEFORE the hash/sort projection: over a narrow scan the
    // heavy per-doc prep otherwise runs in the scan's (often single)
    // task; the repartition also sets the cached partition count that
    // the BNLJ streamed side inherits below (r16 — previously the fan
    // out happened after the cache, so the prep itself was single-core)
    val prepared = graft.Tables.fanOutIfNarrow(sets, "doc_id")
      .select(col("doc_id"),
        sort_array(array_distinct(transform(col("ts"), t => xxhash64(t)))).as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
      // both self-join sides re-derive this frame; uncached, the whole
      // tokenize/hash lineage re-executes per use. One long array per
      // doc — safe to pin.
      .cache()
    // BNLJ parallelism == streamed-side partition count == prepared's
    // partitioning (>= cores by the fan-out; scan width on a wide table)
    val a = prepared.select(col("doc_id").as("id_a"),
      col("ids").as("ids_a"), col("n").as("n_a"))
    val b = prepared.select(col("doc_id").as("id_b"), col("ids").as("ids_b"),
      col("n").as("n_b"))
    a.join(b, col("id_a") < col("id_b") &&
        col("n_b") * den >= col("n_a") * num && col("n_a") * den >= col("n_b") * num)
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("ids_a"), col("ids_b")))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num || noPush)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** Near-dup pairs BETWEEN two frames — the incremental-crawl shape:
    * a new batch is scored against the existing corpus and only
    * new×corpus pairs are produced, never corpus×corpus (which at 100 TB
    * is the difference between a nightly job and re-deduping the world).
    * Same hashed-sorted-set + size-band machinery as
    * [[nearJaccardPairsOnSets]]; the probe (new) side streams against
    * the corpus side, so candidate volume is O(|new| · band density).
    */
  def nearJaccardPairsAcross(newSets: DataFrame, corpusSets: DataFrame,
      num: Int, den: Int): DataFrame = {
    // fan-out before the heavy projection on BOTH sides (see
    // nearJaccardPairsOnSets); no-op when the source scan is wide
    def prep(df: DataFrame) = graft.Tables.fanOutIfNarrow(df, "doc_id")
      .select(col("doc_id"),
        sort_array(array_distinct(transform(col("ts"), t => xxhash64(t)))).as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
    val a = prep(newSets).select(col("doc_id").as("id_new"),
      col("ids").as("ids_a"), col("n").as("n_a"))
    val b = prep(corpusSets).select(col("doc_id").as("id_corpus"),
      col("ids").as("ids_b"), col("n").as("n_b"))
    a.join(b, col("n_b") * den >= col("n_a") * num &&
        col("n_a") * den >= col("n_b") * num)
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("ids_a"), col("ids_b")))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num || noPush)
      .select(col("id_new"), col("id_corpus"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** All pairs where the SMALLER token set is ≥ num/den contained in the
    * other: containment C(A,B) = |A∩B| / min(|A|,|B|). Catches the
    * quote/subset relationships Jaccard structurally misses — a 50-token
    * doc fully embedded in a 5000-token doc has C = 1.0 but J ≈ 0.01, so
    * no Jaccard threshold short of ~0 finds it — which is exactly the
    * boilerplate/quotation family a training-data pipeline must dedup.
    *
    * No size band applies (containment is size-asymmetric BY DESIGN),
    * so this exact tier is a full ordered-pair scan — the small-scale
    * baseline, like nearJaccardPairs' exact tier. The 100 TB path is the
    * same one the Jaccard family uses: LSH-bucket the candidate pairs
    * first (minhash collisions are likely at high containment too, since
    * P[minhash match] = J ≥ C·min/max), then verify only candidates with
    * this predicate; same hashed-sorted-set + codegen-intersect per-pair
    * cost either way.
    */
  def containmentPairs(documents: DataFrame, idCol: String, textCol: String,
      num: Int = 9, den: Int = 10): DataFrame = {
    // fan-out before the heavy projection (see nearJaccardPairsOnSets)
    val prepared = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        sort_array(array_distinct(transform(
          array_distinct(split(col(textCol), " ")), t => xxhash64(t)))).as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
      .cache()
    val a = prepared.select(col("doc_id").as("id_a"),
      col("ids").as("ids_a"), col("n").as("n_a"))
    val b = prepared.select(col("doc_id").as("id_b"), col("ids").as("ids_b"),
      col("n").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("ids_a"), col("ids_b")))
      .withColumn("m", least(col("n_a"), col("n_b")))
      .filter(col("inter") * den >= col("m") * num || noPush)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("m"), 6).as("containment"))
  }

  /** [[containmentPairs]] at scale: prefix-filtered candidate generation
    * (the ppjoin/SSJoin discipline) followed by exact verification —
    * never a full pairwise scan, and UNLIKE minhash banding the recall
    * is provably 1, so the output is bit-identical to the exact tier.
    *
    * Completeness argument: order every token by ascending global
    * document frequency (rarest first; ties broken by the token string,
    * so the order is deterministic on every engine). If the smaller set
    * A has containment |A∩B|/|A| ≥ num/den in some B, then
    * |A\B| ≤ (1−num/den)·|A| < floor((den−num)·|A|/den) + 1, so among
    * A's first floor((den−num)·|A|/den)+1 tokens in that global order —
    * its PREFIX — at least one is in B. Candidates are therefore the
    * pairs sharing (prefix token of either doc) × (any token of the
    * other): a token-equality join between the prefix stream
    * (~(1−t)·corpus tokens, skewed toward RARE tokens by construction,
    * so posting lists are short) and the full inverted index — shuffle
    * volume linear in (doc, token) rows, candidate volume governed by
    * rare-token co-occurrence, not n². The verify step is the same
    * hashed-sorted-set codegen intersect as the exact tier.
    *
    * Measured caveat: candidate volume is lower-bounded by the TRUE
    * qualifying-pair count, and the synthetic test corpus is
    * pathologically duplicate-heavy (56% of ALL ordered pairs pass
    * C ≥ 0.9 at sf0.1), so here the candidates stay quadratic and the
    * brute-force exact tier is faster (1.5 s vs 17 s at 5k docs). The
    * filter's regime is the real one — web-scale corpora with dup rates
    * well under 1%, where candidates are ~linear while the exact tier's
    * n² scan is a non-starter. Both tiers are declared so the crossover
    * is a measured, documented choice.
    */
  def containmentPairsFiltered(documents: DataFrame, idCol: String,
      textCol: String, num: Int = 9, den: Int = 10): DataFrame = {
    val toks = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .cache()
    // global document frequency — the prefix order. Computed with one
    // hash aggregate over the (doc, token) stream; at 100 TB this is the
    // same pass the inverted index build already pays.
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
    val ranked = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // candidate join runs on 64-bit token hashes, not strings (narrow
    // shuffle; a hash collision only ADDS a candidate — recall intact),
    // and only in the orientation that matters: the completeness proof
    // needs prefix(smaller) ∩ tokens(other), so the prefix side probes
    // only docs at least its own size (n_b >= n_a) — half the candidate
    // stream of the naive both-ways join.
    val prefix = ranked
      .filter(col("rn") <= floor(col("nt") * (den - num) / den) + 1)
      .select(col("doc_id").as("id_a"), xxhash64(col("tok")).as("h"),
        col("nt").as("n_a"))
    val index = ranked
      .select(col("doc_id").as("id_b"), xxhash64(col("tok")).as("h"),
        col("nt").as("n_b"))
    val cand = prefix.join(index, Seq("h"))
      .filter(col("id_a") =!= col("id_b") && col("n_b") >= col("n_a"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    // the verify step attaches each pair's hashed-token arrays: with
    // the doc frame BROADCAST both attach joins are map-side, so the
    // (large) candidate-pair stream never shuffles again — measured
    // 16 s → ~7 s at sf0.1. Valid while one corpus's arrays fit the
    // broadcast budget; past that drop the hints and the same plan
    // runs as shuffle joins (the candidate stream is linear either way).
    val docs = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        sort_array(array_distinct(transform(
          array_distinct(split(col(textCol), " ")), t => xxhash64(t)))).as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
      .cache()
    cand
      .join(broadcast(docs.select(col("doc_id").as("id_a"),
        col("ids").as("ids_a"), col("n").as("n_a"))), "id_a")
      .join(broadcast(docs.select(col("doc_id").as("id_b"),
        col("ids").as("ids_b"), col("n").as("n_b"))), "id_b")
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("ids_a"), col("ids_b")))
      .withColumn("m", least(col("n_a"), col("n_b")))
      .filter(col("inter") * den >= col("m") * num || noPush)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("m"), 6).as("containment"))
  }

  /** [[containmentPairsFiltered]] restricted to intra-md5-group pairs —
    * the BOUNDED declared form for dup-heavy corpora. The ppjoin plan is
    * unchanged (rarest-token prefixes against the inverted index, exact
    * verify on candidates), but the candidate equi-join carries the
    * md5-prefix group key alongside the token hash, so candidate volume
    * — which on a corpus where most pairs genuinely qualify is
    * lower-bounded by the quadratic answer — is capped at intra-group
    * pairs (~n·62 with [[samplePrefixLen]] groups of ~125). Recall
    * within the sample is still provably 1 (the prefix-completeness
    * argument is per-pair, independent of which pairs are admitted), so
    * the output is bit-identical to the exact tier restricted to the
    * same groups — an exactly oracle-checkable, LINEAR artifact. The
    * unrestricted pair list stays available via
    * [[containmentPairsFiltered]].
    */
  def containmentPairsFilteredSampled(documents: DataFrame, idCol: String,
      textCol: String, num: Int = 9, den: Int = 10,
      prefLen: Int): DataFrame = {
    val grpOf = substring(md5(col("doc_id").cast("string")), 1, prefLen)
    val toks = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .cache()
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
    val ranked = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // candidate join on (token hash, md5 group): both docs of a sampled
    // pair share the group by construction, so adding grp to the join
    // key drops every cross-group candidate BEFORE the shuffle — the
    // stream is intra-group-bounded, not just threshold-bounded
    val prefix = ranked
      .filter(col("rn") <= floor(col("nt") * (den - num) / den) + 1)
      .select(col("doc_id").as("id_a"), xxhash64(col("tok")).as("h"),
        col("nt").as("n_a"), grpOf.as("grp"))
    val index = ranked
      .select(col("doc_id").as("id_b"), xxhash64(col("tok")).as("h"),
        col("nt").as("n_b"), grpOf.as("grp"))
    val cand = prefix.join(index, Seq("h", "grp"))
      .filter(col("id_a") =!= col("id_b") && col("n_b") >= col("n_a"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    val docs = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        sort_array(array_distinct(transform(
          array_distinct(split(col(textCol), " ")), t => xxhash64(t)))).as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).as("n"))
      .cache()
    cand
      .join(broadcast(docs.select(col("doc_id").as("id_a"),
        col("ids").as("ids_a"), col("n").as("n_a"))), "id_a")
      .join(broadcast(docs.select(col("doc_id").as("id_b"),
        col("ids").as("ids_b"), col("n").as("n_b"))), "id_b")
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("ids_a"), col("ids_b")))
      .withColumn("m", least(col("n_a"), col("n_b")))
      .filter(col("inter") * den >= col("m") * num || noPush)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("m"), 6).as("containment"))
  }

  /** Distinct word n-gram (shingle) sets per document: (`doc_id`,
    * `ts: array<string>`). Documents with fewer than `n` tokens produce
    * no row (they have no shingles). Built with posexplode + lead
    * windows — every operator codegen, split once per document (see
    * TextOps.bigramCounts for why not a transform lambda).
    */
  def shingleSets(documents: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 2, "shingles need n >= 2 (n=1 is nearJaccardPairs on tokens)")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // split+posexplode is the heavy map side of the window shuffle —
    // spread it when the scan is narrow (no-op on a wide table)
    val toks = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val withNext = (1 until n).foldLeft(toks) { (df, i) =>
      df.withColumn(s"tok_$i", lead(col("tok"), i).over(w))
    }
    val parts = col("tok") +: (1 until n).map(i => col(s"tok_$i"))
    withNext.filter(parts.map(_.isNotNull).reduce(_ && _))
      .select(col("doc_id"), concat_ws(" ", parts: _*).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(array_distinct(sort_array(collect_list(col("shingle")))).as("ts"))
  }

  /** Exact substring-run duplicate pairs: documents sharing at least
    * one run of `n` consecutive tokens, with the count of distinct
    * shared runs — the "long exact substring" dedup signal, as a
    * grouped equality join. Each doc emits its distinct n-token runs
    * (posexplode + lead windows, all codegen); pairs form INSIDE gram
    * groups, never via a pairwise doc scan, so shuffle volume is the
    * distinct (doc, gram) stream — linear in corpus size. At 100 TB:
    * hash grams to 64-bit ids (xxhash64) to cut shuffle bytes (kept as
    * strings here for engine-exact oracle parity), and set `gramCap` to
    * skip boilerplate grams shared by more than cap docs (a gram group
    * of m docs is m²/2 pairs — same degenerate-bucket physics as
    * [[minhashCandidates]]'s bucketCap).
    */
  def substringPairs(documents: DataFrame, idCol: String, textCol: String,
      n: Int = 8, gramCap: Int = 0): DataFrame = {
    require(n >= 2, "substring runs need n >= 2")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // see shingleSets: spread the split+posexplode map work
    val toks = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val withNext = (1 until n).foldLeft(toks) { (df, i) =>
      df.withColumn(s"tok_$i", lead(col("tok"), i).over(w))
    }
    val parts = col("tok") +: (1 until n).map(i => col(s"tok_$i"))
    // lead(n-1) null ⇒ all shorter leads past-end too: one filter suffices
    val grams0 = withNext.filter(parts.last.isNotNull)
      .select(col("doc_id"), concat_ws(" ", parts: _*).as("gram"))
      .distinct()
    val grams = if (gramCap > 0) {
      val wG = Window.partitionBy(col("gram"))
      grams0.withColumn("g_n", count(lit(1)).over(wG))
        .filter(col("g_n") <= gramCap).drop("g_n")
    } else grams0
    grams.select(col("doc_id").as("id_a"), col("gram"))
      .join(grams.select(col("doc_id").as("id_b"), col("gram").as("gram_b")),
        col("gram") === col("gram_b") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** MinHash/LSH near-duplicate candidate pairs (no pairwise scan):
    * `numHashes` signatures in `bands` bands; docs sharing any band
    * bucket are candidates. `bucketCap` skips degenerate mega-buckets
    * (m docs in a bucket = m²/2 pairs). Engine-specific hashes — verify
    * candidates with [[nearJaccardPairs]] for exact results.
    */
  def minhashCandidates(documents: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, bucketCap: Int = 50): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // one fused codegen pass per document (hash every token once, all
    // permutation minima in place) — see graft.functions.MinHashSignature
    // for why this beats transform/array_min column composition
    // spread the per-doc MinHash pass when the scan is narrow (no-op on
    // a wide table — see Tables.fanOutIfNarrow)
    val withSig = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        graft.functions.MinHashSignature.signature(
          array_distinct(split(col(textCol), " ")), numHashes).as("sig"))
    val banded = (0 until bands).map { band =>
      withSig.select(col("doc_id"), lit(band).as("band"),
        concat_ws("_", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), band * rowsPerBand + r + 1)): _*).as("bucket"))
    }.reduce(_.unionAll(_))
    SimilarityOps.bucketMates(SimilarityOps.capBuckets(banded, bucketCap), "doc_id")
  }

  /** The production near-dup path at scale: LSH candidate generation
    * (no pairwise scan) followed by exact Jaccard verification on the
    * candidates only. Work is O(candidates), not O(docs²) — the
    * composition SCALE.md prescribes for 100 TB corpora. Recall equals
    * the LSH recall (tunable via numHashes/bands); precision is exact.
    */
  def nearDupPipeline(documents: DataFrame, idCol: String, textCol: String,
      num: Int = 4, den: Int = 5,
      numHashes: Int = 16, bands: Int = 4, bucketCap: Int = 50): DataFrame = {
    val candidates = minhashCandidates(documents, idCol, textCol, numHashes, bands, bucketCap)
    // same xxhash64 token ids as nearJaccardPairsOnSets (no dictionary,
    // no shuffle); cached because BOTH candidate-join sides consume it —
    // uncached, the tokenize/hash lineage re-executes per side.
    val docs = graft.Tables.fanOutIfNarrow(documents, idCol)
      .select(col(idCol).as("doc_id"),
        sort_array(array_distinct(
          transform(split(col(textCol), " "), t => xxhash64(t)))).as("ts"))
      .withColumn("n", size(col("ts")))
      .cache()
    candidates
      .join(docs.select(col("doc_id").as("id_a"), col("ts").as("ts_a"), col("n").as("n_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("ts").as("ts_b"), col("n").as("n_b")), "id_b")
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("ts_a"), col("ts_b")).cast("int"))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** Sign-aggregated SimHash signature per document (`doc_id`,
    * `simhash: bigint`), `bits` ∈ {32, 64}. The per-bit ±1 sums are
    * folded into bits/4 packed accumulators (four 16-bit set-bit counters
    * per long) plus one token count — sign(sum) == (2·count_set > n).
    * Shrinks the HashAggregate from `bits` update expressions to bits/4+1
    * (a quarter of the generated code) and bounds the buffer. 16-bit
    * counters assume < 65536 DISTINCT tokens per document — beyond that,
    * widen to 32-bit fields. Signature WIDTH is the scale knob: each
    * band's bucket space is 2^(bits/4), so 32-bit banding is linear to
    * roughly 25k docs and 64-bit to ~100M (occupancy per bucket is what
    * drives candidate growth — see simhashPairs).
    */
  def simhashSignatures(documents: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, "bits must be 32 or 64")
    val groups = bits / 4
    def bitExpr(i: Int) = s"pmod(h DIV ${1L << (i % 20)} + h * ${2 * i + 1}, 2)"
    val packedCols = (0 until groups).map { g =>
      expr((0 until 4).map(j => s"shiftleft(${bitExpr(4 * g + j)}, ${16 * j})")
        .mkString(" + ")).as(s"p_$g")
    }
    documents
      .select(col(idCol).as("doc_id"), explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .withColumn("h", pmod(xxhash64(col("tok")), lit(1000000007L)))
      .select(col("doc_id") +: packedCols: _*)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), (0 until groups).map(g => sum(col(s"p_$g")).as(s"s_$g")): _*)
      .select(col("doc_id"),
        (0 until bits).map { i =>
          val (g, j) = (i / 4, i % 4)
          // disjoint bit values — bitwise OR, not +, so bit 63 (negative
          // as a long) can never trip ANSI ADD overflow checks
          when(shiftright(col(s"s_$g"), 16 * j).bitwiseAND(lit(0xFFFFL)) * 2 > col("n_toks"),
            lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits (`id_a`, `id_b`,
    * `hamming`). Bucketed, never all-pairs: the signature splits into 4
    * bands of bits/4 bits; a pair differing in ≤ 3 bits agrees exactly
    * on at least one band (pigeonhole), so banding has full recall for
    * maxHamming ≤ 3 at either width. Candidates from the band-bucket
    * self-join are then verified with bit_count(xor) — exact precision.
    * Work is O(candidates), driven by bucket occupancy: 2^(bits/4)
    * buckets per band, so pick bits=64 once the corpus outgrows ~25k
    * docs (ScaleBench measured the 32-bit geometry going super-linear
    * there). Note the Hamming ball tightens as bits grow — the same
    * maxHamming over a wider signature is a stricter similarity bar.
    */
  def simhashPairs(documents: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 2, bucketCap: Int = 1000, bits: Int = 32): DataFrame = {
    require(maxHamming <= 3, "4 bands guarantee recall only for maxHamming <= 3")
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1
    val sig = simhashSignatures(documents, idCol, textCol, bits)
    val banded0 = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), bandBits * b).bitwiseAND(lit(mask)).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    val banded = SimilarityOps.capBuckets(banded0, bucketCap)
    val x = banded.select(col("doc_id").as("id_a"), col("simhash").as("sig_a"),
      col("band"), col("bucket"))
    val y = banded.select(col("doc_id").as("id_b"), col("simhash").as("sig_b"),
      col("band").as("band_b"), col("bucket").as("bucket_b"))
    x.join(y, col("band") === col("band_b") && col("bucket") === col("bucket_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(expr("sig_a ^ sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Eagerly localCheckpoint `df`, returning the checkpointed frame plus
    * the persistent-RDD ids its blocks pinned (diffed around the eager
    * materialization). Iterative algorithms pass the ids to
    * [[freeCheckpoint]] to release round k-1's blocks the moment round k
    * is materialized. Without this, every round's frame stays pinned
    * until a full GC lets ContextCleaner run — on a large heap that's
    * effectively never within a job, so a long CC run (or a multi-query
    * session of them) fills storage memory and evicts the caches its own
    * self-joins depend on, recompute-storming the whole session
    * (ScaleBench measured dedup_components_lsh at 296 s mid-session vs
    * 9 s clean — same data, same plan). `spark.catalog.clearCache()`
    * does NOT cover these: checkpoint blocks are RDD-level, not SQL-cache
    * entries.
    */
  private def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) =
    checkpointTracked(df, eager = true)

  /** `eager = false` defers the final-stage materialization to the
    * frame's FIRST consumer (the per-round convergence aggregate in the
    * CC loops), fusing what used to be a checkpoint job + a checksum job
    * into one — under AQE the upstream exchanges still execute at plan
    * time, so only the redundant final-stage pass is saved, every round.
    */
  private def checkpointTracked(df: DataFrame,
      eager: Boolean): (DataFrame, Set[Int]) = {
    val out = df.localCheckpoint(eager)
    // the ids come from the checkpoint's OWN LogicalRDD node, not a
    // before/after diff of the global persistent-RDD registry — the
    // diff raced when two component computations checkpoint from
    // different driver threads (one call could capture, then free, the
    // other's live blocks)
    val ids = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    (out, ids)
  }

  private def freeCheckpoint(df: DataFrame, ids: Set[Int]): Unit = {
    val reg = df.sparkSession.sparkContext.getPersistentRDDs
    ids.foreach(id => reg.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Connected components over near-dup pairs: every doc that appears in
    * a pair gets `component_id` = the smallest doc id reachable through
    * the pair graph. This is the canonical step AFTER pair generation —
    * near-dup is transitive only through clustering, and keep-one-per-
    * component (`doc_id == component_id`) is the dedup decision.
    *
    * Min-label propagation: labels only ever decrease, so Σ(label) is a
    * strictly decreasing convergence witness (one scalar per iteration,
    * the k-means driver pattern — no label frame is ever collected).
    * Each iteration is one keyed join + agg on the cached edge list
    * (O(E) shuffle); `localCheckpoint` keeps lineage flat so plan size
    * is constant across iterations. Rounds ≈ component diameter —
    * near-dup clusters are dense (diameter 2-3 in practice); a
    * worst-case path graph costs O(n) rounds, where the large-star/
    * small-star variant (same join shape, O(log n) rounds) takes over.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .cache()
    var (labels, labelIds) = checkpointTracked(
      edges.groupBy(col("a").as("node"))
        .agg(min(col("b")).as("m"))
        .select(col("node"), least(col("node"), col("m")).as("lab")),
      eager = false) // first consumer: the labelSum just below
    // sum(lab) over ZERO rows is a single NULL — a pair-free corpus must
    // return the empty label frame, not NPE on getLong. Decimal sum: a
    // long sum of n 63-bit ids overflows (ANSI-mode error) long before n
    // is large; decimal(38) holds any realistic corpus.
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("lab").cast("decimal(38,0)"))).first().get(0))
        .map(_.asInstanceOf[java.math.BigDecimal])
    var prevSum = labelSum(labels)
    var converged = prevSum.isEmpty
    var iter = 0
    try {
      while (!converged && iter < maxIters) {
        val prop = edges
          .join(labels.select(col("node").as("b2"), col("lab").as("nb_lab")),
            col("b") === col("b2"))
          .groupBy(col("a").as("node"))
          .agg(min(col("nb_lab")).as("nb_min"))
        // lazy: the labelSum aggregate below is the first consumer, so
        // the round materializes once (checksum rides the final stage)
        val (next, nextIds) = checkpointTracked(
          labels.join(prop, Seq("node"), "left")
            .select(col("node"),
              least(col("lab"), coalesce(col("nb_min"), col("lab"))).as("lab")),
          eager = false)
        val s = labelSum(next)
        converged = s == prevSum
        prevSum = s
        // round k is materialized — round k-1's blocks are dead weight
        freeCheckpoint(labels, labelIds)
        labels = next
        labelIds = nextIds
        iter += 1
      }
    } finally edges.unpersist(blocking = false)
    // silent partial labels would mis-drop docs downstream (dedup_keep);
    // a diameter > maxIters graph must fail loudly — or use the O(log n)
    // [[connectedComponentsLogStar]] whose rounds don't grow with diameter
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no convergence after $maxIters rounds " +
          "(component diameter exceeds maxIters); use connectedComponentsLogStar")
    labels.select(col("node").as("doc_id"), col("lab").as("component_id"))
  }

  /** O(log n)-round connected components: alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond" — public algorithm). Same output contract as
    * [[connectedComponents]]; use when components can be long chains
    * (min-label propagation needs diameter rounds — O(n) on a path graph;
    * star-contraction collapses the same path in O(log n)).
    *
    * Each round is two join+agg passes over the current edge set (same
    * shuffle shape per round as min-label, ~2x the per-round work):
    *  - large-star: per node u, hook every LARGER neighbor v > u onto
    *    m = min(N(u) ∪ {u});
    *  - small-star: per node v (grouping its smaller-or-equal neighbors),
    *    hook them and v onto the group minimum.
    * Both steps preserve connectivity and never create new components;
    * at fixpoint the edge set is a star forest rooted at each component's
    * minimum id. Convergence witness: (count, Σ xxhash64(u,v)) of the
    * deduped edge set — order-independent, two scalars per round, no
    * frame ever collected. localCheckpoint flattens lineage per round.
    */
  def connectedComponentsLogStar(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    logStarWithRounds(pairs, maxIters)._1

  /** [[connectedComponentsLogStar]] plus the executed round count — the
    * spec hook that pins the O(log n) claim on a path graph.
    */
  private[graft] def logStarWithRounds(pairs: DataFrame,
      maxIters: Int = 25): (DataFrame, Int) = {
    // ONE materialization of the input pair graph: nodes and the working
    // edge set both derive from this checkpoint. Without it the pair
    // lineage (often an expensive similarity self-join) re-executes once
    // per consumer — measured 4x the whole algorithm's cost at sf0.1.
    // base stays pinned for the whole call: `nodes` (joined at the end)
    // derives from it, so its blocks back the RETURNED frame.
    val (base, _) = checkpointTracked(pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .distinct())
    val nodes = base
      .select(explode(array(col("u"), col("v"))).as("doc_id"))
      .distinct()
    var edges = base.filter(col("u") =!= col("v"))
    // ids of the CURRENT round's checkpoint (empty for round 0: it reads
    // base directly); freed as soon as the following round materializes
    var edgeIds = Set.empty[Int]
    // (count, xor-of-hashes): order-independent set fingerprint with no
    // overflow (a long SUM of 64-bit hashes trips ANSI overflow)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = checksum(edges)
    var converged = prev._1 == 0L
    var iter = 0
    while (!converged && iter < maxIters) {
      // large-star over the symmetric neighbor view: every edge (u,v),
      // u < v, is re-emitted from u's group as (min(N(u) ∪ {u}), v) —
      // edge count is preserved, larger endpoints hook onto local minima
      val sym = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMin = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      // r15: no intermediate distinct — the round's OUTPUT is distinct'd
      // below, smallMin's min() is multiplicity-insensitive, and the
      // join multiplicities the dedup suppressed cost less than the
      // full-width Exchange the distinct spent every round
      val afterLarge = sym.join(largeMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
      // small-star: group each node v's smaller neighbors (edges are
      // normalized u < v), hook them AND v onto the group minimum
      val smallMin = afterLarge.groupBy(col("v")).agg(min(col("u")).as("m"))
      // lazy: the checksum aggregate below is the first consumer, so
      // the round materializes once (checksum rides the final stage)
      val (next, nextIds) = checkpointTracked(
        afterLarge.join(smallMin, Seq("v"))
          .select(col("m").as("u"), col("u").as("v"))
          .filter(col("u") =!= col("v"))
          .unionAll(smallMin.select(col("m").as("u"), col("v")))
          .distinct(),
        eager = false)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      // free round k-1 (never base); the final round's blocks stay — the
      // returned label frame reads them
      freeCheckpoint(edges, edgeIds)
      edges = next
      edgeIds = nextIds
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsLogStar: no fixpoint after $maxIters rounds")
    // fixpoint edges form stars (u = component minimum), so the label map
    // is a single agg; never-centered nodes are their own component
    val lab = edges.groupBy(col("v").as("doc_id"))
      .agg(min(col("u")).as("component_id"))
    (nodes.join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id")),
      iter)
  }

  /** The dedup keep-list from a pre-computed components frame: keep each
    * component's anchor (doc_id == component_id) plus every never-paired
    * doc (left-anti against the drop set). Taking `components` as input —
    * rather than re-deriving pairs + components from raw text — is the
    * point: at 100 TB the pair graph is the most expensive artifact in
    * the pipeline, and the keep-list decision is one anti-join on top of
    * it, not a reason to rebuild it.
    */
  def keepList(docs: DataFrame, components: DataFrame, idCol: String): DataFrame = {
    val drop = components
      .filter(col("component_id") =!= col("doc_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
