package graft.api

import graft.functions.{DotProduct, SrpBuckets}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Library-facing similarity search over embedding frames
  * (id: long, vector: array<float|double>). Every tier is the same
  * candidate-generation → exact-rerank skeleton; a tier only picks its
  * candidates and its selection:
  *
  *  1. **Vector prep** — [[asDouble]]: the vector as `e: array<double>`
  *     beside `vec_id`. Vectors are unit-normalized, so dot == cosine.
  *  2. **Candidates** — which pairs get scored: all pairs
  *     ([[allPairs]]), a shared block key — md5 group or k-means cluster
  *     ([[blockPairs]]), SRP band buckets ([[srpBands]] → [[capBuckets]]
  *     → bucket mates), IVF seeds or k-means probes (nearest-centroid
  *     projection, [[centroidOptions]]), PQ codes, or the graph beam.
  *  3. **Exact rescoring** — [[exactCos]] = round(DotProduct.dot(a, b),
  *     6): the fused codegen dot, rounded so results are engine-stable.
  *     [[rescorePairs]] attaches both vectors to an id-pair list first.
  *  4. **Selection** — a per-query top-k ([[topKPer]]: score desc,
  *     neighbor id asc, as (q_id, rank, neighbor_id, score)) or a
  *     threshold filter ([[atLeast]]).
  *
  * Control-plane state (seeds, centroids, codebooks, the power-iteration
  * iterate, MMR candidates) is a few k·dim doubles held on the driver —
  * the MLlib pattern — so it inlines as literals or broadcasts as a tiny
  * frame however large the corpus.
  */
object SimilarityOps {

  // ---- 1. vector prep ------------------------------------------------

  /** The double-cast embedding frame: `keep` columns, then `e`. */
  private[graft] def asDouble(df: DataFrame, vecCol: String, keep: Column*): DataFrame =
    df.select(keep :+ transform(col(vecCol), x => x.cast("double")).as("e"): _*)

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** The `k` lowest-id vectors of an [[asDouble]] frame — IVF seeds and
    * the deterministic k-means and PQ init.
    */
  private def lowestIdVectors(e: DataFrame, k: Int): Array[Array[Double]] =
    e.orderBy(col("vec_id")).limit(k).select(col("e")).collect()
      .map(_.getSeq[Double](0).toArray)

  // ---- 2. candidates -------------------------------------------------

  /** Every unordered pair, scored: the exact O(n²) baseline. BNLJ
    * parallelism == streamed-side partitions, so the pair scan fans out
    * explicitly (small inputs otherwise arrive in 1-2 partitions).
    */
  private def allPairs(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    val a = e.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id").as("id_a"), col("e").as("e_a"))
    val b = e.select(col("vec_id").as("id_b"), col("e").as("e_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), exactCos(col("e_a"), col("e_b")).as("cos"))
  }

  /** Unordered pairs sharing a block key (md5 group, cluster), scored —
    * a plain equi-shuffle on the key, never a global pair scan.
    */
  private def blockPairs(blocked: DataFrame, key: String): DataFrame =
    blocked.select(col(key), col("vec_id").as("id_a"), col("e").as("e_a"))
      .join(blocked.select(col(key), col("vec_id").as("id_b"), col("e").as("e_b")), Seq(key))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), exactCos(col("e_a"), col("e_b")).as("cos"))

  /** `bands` SRP bands of `bandBits` sign bits as (vec_id, band, bucket).
    * Band b, bit i = sign(Σ_d ±v_d) with a deterministic Rademacher ±1
    * pattern from xxhash64(global bit, d): no stored hyperplanes, every
    * executor derives the same pattern. All buckets come from the fused
    * codegen [[SrpBuckets]] projection — zero exchanges, whole-stage
    * codegen at any bands·bandBits.
    */
  private def srpBands(e: DataFrame, bandBits: Int, bands: Int): DataFrame =
    e.select(col("vec_id"), SrpBuckets.buckets(col("e"), bandBits, bands).as("bks"))
      .filter(col("bks").isNotNull)
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("band", "bucket")))

  /** Drops every (band, bucket) row of a bucket with more than `cap`
    * members: a degenerate mega-bucket of m members is m²/2 candidates.
    * A pair is lost only if every band it shares is over the cap.
    */
  private[api] def capBuckets(banded: DataFrame, cap: Int): DataFrame =
    banded.withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bucket_n") <= cap)
      .drop("bucket_n")

  /** Distinct (id_a < id_b) pairs sharing any (band, bucket). */
  private[api] def bucketMates(banded: DataFrame, idCol: String): DataFrame = {
    val x = banded.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val y = banded.select(col(idCol).as("id_b"), col("band").as("band_b"),
      col("bucket").as("bucket_b"))
    x.join(y, col("band") === col("band_b") && col("bucket") === col("bucket_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Band width sized to an n-row corpus: log2(n/32) clamped to [4, 16],
    * ~32 vectors per bucket, so candidates stay LINEAR in n. A fixed
    * width is quadratic in disguise: occupancy ∝ n, candidates ∝ n².
    */
  private def corpusBandBits(n: Long): Int =
    math.max(4, math.min(16, math.ceil(math.log(math.max(1L, n) / 32.0) / math.log(2)).toInt))

  /** One `(dot, -centroid_id)` struct per driver-held centroid (id = its
    * index), over the row's `e` column. `array_max` of this array IS
    * nearest-centroid assignment — a whole-stage-codegen projection with
    * ZERO exchanges (struct ordering: max dot, then lowest id) — and
    * `array_sort` of it ranks the centroids for multi-probe.
    */
  private def centroidOptions(centroids: Array[Array[Double]]): Column =
    array(centroids.zipWithIndex.map { case (v, cid) =>
      struct(DotProduct.dot(col("e"), typedLit(v.toSeq)).as("d"),
        lit(-cid.toLong).as("nc"))
    }.toIndexedSeq: _*)

  /** The `p` nearest centroids of each row, one row each (`probe`). */
  private def probeCentroids(opts: Column, p: Int): Column =
    explode(slice(reverse(array_sort(opts)), 1, p))

  // ---- 3. exact rescoring --------------------------------------------

  private[graft] def exactCos(a: Column, b: Column): Column =
    round(DotProduct.dot(a, b), 6)

  /** Attaches both vectors of an id-pair list by id and scores it as
    * (a, b, cos). `side` wraps each vector side (e.g. a broadcast hint).
    */
  private[graft] def rescorePairs(pairs: DataFrame, e: DataFrame, a: String, b: String,
      side: DataFrame => DataFrame = identity): DataFrame =
    pairs.join(side(e.select(col("vec_id").as(a), col("e").as("e_a"))), a)
      .join(side(e.select(col("vec_id").as(b), col("e").as("e_b"))), b)
      .select(col(a), col(b), exactCos(col("e_a"), col("e_b")).as("cos"))

  // ---- 4. selection --------------------------------------------------

  /** Each `key`'s `k` best rows by (`score` desc, `id` asc) as
    * (key, rank, neighbor_id, score) — a per-query top-k with
    * key = q_id. The rank filter plans as the bounded-heap TopKPerKey
    * under the engine extensions.
    */
  private def topKPer(scored: DataFrame, key: String, k: Int, id: String,
      score: String = "cos"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(desc(score), col(id))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(key), col("rn").as("rank"), col(id).as("neighbor_id"), col(score))
  }

  /** Pairs with cos ≥ threshold. [[DedupOps.noPush]] keeps the predicate
    * out of the pair-join condition, where the dot would evaluate twice
    * per pair.
    */
  private def atLeast(scored: DataFrame, threshold: Double): DataFrame =
    scored.filter(col("cos") >= threshold || DedupOps.noPush)

  /** Probe-bucket candidates → per-query top-k: each query row meets
    * the corpus rows of its `bucket`.
    */
  private def bucketTopK(probes: DataFrame, assigned: DataFrame, bucket: String,
      k: Int): DataFrame =
    topKPer(probes.join(assigned, Seq(bucket))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", exactCos(col("q_e"), col("e"))), "q_id", k, "vec_id")

  // ---- exact tiers ---------------------------------------------------

  /** Brute-force global top-k most similar pairs. Quadratic; use
    * [[ivfTopK]] at scale.
    */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    allPairs(emb, idCol, vecCol)
      .orderBy(desc("cos"), col("id_a"), col("id_b"))
      .limit(k)

  /** All pairs with cosine ≥ threshold. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    atLeast(allPairs(emb, idCol, vecCol), threshold)

  /** [[nearDupPairs]] restricted to intra-md5-group pairs — the linear,
    * deterministic exact-pair SAMPLE the scale-tier invariant reports
    * grade against (the ground-truth side of a report must not itself
    * be quadratic, or the report dies at 100x even when the structure
    * under test is linear). Vectors split into hash-derived groups of
    * ~125 ([[DedupOps.samplePrefixLen]]). Content-hash grouping means
    * any engine replays the identical sample.
    */
  def nearDupPairsSampled(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, prefLen: Int): DataFrame =
    atLeast(blockPairs(asDouble(emb, vecCol, col(idCol).as("vec_id"))
      .withColumn("grp", substring(md5(col("vec_id").cast("string")), 1, prefLen)), "grp"),
      threshold)

  // ---- SRP-LSH near-dup pairs ----------------------------------------

  /** SRP-LSH sized to the corpus ([[corpusBandBits]]), the 100 TB path
    * behind [[nearDupPairs]]. The band count grows to hold recall at the
    * design similarity s* = max(threshold, 0.7): per-bit collision
    * p = 1 − acos(s*)/π (Goemans–Williamson), bands = ln(0.15)/
    * ln(1−p^bandBits) for ≥0.85 recall at s*, clamped so
    * bands·bandBits ≤ 256. Recall below s* degrades smoothly — the
    * standard LSH amplification trade. The corpus count is one cheap
    * count() job; at warehouse scale use the catalog row-count statistic.
    */
  def lshNearDupPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val bandBits = corpusBandBits(emb.count())
    val p = 1.0 - math.acos(math.max(threshold, 0.7)) / math.Pi
    val q = math.pow(p, bandBits)
    val bands = math.max(4, math.min(256 / bandBits,
      math.ceil(math.log(0.15) / math.log(1 - q)).toInt))
    lshNearDupPairsBanded(emb, idCol, vecCol, threshold, bandBits, bands)
  }

  /** The SRP-LSH core: vectors sharing any of `bands` capped band buckets
    * ([[srpBands]], [[capBuckets]]) are candidates, rescored exactly and
    * kept at `threshold`. Precision is exact; recall is the SRP
    * collision probability (1−θ/π per bit), amplified across bands.
    */
  def lshNearDupPairsBanded(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bandBits: Int, bands: Int,
      bucketCap: Int = 1000): DataFrame = {
    require(bandBits >= 1 && bands >= 1 && bands * bandBits <= 256,
      "need 1 <= bandBits, 1 <= bands, bands*bandBits <= 256")
    // ONE signature pass: both candidate-join sides and both rescoring
    // sides would otherwise re-execute the SrpBuckets projection and the
    // source scan per consumer (measured: a second 30x rep ran 2x slower
    // than the first — recompute, not data). Both frames are pinned via
    // lazy localCheckpoint, not cache(): every consumer reads one
    // snapshot and the blocks are reclaimed when the returned plan is
    // GC'd. `e` materializes inside the nVec count below, the banded
    // frame inside the candidate self-join.
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id")).localCheckpoint(false)
    val banded = capBuckets(srpBands(e, bandBits, bands), bucketCap)
      .localCheckpoint(false)
    // rescoring with the vector frame BROADCAST keeps both attach joins
    // map-side, so the (large) candidate stream never shuffles its fat
    // vector rows. The hint bypasses autoBroadcastJoinThreshold, so it is
    // GATED on an estimated frame size (rows × (8·dim + 48B)): past the
    // budget the same plan runs as shuffle hash joins instead of OOMing
    // the driver.
    val nVec = e.count()
    val dim = e.select(size(col("e"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    val vecBytes = nVec * (8L * dim + 48L)
    val broadcastBudget = 512L << 20
    def side(df: DataFrame): DataFrame =
      if (vecBytes <= broadcastBudget) broadcast(df) else df
    atLeast(rescorePairs(bucketMates(banded, "vec_id"), e, "id_a", "id_b", side), threshold)
  }

  // ---- graph ANN -----------------------------------------------------

  /** HNSW-like graph ANN (single-layer NSW, the Malkov–Yashunin base
    * layer, built the distributed way):
    *
    *  1. **Candidate edges** from capped SRP bucket collisions, rescored
    *     and trimmed to each node's top-`m` — the locality-aware init
    *     graph.
    *  2. **One NN-descent round** (Dong et al.): neighbors-of-neighbors
    *     as new candidates, rescored, merged, re-trimmed to top-`m`.
    *     Every step is an equi-join + bounded per-key window; candidates
    *     stay O(n·m²) — no all-pairs scan anywhere.
    *  3. **Greedy beam search** per query ([[graphAnnSearch]]).
    *
    * Deterministic end to end (SRP patterns are hash-derived, ties break
    * on id), so results are oracle-stable.
    */
  def graphAnnTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int = 16,
      beam: Int = 12, iters: Int = 4, bandBits0: Int = 0, bands: Int = 8,
      bucketCap: Int = 256): DataFrame = {
    // one shared lazy checkpoint of the vector frame for build and
    // search: `e` materializes inside the adjacency build's bandBits
    // count, the adjacency inside the first beam expansion
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id")).localCheckpoint(false)
    graphAnnSearchOnE(e,
      graphAnnAdjacencyOnE(e, m, bandBits0, bands, bucketCap)
        .localCheckpoint(false),
      queryPred, k, beam, iters)
  }

  /** Steps 1-2 of the NSW build exposed separately: a production
    * pipeline stages this adjacency once and amortizes it across query
    * batches — the declared `sim_ann_graph_staged` tier measures exactly
    * that split. Returns (src, dst, cos), each src trimmed to its top-`m`.
    * `bandBits0 = 0` sizes the init buckets to the corpus.
    */
  def graphAnnAdjacency(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, bandBits0: Int = 0, bands: Int = 8,
      bucketCap: Int = 256): DataFrame =
    graphAnnAdjacencyOnE(
      asDouble(emb, vecCol, col(idCol).as("vec_id")).localCheckpoint(false),
      m, bandBits0, bands, bucketCap)

  private def graphAnnAdjacencyOnE(e: DataFrame,
      m: Int, bandBits0: Int, bands: Int, bucketCap: Int): DataFrame = {
    val bandBits = if (bandBits0 > 0) bandBits0 else corpusBandBits(e.count())
    // rescore a candidate edge list and keep each src's top-m
    def trim(cand: DataFrame): DataFrame =
      topKPer(rescorePairs(cand, e, "src", "dst"), "src", m, "dst")
        .select(col("src"), col("neighbor_id").as("dst"), col("cos"))
    // 1. init edges: SRP bucket mates in both directions
    val capped = capBuckets(srpBands(e, bandBits, bands), bucketCap)
      // lazy: first consumer is the bucket-mate self-join just below
      .localCheckpoint(false)
    val cand0 = capped.select(col("vec_id").as("src"), col("band"), col("bucket"))
      .join(capped.select(col("vec_id").as("dst"), col("band").as("b2"),
          col("bucket").as("k2")),
        col("band") === col("b2") && col("bucket") === col("k2") &&
          col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    // lazy: first consumer is the NN-descent neighbor join just below
    val adj0 = trim(cand0).localCheckpoint(false)
    // 2. one NN-descent refinement: src->mid->dst candidates, merged
    val non = adj0.select(col("src"), col("dst").as("mid"))
      .join(adj0.select(col("src").as("mid"), col("dst")), "mid")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(adj0.select(col("src"), col("dst")))
      .distinct()
    trim(non)
  }

  /** Step 3 — greedy beam search over a prebuilt adjacency: start at
    * `beam` hash-argmin entry seeds (node minimizing xxhash64(id, r) per
    * slot r — deterministic, spread across the corpus; a single entry's
    * greedy path can stall in a far region of a flat NSW graph, measured
    * recall 0.48 vs 0.8+ at 60k nodes), expand the current beam's
    * adjacency, score ONLY unvisited nodes, keep the best `beam`; after
    * `iters` rounds, the top-`k` of everything visited. Exact dots per
    * query are ≤ beam + iters·beam·m regardless of corpus size — the
    * sublinear search tier.
    */
  def graphAnnSearch(emb: DataFrame, idCol: String, vecCol: String,
      adj: DataFrame, queryPred: Column, k: Int,
      beam: Int = 12, iters: Int = 4): DataFrame =
    graphAnnSearchOnE(
      asDouble(emb, vecCol, col(idCol).as("vec_id")).localCheckpoint(false),
      adj, queryPred, k, beam, iters)

  private def graphAnnSearchOnE(e: DataFrame, adj: DataFrame,
      queryPred: Column, k: Int, beam: Int, iters: Int): DataFrame = {
    val q = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"))
    // entry seeds from ONE map-side-combined global aggregate (beam
    // min_by slots in a single row, array_distinct'd)
    val entry = e
      .agg(array_distinct(array((0 until beam).map(r =>
        min_by(col("vec_id"), xxhash64(col("vec_id"), lit(r)))): _*)).as("ns"))
      .select(explode(col("ns")).as("node"))
    // the frontier/query frames are bounded by beam·m·|query batch| rows,
    // so they broadcast and the corpus frame streams map-side with no
    // exchange (letting AQE discover this cost a shuffle + replan +
    // broadcast-rebuild job chain per round: 76 jobs at sf0.1)
    def score(nodes: DataFrame): DataFrame =
      e.select(col("vec_id").as("node"), col("e"))
        .join(broadcast(nodes), "node")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("node"), exactCos(col("q_e"), col("e")).as("cos"))
    var visited = score(broadcast(q.select(col("q_id")))
        .crossJoin(entry).select(col("q_id"), col("node")))
      .localCheckpoint(false) // lazy: first consumer is iter 1's frontier
    for (_ <- 1 to iters) {
      val frontier = topKPer(visited, "q_id", beam, "node")
        .select(col("q_id"), col("neighbor_id").as("src"))
      // adjacency streams, bounded frontier broadcasts (at 100 TB the
      // adjacency is corpus-sized; the frontier stays beam·|queries|)
      val expanded = adj.join(broadcast(frontier), "src")
        .select(col("q_id"), col("dst").as("node")).distinct()
        .join(broadcast(visited.select(col("q_id"), col("node"))),
          Seq("q_id", "node"), "left_anti")
      visited = visited.unionByName(score(expanded)).localCheckpoint(false)
    }
    topKPer(visited.filter(col("node") =!= col("q_id")), "q_id", k, "node")
  }

  // ---- centroid tiers ------------------------------------------------

  /** IVF-style ANN: every vector goes to its nearest seed centroid (the
    * `numSeeds` lowest-id vectors), and each query searches its own
    * bucket only (nprobe=1).
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, numSeeds: Int, k: Int): DataFrame = {
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    val assigned = e
      .withColumn("best", array_max(centroidOptions(lowestIdVectors(e, numSeeds))))
      .select(col("vec_id"), col("e"), (-col("best.nc")).as("bucket"))
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"), col("bucket"))
    bucketTopK(q, assigned, "bucket", k)
  }

  /** Matryoshka-style truncated retrieval: keep only the first `dims`
    * coordinates, renormalize, brute-force top-k in the reduced space —
    * the memory/compute trade every embedding service offers.
    * Truncate+renormalize is a pure codegen projection: the scan shape
    * of full-dim brute force at dims/64 of the dot-product cost.
    */
  def truncatedTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, dims: Int, k: Int): DataFrame = {
    val t = asDouble(emb, vecCol, col(idCol).as("vec_id"))
      .select(col("vec_id"), slice(col("e"), 1, dims).as("te"))
    val n = t.withColumn("nrm", sqrt(DotProduct.dot(col("te"), col("te"))))
      .select(col("vec_id"), transform(col("te"), x => x / col("nrm")).as("e"))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"))
    topKPer(broadcast(q).join(n, col("vec_id") =!= col("q_id"))
      .withColumn("cos", exactCos(col("q_e"), col("e"))), "q_id", k, "vec_id")
  }

  /** Power iteration for the top eigenvector of the corpus's uncentered
    * second-moment matrix M = (1/n)·Σ x·xᵀ — the first PCA/whitening
    * direction of an embedding table. Each iteration is exactly ONE job:
    * scan → per-row scalar d = xᵀv ([[DotProduct]], v inlined as a
    * literal) → dim-sized weighted sum (posexplode + two-level agg) →
    * collect of `dim` doubles. The Rayleigh quotient of the ENTERING
    * iterate rides along in the same scan — every pos group aggregates
    * over all rows' d, so avg(d²) within any one group IS the corpus
    * vᵀMv — and one extra scalar-agg job after the loop scores the
    * final iterate: iters+1 jobs total. M (dim² entries) and pairwise
    * frames are never materialized.
    *
    * Returns (v, rayleighPerIter) — the unit top-eigenvector estimate
    * and the Rayleigh quotient vᵀMv after each iteration (nondecreasing
    * on a PSD matrix; the caller's invariant report folds that in).
    */
  def powerIterationTopEig(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): (Array[Double], Seq[Double]) = {
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    def rayleigh(v: Array[Double]): Double =
      e.agg(avg(pow(DotProduct.dot(col("e"), typedLit(v.toSeq)), 2)))
        .head().getDouble(0)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    val rayleighs = scala.collection.mutable.ArrayBuffer[Double]()
    for (it <- 1 to iters) {
      val rows = e
        .select(DotProduct.dot(col("e"), typedLit(v.toSeq)).as("d"),
          posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(sum(col("x") * col("d")).as("s"), avg(pow(col("d"), 2)).as("r"))
        .collect()
      // rides along: vᵀMv of the iterate that ENTERED this scan = the
      // Rayleigh recorded after the previous iteration's update
      if (it >= 2) rayleighs += rows.head.getDouble(2)
      val s = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val mv = Array.tabulate(dim)(i => s.getOrElse(i, 0.0))
      v = normalize(mv)
    }
    // the final iterate never enters another scan — one extra job
    if (iters >= 1) rayleighs += rayleigh(v)
    (v, rayleighs.toSeq)
  }

  /** Maximal Marginal Relevance re-ranking: greedily select `k` of the
    * `nCand` most query-similar vectors, trading relevance against
    * redundancy — score(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s). The
    * retrieval-diversification tail every RAG pipeline hangs behind its
    * ANN index.
    *
    * Scale shape: the candidate fetch is ONE linear scan + global top-k
    * (TakeOrderedAndProject) — at 100 TB swap it for [[ivfTopK]] / LSH
    * and keep the tail. Everything after the fetch is nCand-sized, so
    * the greedy tail runs on the driver. Deterministic: rel and sims are
    * rounded to 6dp before scoring, ties break on vec_id.
    *
    * The query vector is the corpus's lowest-id embedding (a stand-in
    * for a user query arriving at runtime).
    */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String,
      nCand: Int, k: Int, lambda: Double): DataFrame = {
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    val q = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"))
    // the distributed part is exactly the corpus-sized work: one scan,
    // one broadcast-join relevance projection, one top-nCand (a chain of
    // 8-row distributed greedy joins was ~1.9 s of scheduler overhead at
    // sf0.1 for the arithmetic the driver does in microseconds)
    val cand: Array[(Any, Array[Double], Double)] =
      e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("vec_id"), col("e"), exactCos(col("e"), col("q_e")).as("rel"))
        .orderBy(desc("rel"), col("vec_id")).limit(nCand)
        .collect()
        .map(r => (r.get(0),
          r.getSeq[Double](1).toArray,
          r.getDouble(2)))
    // identical arithmetic to exactCos: dots accumulate in index order
    // (bit-identical to the DotProduct expression) and every rounding is
    // Spark's ROUND (HALF_UP)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // candidate ids sort by their SQL ordering; ids are int/long in
    // practice — compare on the numeric value for the tie-break
    def idLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.longValue() < y.longValue()
      case (x, y) => x.toString < y.toString
    }
    val sim = scala.collection.mutable.Map.empty[(Int, Int), Double]
    def pairSim(i: Int, j: Int): Double =
      sim.getOrElseUpdate((math.min(i, j), math.max(i, j)),
        round6(dot(cand(i)._2, cand(j)._2)))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Double)]
    val chosen = scala.collection.mutable.Set.empty[Int]
    for (step <- 1 to math.min(k, cand.length)) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      for (i <- cand.indices if !chosen(i)) {
        val score =
          if (step == 1) cand(i)._3
          else {
            val maxsim = chosen.iterator.map(j => pairSim(i, j)).max
            round6(lambda * cand(i)._3 - (1.0 - lambda) * maxsim)
          }
        if (score > bestScore ||
            (score == bestScore && idLt(cand(i)._1, cand(bestIdx)._1))) {
          bestIdx = i; bestScore = score
        }
      }
      chosen += bestIdx
      selected += ((step, cand(bestIdx)._1, bestScore))
    }
    val spark = emb.sparkSession
    val idField = e.schema("vec_id")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      idField.copy(name = "vec_id"),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows = selected.map(t =>
      org.apache.spark.sql.Row(t._1, t._2, t._3))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .orderBy(col("rank"))
  }

  // ---- k-means -------------------------------------------------------

  /** Deterministic k-means init: the k lowest-id vectors, unit-normalized. */
  private def kmeansInit(e: DataFrame, k: Int): Array[(Int, Array[Double])] =
    lowestIdVectors(e, k).map(normalize).zipWithIndex.map(_.swap)

  /** Per-key mean vector (keys…, mean_e): posexplode, one avg per
    * (keys, pos), re-collected in position order.
    */
  private[graft] def meanVectors(df: DataFrame, keys: Seq[String], vec: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(vec)).as(Seq("pos", "v")): _*)
      .groupBy((keys :+ "pos").map(col): _*).agg(avg(col("v")).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        p => p.getField("m")).as("mean_e"))

  /** One Lloyd update over (cluster, e) rows: each cluster's mean,
    * unit-normalized, on the driver.
    */
  private def lloydMeans(assigned: DataFrame): Map[Int, Array[Double]] =
    meanVectors(assigned, Seq("cluster"), "e").collect()
      .map(r => r.getInt(0) -> normalize(r.getSeq[Double](1).toArray))
      .toMap

  /** Lloyd-iterated k-means centroids over unit embeddings, cosine
    * metric. Centroids are collected to the driver each iteration and
    * re-inlined — k·dim doubles however large the corpus, and a flat
    * lineage. Deterministic: [[kmeansInit]]; every argmax tiebreaks on
    * cluster id. Empty clusters keep their previous centroid. Centroids
    * are unit length, so dot == cosine stays true for assignment.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, eps: Double = 1e-9): Array[(Int, Array[Double])] =
    kmeansWithIters(emb, idCol, vecCol, k, iters, eps)._1

  /** [[kmeansCentroids]] plus the number of Lloyd iterations actually
    * executed — the spec hook that proves early-stop fires.
    */
  private[graft] def kmeansWithIters(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, eps: Double = 1e-9): (Array[(Int, Array[Double])], Int) = {
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    var centroids = kmeansInit(e, k)
    var itersRun = 0
    var moved = true
    // early-stop on centroid movement < eps (max over k of the L2
    // shift, driver-side): converged corpora stop after one confirming
    // pass. Each Lloyd iteration is one job: scan → assign (projection)
    // → two-level mean agg → collect.
    while (moved && itersRun < iters) {
      val assigned = e
        .withColumn("best", array_max(centroidOptions(centroids.map(_._2))))
        .select(col("vec_id"), col("e"), (-col("best.nc")).cast("int").as("cluster"))
      val means = lloydMeans(assigned)
      val next = centroids.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
      moved = centroids.zip(next).exists { case ((_, a), (_, b)) =>
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum) >= eps
      }
      centroids = next
      itersRun += 1
    }
    (centroids, itersRun)
  }

  /** k-means IVF ANN with multi-probe: `nClusters` [[kmeansCentroids]],
    * every vector assigned to its nearest centroid, each query searching
    * its `nprobe` nearest clusters only. nprobe=1 is the classic IVF fast
    * path, nprobe=nClusters degenerates to brute force. Assignment and
    * probe ranking are both projections over the driver-held centroids —
    * no exchange until the bucket join itself.
    */
  def kmeansIvfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int,
      nClusters: Int, iters: Int, nprobe: Int): DataFrame = {
    val centroids = kmeansCentroids(emb, idCol, vecCol, nClusters, iters)
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    val opts = centroidOptions(centroids.map(_._2))
    val assigned = e
      .withColumn("best", array_max(opts))
      .select(col("vec_id"), col("e"), (-col("best.nc")).cast("int").as("cluster"))
    val probes = e.filter(queryPred)
      .withColumn("probe", probeCentroids(opts, nprobe))
      .select(col("vec_id").as("q_id"), col("e").as("q_e"),
        (-col("probe.nc")).cast("int").as("cluster"))
    bucketTopK(probes, assigned, "cluster", k)
  }

  /** Per-label centroids (dense arrays, broadcast) and nearest-centroid
    * label per vector.
    */
  def knnCentroidLabels(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    // means straight off the stored vectors: avg widens each element to
    // double itself, so no per-row cast pass runs before the explode
    val centroids = meanVectors(
      emb.select(col(labelCol).as("c_label"), col(vecCol)), Seq("c_label"), vecCol)
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    // argmax as a mergeable aggregate, NOT a rank-filter: row_number over
    // partitionBy(vec_id) would shuffle AND SORT the full vecs×labels frame
    // just to keep one row per vector. min_by(label, struct(-dot, label))
    // partial-aggregates map-side to one row per vec_id before the
    // exchange, and for FINITE dots the struct ordering (-dot asc = dot
    // desc, then label asc) reproduces the desc(dot)/asc(label)
    // tie-break exactly. Caveat: a NaN dot would sort FIRST under
    // desc(dot) (picked) but -NaN sorts last under min (ignored) —
    // unreachable here because centroids are finite averages of finite
    // unit-normalized embeddings, but not an identity to lean on if this
    // aggregate is reused over unvetted vectors.
    e.crossJoin(broadcast(centroids))
      .withColumn("dot", DotProduct.dot(col("e"), col("mean_e")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("c_label"),
        struct((-col("dot")).as("nd"), col("c_label"))).as("pred_label"))
  }

  /** Pairs at cosine ≥ threshold within a shared cluster — the SemDeDup
    * tail of both cluster-blocked tiers.
    */
  private def withinClusterPairs(assigned: DataFrame, threshold: Double): DataFrame =
    atLeast(blockPairs(assigned, "cluster"), threshold).distinct()

  /** SemDeDup-style cluster-blocked near-duplicate pairs: k-means
    * partitions the corpus, and the exact threshold scan runs only
    * WITHIN each cluster — the pairwise cost drops from n² to
    * Σ|cluster|². Each vector blocks into its `probes` nearest clusters
    * (probes=1 is pure SemDeDup partitioning; 2 recovers most
    * boundary-straddling pairs for ~probes² the candidates). Every
    * reported pair is exactly rescored, so the result is a SUBSET of the
    * exact pair set; pairs straddling cluster boundaries are the
    * (bounded, measured) recall loss.
    */
  def clusterBlockedPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int, iters: Int, probes: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(emb, idCol, vecCol, nClusters, iters)
    val assigned = asDouble(emb, vecCol, col(idCol).as("vec_id"))
      .withColumn("probe", probeCentroids(centroidOptions(centroids.map(_._2)), probes))
      .select(col("vec_id"), col("e"), (-col("probe.nc")).cast("int").as("cluster"))
    withinClusterPairs(assigned, threshold)
  }

  /** [[clusterBlockedPairs]] with corpus-sized geometry — the 100 TB
    * SemDeDup shape. A FIXED cluster count is quadratic in disguise
    * (measured 32x at 30x data with k=8). Here the cluster COUNT grows
    * to hold ~`targetSize` vectors per cluster (k = clamp(⌈n/targetSize⌉,
    * 8, 4096)), so the pair scan is ~n·targetSize·probes²/2: LINEAR. At
    * the harness scales (n/targetSize ≤ 8) the geometry collapses to
    * exactly clusterBlockedPairs(k=8) — same clusters, same pairs.
    *
    * The driver-literal assignment ([[centroidOptions]]) stops being
    * viable as k grows (k·dim literal doubles in one expression), so
    * both the Lloyd refinement and the multi-probe blocking assign via a
    * BROADCAST JOIN against the k-row centroid frame: n·k narrow
    * (vec_id, cid, dot) rows and top-`probes` as a rank filter
    * (the bounded-heap TopKPerKey under the engine extensions). Same
    * dots, same tie-breaks (equal dot → smaller cid), so the k ≤ 8
    * results are bit-identical to the literal path.
    */
  def clusterBlockedPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, iters: Int, probes: Int = 2,
      targetSize: Int = 250): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = math.max(1L, emb.count())
    val k = math.max(8, math.min(4096L, (n + targetSize - 1) / targetSize)).toInt
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id")).cache()
    var centroids = kmeansInit(e, k)
    def centroidFrame(): DataFrame =
      centroids.toSeq.map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "c_e")
    // top-`p` clusters per vector by (dot desc, cid asc). The n·k scored
    // stream carries ONLY (vec_id, cid, dot): the vector column must not
    // ride through the widest intermediate (measured 2.4x on the 30x
    // sweep) — vectors re-attach by key to the probes-bounded result.
    def assignTop(p: Int): DataFrame =
      topKPer(e.crossJoin(broadcast(centroidFrame()))
          .select(col("vec_id"), col("cid"), DotProduct.dot(col("e"), col("c_e")).as("dot")),
        "vec_id", p, "cid", "dot")
        .select(col("vec_id"), col("neighbor_id").as("cluster"))
    for (_ <- 0 until iters) {
      val means = lloydMeans(assignTop(1).join(e, "vec_id"))
      centroids = centroids.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    withinClusterPairs(assignTop(probes).join(e, "vec_id")
      .select(col("vec_id"), col("e"), col("cluster")), threshold)
  }

  /** Product-quantization ANN via Asymmetric Distance Computation: the
    * vector splits into `m` subspaces of dim/m, each with a
    * `ksub`-centroid codebook (Lloyd, batched across ALL subspaces in
    * one job per iteration), and every vector compresses to `m` codes.
    * A query never touches raw corpus vectors: it builds an m×ksub
    * lookup table of partial dots against the codebooks, and each corpus
    * vector scores as the sum of the m entries its codes address — the
    * memory-bound PQ scan (Jégou et al.) as broadcast-join + two-level
    * aggregate, m bytes/vector instead of dim floats. Deterministic:
    * seeds are the ksub lowest-id vectors' subvectors, argmax tiebreaks
    * on -cid, centroid components round to 9dp per iteration (no
    * cross-run ulp drift). The score column is `approx`.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = asDouble(emb, vecCol, col(idCol).as("vec_id"))
    val dim = e.select(size(col("e"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val ds = dim / m
    val subs = e.select(col("vec_id"), posexplode(
        expr(s"transform(sequence(0, ${m - 1}), j -> slice(e, j*$ds + 1, $ds))"))
      .as(Seq("sj", "sv")))
    def round9(v: Array[Double]) = v.map(x => math.rint(x * 1e9) / 1e9)
    var codebook: Seq[(Int, Int, Seq[Double])] = {
      val seeds = lowestIdVectors(e, ksub)
      for (sj <- 0 until m; cid <- seeds.indices.toSeq)
        yield (sj, cid, round9(seeds(cid).slice(sj * ds, sj * ds + ds)).toSeq)
    }
    def cbDf = broadcast(codebook.toDF("sj", "cid", "cv"))
    // one job per Lloyd iteration covering all m subproblems at once.
    // Assignment minimizes L2 (the PQ objective — ADC's dot error is
    // bounded by the quantization L2): argmin ‖sv−cv‖² = argmax of
    // (2·dot − ‖cv‖²) since ‖sv‖² is constant within the row's group.
    def assign() = subs.join(cbDf, "sj")
      .withColumn("d", lit(2.0) * DotProduct.dot(col("sv"), col("cv"))
        - DotProduct.dot(col("cv"), col("cv")))
      .groupBy(col("vec_id"), col("sj"))
      .agg(max_by(col("cid"), struct(col("d"), -col("cid"))).as("cid"),
        first(col("sv")).as("sv"))
    for (_ <- 0 until iters) {
      val means = meanVectors(assign(), Seq("sj", "cid"), "sv").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> round9(r.getSeq[Double](2).toArray).toSeq)
        .toMap
      codebook = codebook.map { case (sj, cid, old) =>
        (sj, cid, means.getOrElse((sj, cid), old)) }
    }
    val codes = assign().select(col("vec_id"), col("sj"), col("cid"))
    // ADC: per-query lookup table of partial dots, 9dp per term so the
    // m-term sums are order-stable
    val ltab = subs.filter(queryPred).join(cbDf, "sj")
      .select(col("vec_id").as("q_id"), col("sj"), col("cid"),
        round(DotProduct.dot(col("sv"), col("cv")), 9).as("pdot"))
    topKPer(codes.join(broadcast(ltab), Seq("sj", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("pdot")), 6).as("approx")), "q_id", k, "vec_id", "approx")
  }
}
