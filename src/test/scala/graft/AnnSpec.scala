package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior specs for the approximate similarity / fingerprint / langid
  * operators. The raw engine-specific frames (candidate pairs, neighbor
  * lists, signatures) are exercised through the graft.api library entry
  * points; the DECLARED queries emit oracle-checkable invariant reports,
  * asserted all-green here at sf0.001 (the driver hash-checks them at
  * sf0.01 against DuckDB).
  */
class AnnSpec extends AnyFunSuite {
  import SparkFixture._

  private def ivf() =
    graft.api.SimilarityOps.ivfTopK(Tables.embeddings(spark, sf), "vec_id", "embedding",
      queryPred = col("vec_id") < 10, numSeeds = 8, k = 5)

  private def kmeansIvf() =
    graft.api.SimilarityOps.kmeansIvfTopK(Tables.embeddings(spark, sf), "vec_id", "embedding",
      queryPred = col("vec_id") < 10, k = 5, nClusters = 8, iters = 1, nprobe = 2)

  test("sim_ann_ivf returns 5 ranked neighbors per query from one bucket") {
    val rows = ivf().collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    for ((q, rs) <- byQ) {
      assert(rs.length <= 5)
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length), s"q=$q")
      val cosines = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(cosines.sameElements(cosines.sorted.reverse), s"not descending for q=$q")
    }
  }

  test("sim_ann_ivf recall vs brute force is sane (>= 20% at nprobe=1, 8 buckets)") {
    val ann = ivf().collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    // brute-force top-5 for the same queries
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val q = emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("e").as("q_e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    val brute = q.crossJoin(emb).filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(aggregate(zip_with(col("q_e"), col("e"), (x, y) => x * y),
        lit(0.0), (a, v) => a + v), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall=$recall (ivf=${ann.size}, brute=${brute.size})")
  }

  test("sim_ann_kmeans returns ranked neighbors and beats nprobe=1 recall floor") {
    val out = kmeansIvf().collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    for ((q, rs) <- byQ) {
      assert(rs.length <= 5)
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length), s"q=$q")
    }
    val kmeans = out.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val q = emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("e").as("q_e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    val brute = q.crossJoin(emb).filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(graft.functions.DotProduct.dot(col("q_e"), col("e")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = kmeans.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall (kmeans=${kmeans.size}, brute=${brute.size})")
  }

  test("sim_ann_graph: ranked output, bounded per-query work, recall above floor") {
    val out = graft.api.SimilarityOps.graphAnnTopK(
      Tables.embeddings(spark, sf), "vec_id", "embedding",
      queryPred = col("vec_id") < 10, k = 5).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    for ((q, rs) <- byQ) {
      assert(rs.length <= 5)
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length), s"q=$q")
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(cs.sameElements(cs.sorted.reverse), s"not descending for q=$q")
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q), s"self-match for q=$q")
    }
    val ann = out.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val q = emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("e").as("q_e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    val brute = q.crossJoin(emb).filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(graft.functions.DotProduct.dot(col("q_e"), col("e")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall (graph=${ann.size}, brute=${brute.size})")
  }

  test("every per-query top-k tier honors the shared rank/score contract") {
    // exact copies of the first 200 vectors under new ids: equal scores
    // occur, so the tie order (ascending neighbor_id) is exercised
    val base = Tables.embeddings(spark, sf)
    val emb = base.unionByName(
      base.filter(col("vec_id") < 200).withColumn("vec_id", col("vec_id") + 1000000L))
    val qp = col("vec_id") < 10
    var ties = 0
    val ops = graft.api.SimilarityOps
    val tiers = Seq(
      "ivfTopK" -> ops.ivfTopK(emb, "vec_id", "embedding", qp, numSeeds = 8, k = 5),
      "kmeansIvfTopK" -> ops.kmeansIvfTopK(emb, "vec_id", "embedding", qp,
        k = 5, nClusters = 8, iters = 1, nprobe = 2),
      "truncatedTopK" -> ops.truncatedTopK(emb, "vec_id", "embedding", qp, dims = 32, k = 5),
      "pqTopK" -> ops.pqTopK(emb, "vec_id", "embedding", qp, k = 5, m = 16, ksub = 16, iters = 3),
      "graphAnnSearch" -> ops.graphAnnSearch(emb, "vec_id", "embedding",
        ops.graphAnnAdjacency(emb, "vec_id", "embedding"), qp, k = 5))
    for ((tier, df) <- tiers) {
      assert(df.columns.take(3).sameElements(Seq("q_id", "rank", "neighbor_id")),
        s"$tier columns: ${df.columns.mkString(",")}")
      val byQ = df.collect().groupBy(_.getLong(0))
      assert(byQ.nonEmpty, s"$tier returned no query")
      for ((q, rs) <- byQ) {
        val ranked = rs.sortBy(_.getInt(1))
        val ids = ranked.map(_.getLong(2))
        val scores = ranked.map(_.getDouble(3))
        assert(ranked.length <= 5 && ranked.map(_.getInt(1)).sameElements(1 to ranked.length),
          s"$tier q=$q ranks ${ranked.map(_.getInt(1)).mkString(",")}")
        assert(!ids.contains(q) && ids.distinct.length == ids.length,
          s"$tier q=$q neighbors ${ids.mkString(",")}")
        for (i <- 1 until ranked.length) {
          if (scores(i) == scores(i - 1)) ties += 1
          assert(scores(i) < scores(i - 1) ||
            (scores(i) == scores(i - 1) && ids(i) > ids(i - 1)),
            s"$tier q=$q rank ${i + 1}: (${scores(i)}, ${ids(i)}) after " +
              s"(${scores(i - 1)}, ${ids(i - 1)})")
        }
      }
    }
    assert(ties > 0, "no equal scores: the tie order went unchecked")
  }

  test("declared ANN invariant reports are all-green (recall floors + brute top-1)") {
    for (name <- Seq("sim_ann_ivf", "sim_ann_kmeans", "sim_ann_graph")) {
      val rows = SparkEntry.queries(name)(spark, sf).collect()
      assert(rows.length == 10, s"$name: expected 10 query rows, got ${rows.length}")
      assert(rows.forall(_.getAs[Boolean]("recall_ok")), s"$name recall floor broken")
    }
  }

  test("simhash signatures collide for identical texts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark query join sort batch stream window"),
      (2L, "spark query join sort batch stream window"),
      (3L, "alpha beta gamma delta epsilon zeta eta")
    ).toDF("doc_id", "text")
    val pairs = graft.api.DedupOps.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"identical texts must collide: $pairs")
    assert(!pairs.exists(p => p._2 == 3L), s"distinct doc collided: $pairs")
  }

  test("simhash pairs near-duplicates within the Hamming ball, not only exact") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),                          // 40 shared tokens
      (2L, base + " extraword"),           // one token added -> few sign flips
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")) // disjoint vocab
    ).toDF("doc_id", "text")
    val rows = graft.api.DedupOps.simhashPairs(docs, "doc_id", "text").collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup (1 token off) must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"disjoint doc paired: $pairs")
    val hamming = rows.collectFirst {
      case r if (r.getLong(0), r.getLong(1)) == (1L, 2L) => r.getAs[Int]("hamming")
    }.get
    assert(hamming >= 0 && hamming <= 2, s"hamming=$hamming out of declared ball")
  }

  test("declared simhash reports recover every exact-duplicate pair") {
    for (name <- Seq("dedup_simhash", "dedup_simhash64")) {
      val row = SparkEntry.queries(name)(spark, sf).collect().head
      assert(row.getAs[Boolean]("all_dup_pairs_bucketed"), s"$name missed a dup pair")
    }
  }

  test("langid picks the language whose markers dominate crafted text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the then there another thing"), // en markers: th he in er an
      (2L, "schnell schweigen reichen eichen") // de markers: sch ch ei en er
    ).toDF("doc_id", "text")
    val preds = graft.api.TextOps.langId(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(preds(1L) == "en", s"got $preds")
    assert(preds(2L) == "de", s"got $preds")
  }

  test("langid is discriminative on the real corpus: continuous, non-tied scores") {
    // The synthetic corpus draws every lang's text from ONE shared
    // English-ish vocabulary (token shares ≈ the 43% base rate for every
    // token — label is independent of text), so majority-class accuracy
    // is the information-theoretic ceiling. What the scorer must NOT do
    // is tie: scores must vary with each document's character statistics.
    val docs = graft.Tables.documents(spark, sf)
    val out = graft.api.TextOps.langId(docs, "doc_id", "text").collect()
    val scores = out.map(_.getAs[Double]("pred_score")).distinct
    assert(scores.length > out.length / 4,
      s"scores collapse to ${scores.length} distinct values over ${out.length} docs")
    val truth = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val preds = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang"))
    val acc = preds.count { case (id, p) => truth(id) == p }.toDouble / preds.length
    val majority = truth.values.groupBy(identity).values.map(_.size).max
      .toDouble / truth.size
    assert(acc >= majority * 0.8,
      s"accuracy $acc far below the majority-class ceiling $majority on label-random text")
    // the declared invariant report must be all-valid
    val declared = SparkEntry.queries("text_langid")(spark, sf).collect()
    assert(declared.forall(_.getAs[Boolean]("pred_valid")))
  }

  test("emb_neardup_lsh is a verified subset of exact pairs with usable recall") {
    val emb = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exact = pairs(graft.api.SimilarityOps
      .nearDupPairs(emb, "vec_id", "embedding", threshold = 0.45))
    val lsh = pairs(graft.api.SimilarityOps
      .lshNearDupPairsAuto(emb, "vec_id", "embedding", threshold = 0.45))
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh.diff(exact).take(5)}")
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.5,
      s"recall ${lsh.size}/${exact.size} below 0.5")
    // the declared invariant report asserts the same three facts in-band
    // over the LINEAR md5-group pair sample (nearDupPairsSampled)
    val prefLen = graft.api.DedupOps.samplePrefixLen(emb.count())
    val exactSampled = pairs(graft.api.SimilarityOps
      .nearDupPairsSampled(emb, "vec_id", "embedding",
        threshold = 0.45, prefLen = prefLen))
    assert(exactSampled.subsetOf(exact),
      "sampled exact pairs must be a subset of the full exact tier")
    val report = SparkEntry.queries("emb_neardup_lsh")(spark, sf).collect().head
    assert(report.getAs[Long]("n_exact_pairs_sampled") == exactSampled.size)
    assert(report.getAs[Boolean]("lsh_subset_ok"))
    assert(report.getAs[Boolean]("recall_floor_met"))
  }

  test("64-bit simhash pairs identical texts and is a subset of the 32-bit pairs") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "spark query join sort batch stream window"),
      (2L, "spark query join sort batch stream window"),
      (3L, "alpha beta gamma delta epsilon zeta eta")
    ).toDF("doc_id", "text")
    val p64crafted = graft.api.DedupOps.simhashPairs(crafted, "doc_id", "text", bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p64crafted.contains((1L, 2L)), s"identical texts must collide at 64 bits: $p64crafted")
    assert(!p64crafted.exists(p => p._2 == 3L), s"distinct doc collided: $p64crafted")
    // bits 0-31 of the 64-bit signature ARE the 32-bit signature, so
    // hamming64 >= hamming32 and (with full band recall <= 3 bits on
    // both) the 64-bit pair set refines the 32-bit one
    val docs = Tables.documents(spark, sf)
    def pairs(bits: Int) = graft.api.DedupOps.simhashPairs(docs, "doc_id", "text", bits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(64).subsetOf(pairs(32)))
  }

  test("dedup_components_lsh clusters refine exact components and exact duplicates always cluster") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    // ground truth: exact token-Jaccard >= 4/5 pairs -> min-label CC
    val exact = graft.api.DedupOps.connectedComponents(
        graft.api.DedupOps.nearJaccardPairs(docs, "doc_id", "text")
          .select(col("id_a"), col("id_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = graft.api.DedupOps.connectedComponentsLogStar(
        graft.api.DedupOps.nearDupPipeline(docs, "doc_id", "text")
          .select(col("id_a"), col("id_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // refinement: two docs the LSH path clusters together must belong to
    // the same exact component (LSH pairs are a verified subset)
    lsh.groupBy(_._2).values.foreach { grp =>
      val exactComps = grp.map(d => exact(d._1)).distinct
      assert(exactComps.size === 1,
        s"LSH cluster spans exact components: $grp -> $exactComps")
    }
    // full recall on EXACT duplicates (identical text => identical
    // minhash signature => same buckets): every exact-dup group from
    // dedup_exact with >1 member must appear clustered
    val dupGroups = docs.groupBy(col("text"))
      .agg(org.apache.spark.sql.functions.collect_list(col("doc_id")).as("ids"))
      .filter(org.apache.spark.sql.functions.size(col("ids")) > 1)
      .collect().map(_.getSeq[Long](1))
    val lshComp = lsh.toMap
    dupGroups.foreach { ids =>
      val comps = ids.map(lshComp.get).distinct
      assert(comps.size === 1 && comps.head.nonEmpty,
        s"exact duplicates $ids not clustered: $comps")
    }
    // the declared invariant report: components of the md5-group-SAMPLED
    // exact pair graph (round-14 sampled-spine rework — the full exact
    // spine measured as the 100x wall) + refines_ok. A sampled edge is
    // an exact edge, so every sampled component must sit inside ONE
    // full exact component.
    val declared = SparkEntry.queries("dedup_components_lsh")(spark, sf).collect()
    assert(declared.nonEmpty)
    assert(declared.forall(_.getAs[Boolean]("refines_ok")))
    declared.groupBy(_.getLong(1)).values.foreach { grp =>
      val ec = grp.map(r => exact(r.getLong(0))).distinct
      assert(ec.size === 1,
        s"sampled component spans exact components: ${grp.toSeq} -> $ec")
    }
  }

  test("emb_neardup pairs all have cos >= 0.45 and appear in both directions-free form") {
    val rows = SparkEntry.queries("emb_neardup")(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("cos") >= 0.45))
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }

  test("multimodal metadata is consistent with payload bytes") {
    val out = SparkEntry.queries("mm_binary_meta")(spark, sf)
    assert(out.filter(col("meta_consistent") === false).count() === 0)
  }

  test("declared minhash report: every sampled exact J>=0.9 pair is an LSH candidate") {
    val row = SparkEntry.queries("dedup_minhash")(spark, sf).collect().head
    assert(row.getAs[Long]("n_docs") > 0)
    assert(row.getAs[Boolean]("all_strong_candidates"),
      s"minhash candidates missed a strong pair " +
        s"(of ${row.getAs[Long]("n_strong_pairs_sampled")})")
  }

  test("declared pipeline output equals the sampled exact strong-pair set") {
    val docs = Tables.documents(spark, sf)
    val pipeline = SparkEntry.queries("dedup_pipeline")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefLen = graft.api.DedupOps.samplePrefixLen(docs.count())
    val sampled = graft.api.DedupOps.nearJaccardPairsSampled(
        docs, "doc_id", "text", num = 9, den = 10, prefLen = prefLen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.api.DedupOps.nearJaccardPairs(
        docs, "doc_id", "text", num = 9, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the sample is the intra-md5-group restriction of the exact tier
    assert(sampled.subsetOf(exact),
      s"sampled pairs outside the exact tier: ${sampled.diff(exact).take(3)}")
    assert(pipeline == sampled,
      s"pipeline ${pipeline.size} pairs vs sampled exact ${sampled.size}; " +
        s"missed=${sampled.diff(pipeline).take(3)} extra=${pipeline.diff(sampled).take(3)}")
  }
}
