package graft

import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Multimodal, SimilarityOps, TextOps}

class OpsSpec extends SparkSuite {

  test("minhash LSH finds every perturbed twin pair (jaccard >= 0.5)") {
    val pairs = DedupOps.minhashDedup(spark, sf)
      .filter(col("b") === col("a") + 1000000L)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    // a twin shares all but ~2 of ~78 shingles -> jaccard ~0.95; LSH with
    // 8 bands of 4 rows catches pairs this similar with prob ~1
    assert(pairs.count() >= (nDocs * 0.95).toLong)
  }

  test("minhash jaccard values are exact (twin pair ratio checks out)") {
    val one = DedupOps.minhashDedup(spark, sf)
      .filter(col("b") === col("a") + 1000000L)
      .agg(min(col("jaccard")), max(col("jaccard"))).collect()(0)
    assert(one.getDouble(0) > 0.5 && one.getDouble(1) <= 1.0)
  }

  test("MinHashSig narrow signature path equals the exploded aggregate path") {
    val base = DedupOps.withTwins(spark.read.parquet(s"$sf/documents.parquet"))
    // signatures: every doc, every permutation minimum, bit-identical
    val legacy = DedupOps.signatures(base)
    val fast = DedupOps.signatureArray(base)
    val joined = legacy.join(fast, Seq("doc_id"))
    val mismatch = (0 until DedupOps.NumPerms).map(i =>
      when(!(col(s"m$i") <=> element_at(col("sig"), i + 1)), 1).otherwise(0))
      .reduce(_ + _)
    assert(joined.filter(mismatch > 0).count() == 0,
      "narrow MinHashSig must reproduce every exploded-form permutation minimum")
    assert(legacy.count() == fast.count())
    // candidate pairs identical end-to-end
    val legacyCand = DedupOps.minhashCandidatesFromShingles(DedupOps.shingleSet(base))
    val fastCand = DedupOps.minhashCandidates(base)
    assert(fastCand.except(legacyCand).count() == 0 &&
      legacyCand.except(fastCand).count() == 0)
    // short docs (< 3 tokens): the narrow path degrades to a null
    // signature -> null band keys (grouped, still MaxBucket-capped);
    // the exploded form excludes them at the shingle source — no
    // trigram exists — where pre-r8 it crashed under ANSI mode on the
    // out-of-range _t[i+1] subscript (AdviceRegressionSpec pins the
    // ANSI behavior end-to-end)
    import spark.implicits._
    val shorties = Seq((1L, "only two"), (2L, "tiny doc"), (3L, "a b c d")).toDF("doc_id", "text")
    val fastK = DedupOps.bandKeys(shorties)
    assert(fastK.filter(col("band_key").isNull).count() == 16) // 2 short docs x 8 bands
    assert(fastK.filter(col("band_key").isNotNull).count() == 8) // the 4-token doc
    val explodedK = DedupOps.bandKeysFromShingles(DedupOps.shingleSet(shorties))
    assert(explodedK.count() == 8 && explodedK.filter(col("band_key").isNull).count() == 0)
  }

  test("all-pairs sparse cosine: identical docs hit exactly, shared-but-dissimilar docs are cut") {
    import spark.implicits._
    val d = Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta epsilon", // identical to 1
      3L -> "zeta eta theta iota kappa",      // disjoint from everything
      4L -> "alpha beta gamma zeta eta theta" // shares ONE trigram with 1 -> candidate, sub-threshold
    ).toDF("doc_id", "text")
    val got = DedupOps.allPairsSparseOf(d).collect()
    assert(got.length == 1, s"only the identical pair passes, got ${got.toSeq}")
    val r = got(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // identical vectors: dot == |a|^2 == |b|^2 exactly (cosine 1 in integers)
    assert(r.getLong(2) == r.getLong(3) && r.getLong(3) == r.getLong(4))
  }

  test("all-pairs sparse cosine: fixture invariants — twin recall and exact threshold algebra") {
    val out = DedupOps.allPairsSparse(spark, sf).cache()
    val rows = out.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)), "pairs are canonical a < b")
    // every emitted pair satisfies the 128-bit threshold inequality it claims
    val t2 = BigInt(DedupOps.AllPairsTholdMilli) * BigInt(DedupOps.AllPairsTholdMilli)
    assert(rows.forall { r =>
      val dot = BigInt(r.getLong(2)); val na2 = BigInt(r.getLong(3)); val nb2 = BigInt(r.getLong(4))
      dot * dot * 1000000 >= t2 * na2 * nb2 && dot > 0 && na2 > 0 && nb2 > 0
    })
    // a twin differs by one trailing token: its tf-idf trigram vector is
    // nearly its original's, so the self-join must recover (id, id+1e6)
    // for nearly every doc long enough to shingle
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    val twins = rows.count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(twins >= total * 9 / 10, s"twin recall too low: $twins of $total")
    out.unpersist()
  }

  test("source overlap: hand corpus — identical sources saturate, disjoint pairs at zero") {
    import spark.implicits._
    val d = Seq(
      ("a", "w1 w2 w3 w4 w5"),        // a and b share EVERYTHING
      ("b", "w1 w2 w3 w4 w5"),
      ("c", "x1 x2 x3 x4 x5"),        // c shares nothing with a/b
      ("d", "w1 w2 w3 y1 y2 y3 y4")   // d shares exactly ONE trigram with a/b
    ).toDF("source", "text")
    val got = DedupOps.sourceOverlapOf(d)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._6)).toMap
    assert(got(("a", "b")) == ((3L, 1000L)), "identical sources: full overlap, jaccard 1000")
    assert(!got.contains(("a", "c")) && !got.contains(("b", "c")),
      "disjoint sources produce no pair row")
    assert(got(("a", "d")) == ((1L, 1000L / 7)), "one shared trigram of 3 vs 5")
  }

  test("source overlap: fixture matrix invariants") {
    val out = DedupOps.sourceOverlap(spark, sf).cache()
    val rows = out.collect()
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source")).distinct().count()
    // the small-vocab fixture guarantees every source pair shares SOME trigram
    assert(rows.length == nSources * (nSources - 1) / 2)
    assert(rows.forall(r => r.getString(0) < r.getString(1)))
    assert(rows.forall { r =>
      val (inter, n1, n2, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      inter >= 1 && inter <= math.min(n1, n2) &&
        j == inter * 1000 / (n1 + n2 - inter) && j >= 0 && j <= 1000
    })
    out.unpersist()
  }

  test("LmVocabCap binds: a corpus with more than LmVocabCap token types collapses the tail to <oov>") {
    import spark.implicits._
    import graft.ops.TextOps
    // 3 frequent types (count 90 each) + 30 singletons = 33 types > cap
    val freq = Seq.fill(30)("alpha beta gamma").mkString(" ")
    val corpus = (1L to 30L).map(i => (i, s"$freq rare${"%02d".format(i)}")).toDF("doc_id", "text")
    val mapped = TextOps.withLmTokens(corpus)
      .select(explode(col("_mt")).as("w")).groupBy(col("w")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the cap binds: ≤ cap+1 surviving types, the OOV bucket present
    assert(mapped.size <= TextOps.LmVocabCap + 1 && mapped.size == TextOps.LmVocabCap + 1)
    // independent reference of the selection rule (count desc, token asc)
    val raw = corpus.select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).count().collect().map(r => r.getString(0) -> r.getLong(1))
    val expectKeep = raw.sortBy { case (w, c) => (-c, w) }
      .take(TextOps.LmVocabCap).map(_._1).toSet
    assert(mapped.keySet - TextOps.OovToken == expectKeep)
    // conservation: the OOV bucket holds exactly the pruned tail's mass
    val prunedMass = raw.filterNot(t => expectKeep(t._1)).map(_._2).sum
    assert(mapped(TextOps.OovToken) == prunedMass && prunedMass > 0)
    // and the model tables downstream are bounded by the CONSTANT, not
    // the corpus: bigram types ≤ (cap+1)^2 — the 100x-safe broadcast
    val biTypes = TextOps.withLmTokens(corpus)
      .select(col("doc_id"), col("_mt").as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_t) - 1), i -> struct(_t[i-1] AS w1, _t[i] AS w2))")).as("b"))
      .select(col("b.w1"), col("b.w2")).distinct().count()
    assert(biTypes <= (TextOps.LmVocabCap + 1L) * (TextOps.LmVocabCap + 1L))
  }

  test("kneser-ney: matches an independent reference model; exact normalization over the vocab") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "san francisco the cat sat here",
      2L -> "san francisco the dog ran there",
      3L -> "the cat saw the dog by here",
      4L -> "san francisco the cat and the dog")
    // independent Scala reference of the exact integer model
    val docsT = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }
    val allBi = docsT.flatMap { case (id, t) => t.zip(t.tail).map(p => (id, p)) }
    val c12 = allBi.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val fwd = c12.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val cont = c12.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val b = c12.size.toLong
    def pMicro(w1: String, w2: String): Long =
      ((math.max(4 * c12((w1, w2)) - 3, 0) * b + 3 * fwd(w1) * cont(w2)) * 1000000L /
        (4 * c1(w1) * b))
    val want = docsT.map { case (id, t) =>
      val lps = t.zip(t.tail).map { case (w1, w2) =>
        math.round(1000 * StrictMath.log(pMicro(w1, w2) / 1000000.0))
      }
      (id, lps.size.toLong, lps.sum)
    }.sortBy(_._1)
    val got = TextOps.knPerplexityOf(corpus.toDF("doc_id", "text"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_logp_milli"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    // the KN identity: over the FULL vocabulary (observed + backed-off
    // continuations) each context's probabilities sum to EXACTLY 1 —
    // verified in BigInt rationals, no floats anywhere
    val vocabAfter = cont.keySet
    for (w1 <- c1.keys) {
      val num = vocabAfter.toSeq.map { w2 =>
        val discounted =
          if (c12.contains((w1, w2))) BigInt(4 * c12((w1, w2)) - 3) * b else BigInt(0)
        discounted + BigInt(3) * fwd(w1) * cont(w2)
      }.sum
      assert(num == BigInt(4) * c1(w1) * b, s"context '$w1' mass != 1")
    }
    // the continuation insight: 'francisco' is frequent (3×) but ONLY
    // ever follows 'san' -> its continuation count is minimal
    assert(cont("francisco") == 1L && c1("san") == 3L)
  }

  test("fuzzy linkage: every typo probe resolves to its original's name at distance 1") {
    val out = graft.ops.LinkageOps.fuzzyMatch(spark, sf).cache()
    val master = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"), lower(col("p_name")).as("orig_name"))
    val nProbes = master.filter(col("p_partkey") % 10 === 0).count()
    assert(out.count() == nProbes, "every probe must find a match (its original is in-block)")
    // the original is always a candidate at edit distance exactly 1, so the
    // best match can never be worse
    assert(out.filter(col("dist") > 1L).count() == 0)
    // ground truth: for dist-1 matches the matched NAME is the original's
    // (the matched partkey may be a smaller key sharing that exact name —
    // correct under the deterministic (dist, key) tie-break)
    val j = out.join(master.withColumnRenamed("p_partkey", "orig_key"),
      col("probe_id") === col("orig_key") + 1000000L)
    assert(j.filter(col("dist") === 1L && col("matched_name") =!= col("orig_name")).count() == 0)
    assert(out.filter(col("n_candidates") < 1L).count() == 0)
    out.unpersist()
  }

  test("matryoshka ANN: dense ranks, exact re-rank on the shortlist, recall above the measured floor") {
    // Recall floor pinned at BOTH scale factors (round-12: the budget is
    // now scale-adaptive — max(192, ceil(N/5))/half — measured 0.82 @
    // sf0.01 192/96 and 0.80 @ sf0.1 400/200, vs 0.62 at the old fixed
    // budget; curve in SCALE.md). The fixture's embeddings are untrained
    // and near-isotropic, so a FIXED budget is information-bounded and
    // must decay with N — the adaptive fraction is what holds the floor.
    // A broken stage (single-64 shortlist → 0.54, random → ~0.15) fails
    // loudly at either sf.
    for (sfDir <- Seq(sf, "/root/testdata/sf0.1")) {
      val full = graft.ops.SimilarityOps.annBruteForce(spark, sfDir).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val mat = graft.ops.SimilarityOps.annMatryoshka(spark, sfDir).collect()
      val byQ = mat.groupBy(_.getLong(0))
      assert(byQ.keySet == full.keySet, "every probe must answer")
      // ranks dense 1..K per probe; cosines non-increasing along the rank
      byQ.values.foreach { rs =>
        val sorted = rs.sortBy(_.getLong(3))
        assert(sorted.map(_.getLong(3)).toSeq == (1L to graft.ops.SimilarityOps.TopK.toLong))
        val cs = sorted.map(_.getDouble(2))
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      }
      val recalls = byQ.map { case (q, rs) =>
        rs.map(_.getLong(1)).count(full(q)).toDouble / full(q).size
      }
      val avg = recalls.sum / recalls.size
      assert(avg >= 0.75, f"matryoshka recall $avg%.2f below the 0.75 floor at $sfDir")
    }
  }

  test("golden record: the consensus-closest member survives, audit stats tile the clusters") {
    val matches = graft.ops.LinkageOps.fuzzyMatch(spark, sf).cache()
    val out = graft.ops.LinkageOps.goldenRecord(spark, sf).cache()
    assert(out.count() == matches.select(col("matched_part")).distinct().count(),
      "one golden record per matched entity")
    // the survivor is always the match spine's name (edit distance 0 to
    // itself — probes sit at >= 1), never a corrupted variant
    val bad = out.join(matches,
        col("entity_id") === col("matched_part"))
      .filter(col("canonical_name") =!= col("matched_name"))
    assert(bad.count() == 0, "survivorship must elect the dist-0 master name")
    // audit stats: members = probes + the master row, variants >= 2
    // (every probe differs from its master), absorbed distance >= probes
    val stats = out.agg(
      sum(col("n_records")).as("members"),
      min(col("n_name_variants")).as("minv"),
      sum(col("total_dist")).as("dist")).head
    assert(stats.getLong(0) == matches.count() + out.count())
    assert(stats.getLong(1) >= 2L)
    assert(stats.getLong(2) >= matches.count())
    matches.unpersist(); out.unpersist()
  }

  test("hierarchical blocking: oversized level-0 blocks refine by brand instead of dropping") {
    // cap 4 forces refinement of most level-0 name blocks at spec sf —
    // the same pressure sf0.1 puts on the default 256 cap (where flat
    // cap-and-drop degenerated to zero candidates, round-10 bench)
    val pairs = graft.ops.LinkageOps.fsPairsAt(spark, sf, 4L).cache()
    val nProbes = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_partkey") % 10 === 0).count()
    // recall: brand survives the corruption model, so every probe's
    // original stays in the refined block
    assert(pairs.filter(col("probe_id") === col("p_partkey") + 1000000L).count() == nProbes,
      "every true pair must survive blocking refinement")
    // bound: refined blocks hold <= cap masters, so no probe fans out wider
    assert(pairs.groupBy(col("probe_id")).count()
      .agg(max(col("count"))).head.getLong(0) <= 4L)
    pairs.unpersist()
  }

  test("Fellegi-Sunter EM learns to separate true pairs from block-mates without labels") {
    val out = graft.ops.LinkageOps.fsEm(spark, sf).cache()
    // the true pair (probe vs its own original) agrees on every field:
    // name within edit distance (g1) and preserved brand/type/size
    val truePairs = out.filter(col("probe_id") === col("p_partkey") + 1000000L).cache()
    val nProbes = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_partkey") % 10 === 0).count()
    assert(truePairs.count() == nProbes,
      "every probe's original must survive blocking as a candidate pair")
    assert(truePairs.filter(!col("is_match")).count() == 0,
      "EM must classify every all-agree true pair as a match")
    // unsupervised separation: a pair agreeing on nothing must score as
    // a clear non-match (posterior below the decision boundary)
    val disagree = out.filter(col("g1") + col("g2") + col("g3") + col("g4") === 0L)
    assert(disagree.count() > 0, "blocks must contain non-matching candidates")
    assert(disagree.filter(col("is_match")).count() == 0,
      "EM must not attribute all-disagree pairs to the match class")
    // the fitted posterior must actually separate the classes, not sit
    // at the 500 boundary: check a wide margin on both sides
    assert(truePairs.agg(min(col("w_milli"))).head.getLong(0) >= 900L)
    assert(disagree.agg(max(col("w_milli"))).head.getLong(0) <= 100L)
    truePairs.unpersist(); out.unpersist()
  }

  test("OPH minhash: twins recalled, pairs exact-verified, densification deterministic") {
    val base = DedupOps.withTwins(spark.read.parquet(s"$sf/documents.parquet"))
    val pairs = graft.ops.DedupOps.ophDedupFrom(base).cache()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    // twins share ~all shingles -> every densified slot collides with
    // prob ~jaccard ~0.95; 8 bands of 4 rows catch them with prob ~1
    assert(pairs.filter(col("b") === col("a") + 1000000L).count() >= (nDocs * 0.95).toLong)
    // exact verify tail: nothing below the jaccard threshold leaks out
    assert(pairs.filter(col("jaccard") < 0.5).count() == 0)
    // deterministic: re-run is row-identical (the rotation borrow is a
    // pure function of the bin occupancy pattern)
    val again = graft.ops.DedupOps.ophDedupFrom(base)
    assert(pairs.exceptAll(again).count() == 0 && again.exceptAll(pairs).count() == 0)
    // null contract matches the classic expression: < 3 tokens -> null
    import spark.implicits._
    val shorty = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sigs = graft.ops.DedupOps.ophSignatureArray(shorty)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(sigs(1L) && !sigs(2L))
    pairs.unpersist()
  }

  test("simhash near-dup finds twins with tiny hamming distance") {
    val pairs = DedupOps.simhashNearDup(spark, sf)
    assert(pairs.count() > 0)
    assert(pairs.filter(col("b") === col("a") + 1000000L).count() > 0)
    assert(pairs.filter(col("hamming") > 2).count() == 0)
  }

  test("embedding cosine near-dup: every vector pairs with its 1.001x twin") {
    val pairs = DedupOps.embeddingNearDup(spark, sf)
      .filter(col("b") === col("a") + 1000000L)
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // scaling by 1.001 leaves cosine == 1 up to fp noise; LSH buckets are
    // sign-based so twins land together w.p. ~1
    assert(pairs.count() == n)
    assert(pairs.filter(col("cos") < 0.9999).count() == 0)
  }

  test("brute-force ANN: self-consistent ranks and cosine bounds") {
    val topk = SimilarityOps.annBruteForce(spark, sf)
    assert(topk.count() == SimilarityOps.ProbeIds * SimilarityOps.TopK)
    assert(topk.filter(col("cos") > 1.0001 || col("cos") < -1.0001).count() == 0)
    // ranks are dense 1..K per query
    val bad = topk.groupBy("q_id").agg(countDistinct("rank").as("n"), max("rank").as("mx"))
      .filter(col("n") =!= SimilarityOps.TopK || col("mx") =!= SimilarityOps.TopK)
    assert(bad.count() == 0)
  }

  test("LSH ANN recall against brute force is useful (>40% top-10 overlap)") {
    // weak neighbors (cos 0.24-0.40 on random vectors) are LSH's hardest
    // case; 8 tables × 4 bits gives expected per-pair recall ~0.7
    val bf = SimilarityOps.annBruteForce(spark, sf).select("q_id", "c_id")
    val lsh = SimilarityOps.annLsh(spark, sf).select("q_id", "c_id")
    val overlap = bf.intersect(lsh).count()
    assert(overlap.toDouble / (SimilarityOps.ProbeIds * SimilarityOps.TopK) > 0.4,
      s"LSH recall too low: $overlap")
  }

  test("kNN graph: scaled twins are each other's top-1 neighbor") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val twins = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, x -> CAST(x * 1.001 AS FLOAT))").as("embedding"))
    val g = SimilarityOps.knnGraphOf(emb.select("vec_id", "embedding").unionByName(twins))
    val n = emb.count()
    // positive scaling preserves every hyperplane sign, so each twin
    // shares all 8 buckets with its original; cos == 1 up to fp noise
    // beats every other candidate
    val top1 = g.filter(col("rank") === 1)
    assert(top1.filter(col("nn_id") === col("vec_id") + 1000000L ||
      col("nn_id") === col("vec_id") - 1000000L).count() == 2 * n)
    assert(top1.filter(col("cos") < 0.9999).count() == 0)
  }

  test("kNN graph: registered query invariants and brute-force agreement") {
    val g = SimilarityOps.knnGraph(spark, sf)
    assert(g.filter(col("vec_id") === col("nn_id")).count() == 0, "self loop")
    // dense ranks from 1, cos non-increasing within each source
    val bad = g.groupBy("vec_id").agg(
        countDistinct("rank").as("n"), max("rank").as("mx"), count(lit(1)).as("c"))
      .filter(col("n") =!= col("c") || col("mx") =!= col("c") ||
        col("mx") > SimilarityOps.KnnK)
    assert(bad.count() == 0)
    // the graph's edges for the ANN probes mostly land inside the
    // brute-force top-10 (graph ranks exact cosine over the same LSH
    // candidate sets the ANN-recall test measures at >40%)
    val probes = g.filter(col("vec_id") < SimilarityOps.ProbeIds)
      .select(col("vec_id").as("q_id"), col("nn_id").as("c_id"))
    val bf = SimilarityOps.annBruteForce(spark, sf).select("q_id", "c_id")
    val nEdges = probes.count()
    assert(nEdges > 0)
    val overlap = probes.intersect(bf).count()
    assert(overlap.toDouble / nEdges >= 0.5,
      s"kNN-graph/brute-force overlap too low: $overlap/$nEdges")
  }

  test("SQ ANN: 8-bit codes preserve the exact inner-product ranking almost perfectly") {
    import org.apache.spark.sql.functions.expr
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the codebook is eager and local: running the operator leaves
    // nothing persisted behind
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    SimilarityOps.sqTopK(emb).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == persisted)
    val sq = SimilarityOps.sqTopK(emb).select("q_id", "c_id")
    // exact full-precision inner-product top-k (same metric, unquantized)
    val probes = emb.filter(col("vec_id") < SimilarityOps.ProbeIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ip").desc, col("c_id"))
    val exact = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(probes))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), expr(
        "aggregate(zip_with(q_emb, c_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, x) -> a + x)")
        .as("ip"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= SimilarityOps.TopK)
      .select("q_id", "c_id")
    val overlap = sq.intersect(exact).count()
    assert(overlap.toDouble / (SimilarityOps.ProbeIds * SimilarityOps.TopK) >= 0.8,
      s"SQ recall vs exact IP too low: $overlap")
    // codes are within the 8-bit range
    val codes = SimilarityOps.sqCodes(emb)
    assert(codes.filter(expr("exists(code, c -> c < 0 OR c > 255)")).count() == 0)
  }

  test("PQ ANN: codes cover every (vector, subspace); reranked recall beats 0.6") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cb = SimilarityOps.pqCodebook(emb)
    assert(cb.count() == SimilarityOps.PqM.toLong * SimilarityOps.PqK)
    val codes = SimilarityOps.pqCodes(emb, cb)
    // exactly one codeword per (vector, subspace), all in [0, K)
    assert(codes.count() == emb.count() * SimilarityOps.PqM)
    assert(codes.filter(col("k") < 0L || col("k") >= SimilarityOps.PqK.toLong).count() == 0)
    // two-stage recall vs the exact inner-product top-10
    val probes = emb.filter(col("vec_id") < SimilarityOps.ProbeIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("c_id"))
    val exact = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      .crossJoin(broadcast(probes))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("q_emb"), col("c_emb"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, v) => a + v).as("ip"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= SimilarityOps.TopK)
      .select(col("q_id"), col("c_id"))
    val pq = SimilarityOps.pqTopK(emb).select(col("q_id"), col("c_id"))
    val hit = exact.intersect(pq).count().toDouble
    val total = exact.count().toDouble
    assert(hit / total >= 0.6, s"reranked recall ${hit / total}")
  }

  test("materialized LSH index is partition-pruned and query-equivalent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    SimilarityOps.writeLshIndex(emb, dir)
    val viaIndex = SimilarityOps.lshTopKFromIndex(spark, dir)
    val direct = SimilarityOps.lshTopK(emb)
    assert(viaIndex.except(direct).count() == 0 && direct.except(viaIndex).count() == 0)
    // a (tbl, bucket) predicate must reach the scan as a PARTITION filter,
    // i.e. directory pruning, not a data filter over the whole corpus
    val probe = spark.read.parquet(dir)
      .filter(col("tbl") === 0 && col("bucket") === 3)
    val scan = probe.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty, "expected partition-level pruning")
  }

  test("centroid Aggregator: mean of vectors, mergeable across partitions") {
    import spark.implicits._
    val data = Seq(Seq(1.0f, 3.0f), Seq(3.0f, 5.0f), Seq(5.0f, 1.0f))
    val ds = spark.createDataset(data).repartition(3) // force partial merges
    val got = ds.select(graft.ops.VectorAgg.centroid(2)).collect()(0)
    assert(got == Seq(3.0, 3.0))
  }

  test("IVF ANN probes nearest cells and recalls most of brute-force top-10") {
    val bf = SimilarityOps.annBruteForce(spark, sf).select("q_id", "c_id")
    val ivf = graft.ops.VectorAgg.annIvf(spark, sf).select("q_id", "c_id")
    val overlap = bf.intersect(ivf).count()
    // random labels make cells uninformative, but 3/10 probed cells must
    // still recall roughly >= 30% of the true top-10
    assert(overlap.toDouble / (SimilarityOps.ProbeIds * SimilarityOps.TopK) > 0.15,
      s"IVF recall too low: $overlap")
  }

  test("semantic dedup drops every twin, keeps its original, touches nothing else") {
    val drops = graft.ops.DedupOps.semanticDedup(spark, sf)
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // every 1.001x twin is cosine-identical to its original and lands in
    // its cell: exactly one drop per twin, keep = the original id
    assert(drops.count() == n, s"expected $n drops, got ${drops.count()}")
    assert(drops.filter(col("doc_id") < 1000000L).count() == 0,
      "no original may be dropped")
    assert(drops.filter(col("keep_id") =!= col("doc_id") - 1000000L).count() == 0,
      "every twin must keep its own original")
  }

  test("IVF over trained k-means cells bows above the random-label diagonal") {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val curve = graft.ops.TrainedIvf.curve(spark, sf, Seq(1, 2, 4))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "curve must release every block it checkpointed")
    info("kmeans-cell IVF: " + curve.map(p =>
      f"nprobe=${p.nprobe} recall=${p.recall}%.3f scanned=${p.scanned}%.3f").mkString("; "))
    // random-label cells gave recall ≈ scanned fraction (the diagonal,
    // SCALE.md); trained cells must concentrate true neighbors — demand
    // a clear bow above the diagonal at every operating point
    curve.foreach { p =>
      assert(p.recall >= 1.3 * p.scanned,
        f"nprobe=${p.nprobe}: recall ${p.recall}%.3f did not beat 1.3x scanned ${p.scanned}%.3f")
    }
  }

  test("trained-cell IVF at sf0.1: recall@10 >= 0.55 at nprobe=8 (and >= 0.40 at 4)") {
    // operating floors at the larger scale where the corpus-derived cell
    // count (kFor ~ 32 cells) actually bites. The PRIMARY floor sits at
    // nprobe=8 with real margin (measured 0.68 after the Iters=5 train
    // bump — r8's nprobe=4 floor held at exactly 0.50, one fixture
    // re-roll from red); nprobe=4 keeps a loose sanity floor (measured
    // 0.52) so the tighter dial stays covered without margin-less specs.
    val curve = graft.ops.TrainedIvf.curve(spark, "/root/testdata/sf0.1", Seq(4, 8))
    curve.foreach(p => info(f"sf0.1 trained cells: nprobe=${p.nprobe} " +
      f"recall=${p.recall}%.3f scanned=${p.scanned}%.3f qps=${p.qps}%.1f"))
    val Seq(p4, p8) = curve
    assert(p8.recall >= 0.55,
      f"recall@10 at nprobe=8 on trained cells: ${p8.recall}%.3f < 0.55")
    assert(p4.recall >= 0.40,
      f"recall@10 at nprobe=4 on trained cells: ${p4.recall}%.3f < 0.40")
  }

  test("IVF recall-vs-nprobe curve is monotone and saturates to exhaustive") {
    val bf = SimilarityOps.annBruteForce(spark, sf).select("q_id", "c_id").localCheckpoint()
    val denom = (SimilarityOps.ProbeIds * SimilarityOps.TopK).toDouble
    val curve = Seq(1, 2, 4, 8, 10).map { np =>
      val ivf = graft.ops.VectorAgg.annIvf(spark, sf, nprobe = np).select("q_id", "c_id")
      np -> bf.intersect(ivf).count().toDouble / denom
    }
    info(s"IVF recall@10 by nprobe: ${curve.map { case (n, r) => f"$n->$r%.3f" }.mkString(", ")}")
    // more probed cells can only add candidates: recall is nondecreasing
    curve.sliding(2).foreach { case Seq((n1, r1), (n2, r2)) =>
      assert(r2 >= r1, f"recall fell from $r1%.3f (nprobe=$n1) to $r2%.3f (nprobe=$n2)")
    }
    // nprobe = all 10 cells IS brute force (same tie-break ordering)
    assert(curve.last._2 == 1.0, s"exhaustive probe must equal brute force: ${curve.last}")
    // the documented operating point
    val at4 = curve.find(_._1 == 4).get._2
    assert(at4 >= 0.35, f"recall at nprobe=4 too low: $at4%.3f")
  }

  test("deterministic k-means: full partition, deterministic, k*dim centroid rows") {
    val a = graft.ops.Clustering.kmeans(spark, sf)
    val nEmb = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(a.count() == graft.ops.Clustering.kFor(nEmb) * graft.ops.Clustering.Dim)
    // every vector lands in exactly one cluster
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val members = a.select("cluster", "n_members").distinct()
      .agg(sum("n_members")).collect()(0).getLong(0)
    assert(members == n)
    // pure function of the data: a second run is identical
    val b = graft.ops.Clustering.kmeans(spark, sf)
    assert(a.collect().sameElements(b.collect()))
  }

  test("centroid assignment: NearestCentroid expression equals both legacy plan shapes") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.ops.Clustering.trainCentroids(spark, sf, k = 12)
    val viaLiteral = graft.ops.Clustering.assignLiteral(emb, cents)
      .select("vec_id", "cluster")
    val viaJoin = graft.ops.Clustering.assignBroadcast(emb, cents)
      .select("vec_id", "cluster")
    val viaExpr = graft.ops.Clustering.assign(emb, cents)
      .select("vec_id", "cluster")
    assert(viaLiteral.except(viaJoin).count() == 0 &&
      viaJoin.except(viaLiteral).count() == 0,
      "the two legacy assignment plan shapes must pick identical cells")
    assert(viaExpr.except(viaLiteral).count() == 0 &&
      viaLiteral.except(viaExpr).count() == 0,
      "the NearestCentroid codegen argmin must pick identical cells")
    // and the cell count really is corpus-derived and monotone
    import graft.ops.Clustering.kFor
    assert(kFor(1) == 8 && kFor(512) == 8 && kFor(1000) == 16 && kFor(10000) == 157)
  }

  test("semantic dedup caps oversized cells: bounded pair work, groups within buckets still found") {
    val s0 = spark
    import s0.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(j => (((seed * 31 + j * 7) % 13) - 6).toFloat)
    // ONE cell of 320 rows — past MaxCell=256, the case round 5 would have
    // self-joined quadratically: a 200-copy clique (identical vector ->
    // one LSH bucket of 200 > MaxBucket=64 -> capped out) plus 6 groups
    // of 20 copies (same-bucket, under the cap -> all pairs found)
    val rows = (0 until 200).map(i => (i.toLong, vec(1))) ++
      (0 until 6).flatMap(g => (0 until 20).map(i => (1000L + g * 100 + i, vec(2 + g))))
    val asg = rows.toDF("vec_id", "embedding")
      .withColumn("cluster", lit(0L))
      .withColumn("nrm", sqrt(graft.functions.FloatDot(col("embedding"), col("embedding"))))
    val pairs = graft.ops.DedupOps.semanticPairs(asg).localCheckpoint()
    // every within-group pair of the under-cap groups is found (cos = 1)
    val sameGroup = pairs.filter(col("a") >= 1000L &&
      floor(col("a") / 100) === floor(col("b") / 100))
    assert(sameGroup.count() == 6L * (20 * 19 / 2),
      "under-cap buckets inside an oversized cell must yield all pairs")
    // the degenerate clique is capped, not quadratically joined
    assert(pairs.filter(col("a") < 1000L && col("b") < 1000L).count() == 0,
      "an over-MaxBucket clique inside an oversized cell must be dropped, not exploded")
  }

  test("containment flags every excerpt against its source at exactly 1.0") {
    val c = DedupOps.containment(spark, sf)
    val selfPairs = c.filter(col("b") === col("a") - 2000000L)
    // a first-half excerpt's shingles are a subset of its source's, so
    // containment is exactly 1.0 for every probe (docs are all > 6 tokens)
    assert(selfPairs.count() == DedupOps.ContainProbes)
    assert(selfPairs.filter(col("containment") =!= 1.0).count() == 0)
    // asymmetry: the same pairs' Jaccard would be well below 1 (source is
    // about twice the excerpt), which is the point of containment
    assert(c.filter(col("containment") > 1.0).count() == 0)
  }

  test("bm25: top-k ordered desc, positive scores, per-term idf monotone in df") {
    val r = graft.ops.TextOps.bm25TopK(spark, sf).collect()
    assert(r.length == graft.ops.TextOps.Bm25TopK)
    // descending micro-score with doc_id tiebreak, all positive
    val micro = r.map(_.getAs[Long]("bm25_micro"))
    assert(micro.zip(micro.tail).forall { case (x, y) => x >= y })
    assert(micro.forall(_ > 0))
    assert(r.forall(_.getAs[Long]("n_terms") <= graft.ops.TextOps.Bm25Terms.size))
    // bm25 is exactly the micro score scaled
    assert(r.forall(row =>
      row.getAs[Double]("bm25") == row.getAs[Long]("bm25_micro").toDouble / 1000000))
    // plan shape: top-k must be TakeOrdered (no global sort) and the
    // df/stats joins broadcast (no shuffle join for vocabulary-sized dims)
    val plan = graft.ops.TextOps.bm25TopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "df/stats must broadcast")
  }

  test("rm3: deterministic two-pass rescore, weighted-term bounds, feedback overlap") {
    val t = graft.ops.TextOps
    val a = t.rm3Rescore(spark, sf).collect()
    assert(a.length == t.Rm3Feedback)
    // rerun is bit-identical (the bounded expansion-term collect is a
    // pure function of the corpus)
    val b = t.rm3Rescore(spark, sf).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // descending milli-micro score, doc_id tiebreak, all positive
    val s = a.map(_.getAs[Long]("rm3_milli_micro"))
    assert(s.zip(s.tail).forall { case (x, y) => x >= y })
    assert(s.forall(_ > 0))
    // a doc can match at most seed + expansion terms
    assert(a.forall(_.getAs[Long]("n_terms") <=
      (t.Bm25Terms.size + t.Rm3Expansion).toLong))
    // expansion must engage: some top doc matches MORE than the seeds
    assert(a.exists(_.getAs[Long]("n_terms") > t.Bm25Terms.size.toLong))
    // the pseudo-relevant set stays mostly on top after expansion (RM3
    // re-finds what seeded it — this is the PRF sanity invariant)
    val seedTop = t.bm25TopK(spark, sf).limit(t.Rm3Feedback).collect()
      .map(_.getLong(0)).toSet
    assert(a.count(r => seedTop(r.getLong(0))) >= t.Rm3Feedback / 2)
  }

  test("fertility: per-language sums tile the per-doc encode, ratios exact") {
    val t = graft.ops.TextOps
    val enc = t.bpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val docRows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang")).collect()
    val byLang = docRows.groupBy(_.getString(1))
    val got = t.fertility(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val ds = byLang(r.getString(0))
      val words = ds.map(d => enc(d.getLong(0))._1).sum
      val toks = ds.map(d => enc(d.getLong(0))._2).sum
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getLong(2) == words && r.getLong(3) == toks)
      assert(r.getDouble(5) == toks.toDouble / words)
      // BPE emits at least one piece per word: fertility >= 1
      assert(r.getDouble(5) >= 1.0)
      assert(r.getDouble(6) > 0)
    }
    // languages tile the corpus: no doc lost by the inner joins
    assert(got.map(_.getLong(1)).sum == docRows.length.toLong)
  }

  test("good-turing: trigram spectrum matches brute force, discounts and missing mass exact") {
    val docTexts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docTexts.foreach { t =>
      val w = t.trim.toLowerCase.split("\\s+").toSeq
      if (w.length >= 3) w.sliding(3).foreach { g =>
        val k = g.mkString(" "); counts(k) = counts.getOrElse(k, 0L) + 1L
      }
    }
    val fof = counts.values.groupBy(identity).map { case (r, g) => r -> g.size.toLong }
    val n = counts.values.sum
    val v = counts.size.toLong
    val n1 = fof.getOrElse(1L, 0L)
    val got = graft.ops.TextOps.goodTuring(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val rr = r.getLong(0)
      assert(rr <= 10L)
      assert(r.getLong(1) == fof(rr), s"n_$rr mismatch")
      val expStar = (rr + 1) * fof.getOrElse(rr + 1, 0L) * 1000L / fof(rr)
      assert(r.getLong(2) == expStar, s"r*_$rr mismatch")
      assert(r.getLong(3) == n && r.getLong(4) == v)
      assert(r.getLong(5) == n1 * 1000L / n)
    }
    // the spectrum actually has a tail on this corpus (the reason the
    // unit is trigrams): hapaxes exist and dominate the missing mass
    assert(fof.getOrElse(1L, 0L) > 0L)
    assert(got.map(_.getLong(0)).toSet == fof.keySet.filter(_ <= 10L))
  }

  test("cdc chunks: tile every doc exactly, brute-force boundary replay, exact dups fully covered") {
    val t = graft.ops.TextOps
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ")))
    // plain-Scala replay of the rolling boundary rule
    def chunksOf(t0: String): Seq[String] = {
      val bs = (16 to t0.length).filter { e =>
        val h = t0.substring(e - 16, e).foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
        h % 64 == 0
      }
      val ends = (bs :+ t0.length).distinct
      ends.zip(0 +: ends.init).map { case (e, p) => t0.substring(p, e) }
    }
    val expect = d.map { case (id, t0) => id -> chunksOf(t0) }.toMap
    val got = graft.ops.DedupOps.cdcChunks(spark, sf).collect()
    assert(got.length == d.length)
    got.foreach { r =>
      val e = expect(r.getLong(0))
      assert(r.getLong(1) == e.length.toLong, s"doc ${r.getLong(0)} chunk count")
      // chunks tile the normalized text exactly
      assert(r.getLong(2) == e.map(_.length.toLong).sum)
      assert(r.getLong(4) <= r.getLong(2))
    }
    // exact-duplicate docs share EVERY chunk: dup_milli == 1000
    val byText = d.groupBy(_._2).filter(_._2.length >= 2).values.flatten.map(_._1).toSet
    if (byText.nonEmpty) {
      val full = got.filter(r => byText(r.getLong(0)))
      assert(full.nonEmpty && full.forall(_.getLong(5) == 1000L),
        "verbatim duplicate docs must be fully chunk-covered")
    }
    // cross-doc dup detection engages on this corpus
    assert(got.exists(_.getLong(3) > 0L))
  }

  test("bpe merges: hand-computed sequence, greedy left-to-right, deterministic ties") {
    import spark.implicits._
    // vocab: aaaa x2, low x3, lower x1 — every interesting case at once:
    //   step 1 (a,a) must merge 'aaaa' GREEDILY to aa|aa (never aa|a|a);
    //   step 2 is a freq tie (l,o) vs (o,w) broken lexicographically;
    //   step 4 merges into the '</w>' terminal, collapsing 'low' to ONE
    //   symbol which must then stop contributing pairs;
    //   steps 5-6 only exist if step 1 was greedy (aa|aa -> aa|aa</w> -> aaaa</w>).
    val corpus = Seq((1L, "aaaa aaaa low low low"), (2L, "lower")).toDF("doc_id", "text")
    val got = graft.ops.TextOps.bpeMergesFrom(corpus)
      .select("step", "lhs", "rhs", "merged", "freq").as[(Long, String, String, String, Long)]
      .collect().toSeq
    val want = Seq(
      (1L, "a", "a", "aa", 6L),
      (2L, "l", "o", "lo", 4L),
      (3L, "lo", "w", "low", 4L),
      (4L, "low", "</w>", "low</w>", 3L),
      (5L, "aa", "</w>", "aa</w>", 2L),
      (6L, "aa", "aa</w>", "aaaa</w>", 2L),
      (7L, "e", "r", "er", 1L),
      (8L, "er", "</w>", "er</w>", 1L))
    assert(got == want)
  }

  test("bpe encode: per-doc counts match a reference greedy merge fold") {
    import spark.implicits._
    val corpus = Seq((1L, "aaaa aaaa low low low"), (2L, "lower"),
      (3L, "low aaaa newword")).toDF("doc_id", "text")
    // reference: apply the trained merges to each word's symbol list with
    // the same greedy left-to-right non-overlapping scan replace() uses
    val merges = graft.ops.TextOps.bpeMergesFrom(corpus)
      .select("step", "lhs", "rhs").as[(Long, String, String)]
      .collect().sortBy(_._1).map(m => (m._2, m._3))
    def fold(sym: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < sym.length) {
        if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += sym(i); i += 1 }
      }
      out.toList
    }
    val docs = Seq(1L -> "aaaa aaaa low low low", 2L -> "lower", 3L -> "low aaaa newword")
    val want = docs.map { case (id, text) =>
      val words = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      val counts = words.map { w =>
        val syms0 = w.map(_.toString).toList :+ "</w>"
        merges.foldLeft(syms0) { case (s, (l, r)) => fold(s, l, r) }.size.toLong
      }
      (id, words.length.toLong, counts.sum)
    }
    val got = graft.ops.TextOps.bpeEncodeFrom(corpus)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("bpe encode: registered query invariants on the fixture corpus") {
    import spark.implicits._
    val rows = graft.ops.TextOps.bpeEncode(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_._1) == rows.map(_._1).sorted)
    rows.foreach { case (id, nWords, nBpe) =>
      assert(nWords >= 1L && nBpe >= nWords,
        s"doc $id: every word is at least one BPE token ($nWords words, $nBpe tokens)")
    }
    // the learned merges actually compress: total BPE tokens < total
    // initial symbols (chars + one </w> per word)
    val init = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(sum(length(col("w")) + 1)).collect()(0).getLong(0)
    assert(rows.map(_._3).sum < init, "merges must reduce the symbol count")
  }

  test("phash near-dup: perturbed re-encode pairs found, unrelated images rejected") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // long enough that a 5-byte re-encode is ~1% of the byte period —
    // the wrap-around synthetic image scatters changed bytes across the
    // grid, so a short text would flip too many pooled cells
    val base = randText(500)
    val images = Seq(
      1L -> base,
      2L -> (base.dropRight(5) + "xxxxx"), // same dims, tail re-encoded
      3L -> randText(500), // unrelated, same dims
      4L -> randText(83)).toDF("doc_id", "text")
    val pairs = graft.ops.Multimodal.phashNearDupOf(images)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq(1L -> 2L),
      s"expected exactly the perturbed pair, got $pairs")
    assert(pairs.head._3 <= graft.ops.Multimodal.Phash.MaxHamming)
  }

  test("phash near-dup: registered query invariants on the fixture image lake") {
    import spark.implicits._
    val rows = graft.ops.Multimodal.phashNearDup(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows == rows.sortBy(p => (p._1, p._2)))
    rows.foreach { case (a, b, h) =>
      assert(a < b && h >= 0L && h <= graft.ops.Multimodal.Phash.MaxHamming)
    }
    // the planted perturbed re-encodes dominate the pair set, and a
    // majority of originals are re-united with their re-encode
    val twinPairs = rows.count { case (a, b, _) =>
      b == a + graft.ops.Multimodal.Phash.TwinOffset }
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(twinPairs > nDocs / 2,
      s"only $twinPairs/$nDocs re-encode pairs recalled")
  }

  test("phash signatures: 62-bit range and deterministic across runs") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val s1 = graft.ops.Multimodal.phashSignatures(d)
      .as[(Long, Long)].collect().toMap
    val s2 = graft.ops.Multimodal.phashSignatures(d)
      .as[(Long, Long)].collect().toMap
    assert(s1 == s2)
    assert(s1.values.forall(h => h >= 0L && h < (1L << 62)))
    // signatures are not degenerate: many distinct values
    assert(s1.values.toSet.size > s1.size / 2)
  }

  test("audio near-dup: perturbed re-encode pairs found, unrelated clips rejected") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val base = randText(500)
    val clips = Seq(
      1L -> base,
      2L -> (base.dropRight(5) + "xxxxx"), // same length => same sample count
      3L -> randText(500), // unrelated, same dims
      4L -> randText(83)).toDF("doc_id", "text")
    val pairs = graft.ops.Multimodal.audioNearDupOf(clips)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq(1L -> 2L),
      s"expected exactly the perturbed pair, got $pairs")
    assert(pairs.head._3 <= graft.ops.Multimodal.Afp.MaxHamming)
  }

  test("audio near-dup: registered query invariants on the fixture audio lake") {
    import spark.implicits._
    val rows = graft.ops.Multimodal.audioNearDup(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows == rows.sortBy(p => (p._1, p._2)))
    rows.foreach { case (a, b, h) =>
      assert(a < b && h >= 0L && h <= graft.ops.Multimodal.Afp.MaxHamming)
    }
    val twinPairs = rows.count { case (a, b, _) =>
      b == a + graft.ops.Multimodal.Afp.TwinOffset }
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(twinPairs > nDocs / 2,
      s"only $twinPairs/$nDocs re-encode pairs recalled")
  }

  test("audio signatures: 62-bit range, deterministic, non-degenerate") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val s1 = graft.ops.Multimodal.audioSignatures(d)
      .as[(Long, Long)].collect().toMap
    val s2 = graft.ops.Multimodal.audioSignatures(d)
      .as[(Long, Long)].collect().toMap
    assert(s1 == s2)
    assert(s1.values.forall(h => h >= 0L && h < (1L << 62)))
    assert(s1.values.toSet.size > s1.size / 2)
  }

  test("video near-dup: trims/appends found, reordering tolerated, unrelated rejected") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val fs = graft.ops.Multimodal.Vfp.FrameSize
    val frames = (1 to 10).map(_ => randText(fs))
    val vids = Seq(
      1L -> frames.mkString,                       // 10 frames
      2L -> (frames.mkString + randText(fs)),      // appended trailer: J=10/11
      3L -> frames.take(8).mkString,               // truncated: J=8/10
      4L -> (frames.reverse.mkString),             // reordered: SAME frame set, J=1
      5L -> randText(10 * fs)).toDF("doc_id", "text") // unrelated
    val pairs = graft.ops.Multimodal.videoNearDupOf(vids)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(found.contains(1L -> 2L) && found.contains(1L -> 3L) &&
      found.contains(1L -> 4L), s"missing expected near-dups in $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), s"unrelated video paired: $pairs")
    val j = pairs.map(p => (p._1, p._2) -> p._4).toMap
    assert(j(1L -> 4L) == 1000L, "reordered copy must be set-identical")
    assert(j(1L -> 2L) == 1000L * 10 / 11 && j(1L -> 3L) == 800L)
  }

  test("video near-dup: registered query recalls the appended-trailer twins") {
    import spark.implicits._
    val rows = graft.ops.Multimodal.videoNearDup(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows == rows.sortBy(p => (p._1, p._2)))
    rows.foreach { case (a, b, _, jm) =>
      assert(a < b && jm >= graft.ops.Multimodal.Vfp.MinJaccardMilli && jm <= 1000L)
    }
    val twinPairs = rows.count { case (a, b, _, _) =>
      b == a + graft.ops.Multimodal.Vfp.TwinOffset }
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(twinPairs > nDocs / 2,
      s"only $twinPairs/$nDocs trailer twins recalled")
  }

  test("token entropy: nonnegative, bounded by ln(n_distinct), zero iff uniform-1") {
    val e = graft.ops.TextOps.entropy(spark, sf)
    assert(e.filter(col("entropy_milli") < 0.0).count() == 0)
    // H <= ln(n_distinct); quantization adds at most 0.5 milli-nat per term
    val overBound = e.filter(
      col("entropy_milli") > lit(1000.0) * log(col("n_distinct").cast("double")) + 1.0)
    assert(overBound.count() == 0)
    // all-distinct docs sit AT the bound: H = ln(n)
    val allDistinct = e.filter(col("n_distinct") === col("n_tokens"))
      .filter(abs(col("entropy_milli") - lit(1000.0) * log(col("n_tokens").cast("double"))) > 1.0)
    assert(allDistinct.count() == 0)
  }

  test("hll distinct: register algebra, accuracy band, duplicate invariance") {
    import graft.ops.SketchOps
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val out = SketchOps.hllDistinctOf(orders).cache()
    val rows = out.collect()
    assert(rows.length == 5)
    val scaleTop = 1L << (SketchOps.HllWBits + 1)
    assert(rows.forall { r =>
      val (hit, zero, sScaled) = (r.getLong(1), r.getLong(2), r.getLong(3))
      hit + zero == SketchOps.HllM &&
        sScaled >= hit && sScaled <= SketchOps.HllM * scaleTop
    })
    // HLL at m=64 has ~13% standard error; 50% is a loose, stable band
    assert(rows.forall { r =>
      val (est, exact) = (r.getLong(4), r.getLong(5) * 1000L)
      math.abs(est - exact) * 2 <= exact
    }, s"estimate outside the 50% band: ${rows.toSeq}")
    // a SKETCH property: duplicated input leaves the registers (and so
    // the estimate) bit-identical — max is idempotent under multiplicity
    val doubled = SketchOps.hllDistinctOf(orders.unionByName(orders)).collect()
    assert(doubled.toSeq == rows.toSeq)
    out.unpersist()
  }

  test("hll sliding: every window's merged state equals the keyed sketch over the window's raw rows") {
    import graft.ops.SketchOps
    val out = SketchOps.hllSliding(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(1) >= 1L && r.getLong(1) <= SketchOps.SlideDays.toLong))
    val ev = graft.queries.Relational.events(spark, sf)
      .select(expr("_ms DIV 86400000").as("day"), col("user_id"))
    // sliding-merge identity, checked against the PROVEN keyed pipeline
    // run directly on each sample window's raw rows (first, middle, last)
    Seq(out.head, out(out.length / 2), out.last).foreach { r =>
      val d = r.getLong(0)
      val windowRows = ev.filter(
        col("day") >= d - (SketchOps.SlideDays - 1) && col("day") <= d)
      val k = SketchOps.hllKeyed(windowRows, lit("w"), col("user_id")).collect()(0)
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
        (k.getLong(1), k.getLong(2), k.getLong(3), k.getLong(4)),
        s"window day $d: merged state differs from the direct keyed sketch")
    }
  }

  test("count-min sketch never undercounts and stays below the corpus total") {
    val est = graft.ops.SketchOps.cmsHeavyHitters(spark, sf)
    assert(est.count() == graft.ops.SketchOps.CmsProbeK)
    // CMS guarantee: est >= exact, always
    assert(est.filter(col("overcount") < 0L).count() == 0)
    // and any single counter is bounded by the total token mass
    val total = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(TextOps.tokens(col("text")))).count()
    assert(est.filter(col("cms_est") > total).count() == 0)
  }

  test("chunk overlap: windows advance by stride, cover the doc, and end flush") {
    import graft.ops.Sampling
    val ch = Sampling.chunkOverlap(spark, sf)
    // consecutive chunks advance by exactly the stride
    assert(ch.filter(col("start_tok") =!= col("chunk_idx") * Sampling.ChunkStride).count() == 0)
    // every chunk is non-empty and at most ChunkLen tokens
    assert(ch.filter(col("chunk_len") < 1L || col("chunk_len") > Sampling.ChunkLen).count() == 0)
    // the last chunk of every doc ends exactly at the token count
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n"))
    val last = ch.groupBy(col("doc_id"))
      .agg(max(col("start_tok") + col("chunk_len")).as("covered"),
        count(lit(1)).as("n_chunks"))
      .join(toks, Seq("doc_id"))
    assert(last.filter(col("covered") =!= col("n")).count() == 0)
    // multi-chunk docs genuinely overlap (stride < len)
    assert(last.filter(col("n_chunks") > 1).count() > 0)
  }

  test("token budget: epoch cap respected, deficits exact, targets tile the doubled corpus") {
    val rows = graft.ops.Sampling.tokenBudget(spark, sf).collect()
    assert(rows.length > 1)
    val corpusTotal = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      val (tok, target, epochs, planned, deficit) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(epochs > 0 && epochs <= graft.ops.Sampling.BudgetEpochCapMilli)
      assert(planned == epochs * tok / 1000)
      assert(planned <= graft.ops.Sampling.BudgetEpochCapMilli * tok / 1000,
        "no language trains past the epoch cap")
      assert(deficit == math.max(target - planned, 0L))
      // each target is the equal share of the doubled corpus (DIV floor)
      assert(target == corpusTotal * graft.ops.Sampling.BudgetMultiple / rows.length)
    }
    // an uncapped language's deficit is pure milli-epoch floor rounding:
    // epochs = floor(1000·target/tok) loses < 1 milli-epoch (< tok/1000
    // tokens) and planned floors once more — anything beyond that bound
    // requires the cap to be binding
    rows.filter(_.getLong(4) < graft.ops.Sampling.BudgetEpochCapMilli).foreach { r =>
      assert(r.getLong(6) <= r.getLong(2) / 1000 + 1,
        s"uncapped deficit beyond the rounding bound: $r")
    }
  }

  test("perplexity fence: per-language p90 from the histogram, flagged = strictly-above-fence") {
    val fences = graft.ops.FilterOps.pplFence(spark, sf).collect()
    assert(fences.nonEmpty)
    // brute-force each language's fence and flag count from the raw
    // per-doc surprisal values
    import org.apache.spark.sql.functions.{col => c, expr => e}
    val qs = graft.ops.TextOps.perplexityPerDoc(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet").select(c("doc_id"), c("lang")), Seq("doc_id"))
      .select(c("lang"), e("(-sum_logp_milli) DIV n_bigrams").as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    fences.foreach { r =>
      val (lang, nDocs, p90, nFlagged, maxQ) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val vals = qs(lang).map(_._2).sorted
      assert(nDocs == vals.length)
      val rank = ((vals.length * 9 + 9) / 10).toInt // ceil(0.9 n)
      assert(p90 == vals(rank - 1), s"$lang fence $p90 != brute ${vals(rank - 1)}")
      assert(nFlagged == vals.count(_ > p90))
      assert(maxQ == vals.max)
      // strictly-above-ceil-rank flags at most floor(n/10) docs
      assert(nFlagged * 10 <= nDocs, s"$lang flags more than a decile")
    }
  }

  test("curriculum: bands are difficulty-disjoint quintiles, order is the banded hash shuffle") {
    val rows = graft.ops.Sampling.curriculum(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    val bands = rows.map(_.getLong(2))
    assert(bands.toSet == (0L until graft.ops.Sampling.CurriculumBands).toSet,
      "every quintile band populated")
    // bands partition the DIFFICULTY axis disjointly: any doc in band k
    // is strictly easier than any doc in band k+1
    val byBand = rows.groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(1))).toMap
    (0L until graft.ops.Sampling.CurriculumBands - 1).foreach { k =>
      assert(byBand(k).max <= byBand(k + 1).min,
        s"band $k overlaps band ${k + 1} in surprisal")
    }
    // quintile sizing: each band within ties of n/5 (ties never split)
    byBand.values.foreach(b =>
      assert(b.length >= n / 10 && b.length <= n * 2 / 5, s"degenerate band size ${b.length}/$n"))
    // the emitted order IS (band, shuffle_key, doc_id)
    val key = rows.map(r => (r.getLong(2), r.getLong(3), r.getLong(0)))
    assert(key.sameElements(key.sorted), "output order must be the curriculum order")
    // deterministic: a rerun is bit-identical
    assert(graft.ops.Sampling.curriculum(spark, sf).collect().toSeq == rows.toSeq)
  }

  test("temperature mixture: probs sum to ~1, low-resource langs upweighted") {
    import graft.ops.Sampling
    val t = Sampling.temperatureMixture(spark, sf).collect()
    assert(t.length > 1)
    // ppm probabilities tile to 1e6 modulo integer-division remainders
    val pSum = t.map(_.getAs[Long]("p_ppm")).sum
    assert(pSum > 1000000L - t.length && pSum <= 1000000L)
    // alpha < 1 compresses the mixture: the smallest-share language gains
    // probability, the largest loses
    val bySh = t.sortBy(_.getAs[Long]("share_ppm"))
    assert(bySh.head.getAs[Long]("p_ppm") > bySh.head.getAs[Long]("share_ppm"))
    assert(bySh.last.getAs[Long]("p_ppm") < bySh.last.getAs[Long]("share_ppm"))
    // ranking by share is preserved (alpha-sampling reweights, not reorders)
    assert(bySh.map(_.getAs[Long]("p_ppm")).toSeq == bySh.map(_.getAs[Long]("p_ppm")).sorted.toSeq)
  }

  test("weighted reservoir: deterministic top-K biased toward long documents") {
    import graft.ops.Sampling
    val s1 = Sampling.reservoirWeighted(spark, sf).collect()
    val s2 = Sampling.reservoirWeighted(spark, sf).collect()
    assert(s1.length == Sampling.ResK)
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq)
    // token-weighted sampling must overselect long docs vs the corpus mean
    val corpusMean = spark.read.parquet(s"$sf/documents.parquet")
      .select(avg(size(TextOps.tokens(col("text"))))).collect()(0).getDouble(0)
    val sampleMean = s1.map(_.getAs[Long]("n_tokens")).sum.toDouble / s1.length
    assert(sampleMean > corpusMean)
  }

  test("DSIR weights: total, deterministic, and target-domain-concentrated") {
    import graft.ops.Sampling
    val w1 = Sampling.dsirWeights(spark, sf).collect()
    val w2 = Sampling.dsirWeights(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    // every document scores (unigram features exist even for 1-token docs)
    assert(w1.length == nDocs)
    assert(w1.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      w2.map(r => (r.getLong(0), r.getLong(2))).toSeq)
    // the resample step must concentrate on the target domain: docs whose
    // hashed-ngram profile matches the target LM outrank the rest. Base
    // rate of lang='en' in the fixture is ~39%; importance ranking should
    // push the top-64 well past it (measured 56/64 at sf0.001).
    val top = Sampling.dsirTopK(spark, sf)
    assert(top.count() == Sampling.DsirTopK)
    val enInTop = top.join(
        spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang"),
        Seq("doc_id"))
      .filter(col("lang") === Sampling.DsirTargetLang).count()
    assert(enInTop >= 40, s"expected >= 40 target-lang docs in top-64, got $enInTop")
    // weights on the two frames agree (same core dag)
    val wMap = w1.map(r => r.getLong(0) -> r.getLong(2)).toMap
    top.collect().foreach { r =>
      assert(wMap(r.getLong(0)) == r.getLong(2))
    }
  }

  test("incremental MinHash index: delta-vs-index equals the full-corpus pipeline") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val all = DedupOps.corpus(spark, sf) // base + twins
    val twins = all.filter(col("doc_id") >= 1000000L) // the "new delivery"
    val idx = java.nio.file.Files
      .createTempDirectory("minhash_idx").resolve("bands").toString
    DedupOps.buildMinhashIndex(base, idx)
    val inc = DedupOps.minhashDedupIncremental(spark, twins, idx, base)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the batch pipeline over base ∪ delta, sliced to
    // pairs that involve a new doc
    val full = DedupOps.dupPairsFrom(all)
      .filter(col("a") >= 1000000L || col("b") >= 1000000L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full,
      s"incremental minus full: ${(inc -- full).take(5)}; full minus incremental: ${(full -- inc).take(5)}")
    // and the delta's twins were actually caught against the indexed base
    val caught = inc.count { case (a, b) => b == a + 1000000L }
    assert(caught >= (base.count() * 0.95).toLong)
  }

  test("DSIR model artifact: saved λ scores identically to the inline path") {
    import graft.ops.Sampling
    val modelPath = java.nio.file.Files
      .createTempDirectory("dsir_model").resolve("lambda").toString
    Sampling.dsirFit(spark, sf, modelPath)
    // the artifact is bucket-bounded: ≤ DsirBuckets rows whatever the corpus
    assert(spark.read.parquet(modelPath).count() <= Sampling.DsirBuckets)
    val fromModel = Sampling.dsirScoreWith(spark, sf, modelPath).collect()
    val inline = Sampling.dsirWeights(spark, sf).collect()
    assert(fromModel.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      inline.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("MMR selection is deterministic and more diverse than pure top-K") {
    val sel1 = SimilarityOps.mmrSelect(spark, sf).collect()
    val sel2 = SimilarityOps.mmrSelect(spark, sf).collect()
    assert(sel1.length == SimilarityOps.MmrK)
    assert(sel1.map(_.getLong(1)).toSeq == sel2.map(_.getLong(1)).toSeq)
    // rank 1 is the relevance argmax, so its marginal gain IS its
    // relevance (no chosen set to discount against). Later gains are
    // NOT monotone: an anti-correlated pick (negative max-sim) can
    // out-gain the first pick's raw relevance.
    assert(sel1.head.getLong(2) == sel1.head.getLong(3))
    // diversity: mean pairwise cosine of the MMR pick is strictly below
    // the pure top-K-by-relevance pick of the same size
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def meanPairSim(ids: Seq[Long]): Double = {
      val a = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("a"), col("embedding").as("ea"))
      val b = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("b"), col("embedding").as("eb"))
      a.crossJoin(b).filter(col("a") < col("b"))
        .select(SimilarityOps.cosineFF(col("ea"), col("eb")).as("cos"))
        .agg(avg(col("cos"))).collect()(0).getDouble(0)
    }
    val probe = broadcast(emb.filter(col("vec_id") === SimilarityOps.MmrProbeId)
      .select(col("embedding").as("q")))
    val topByRel = emb.filter(col("vec_id") =!= SimilarityOps.MmrProbeId)
      .crossJoin(probe)
      .select(col("vec_id"), SimilarityOps.cosineFF(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(SimilarityOps.MmrK)
      .collect().map(_.getLong(0)).toSeq
    val mmrIds = sel1.map(_.getLong(1)).toSeq
    assert(meanPairSim(mmrIds) < meanPairSim(topByRel),
      "MMR must select a less self-similar set than pure relevance top-K")
  }

  test("exact dedup halves the doubled corpus") {
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    val out = DedupOps.exactDedup(spark, sf)
    // 2n unique fingerprints at most (base + twins), each kept once
    assert(out.count() <= 2 * n)
    assert(out.select("fingerprint").distinct().count() == out.count())
  }

  test("language id is deterministic and total") {
    val a = graft.ops.TextOps.languageId(spark, sf).collect()
    val b = graft.ops.TextOps.languageId(spark, sf).collect()
    assert(a.sameElements(b))
    assert(a.forall(_.getString(2) != null))
  }

  test("PII redaction replaces emails, phones, and IPs and counts them") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.smith+x@mail.example.org or call +1 (555) 123-4567 now"),
      (2L, "server at 10.0.42.255 and 192.168.1.1 talked"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), graft.ops.TextOps.redact(col("text")).as("r"))
      .orderBy(col("doc_id")).collect()
    assert(out(0).getString(1) == "write to <EMAIL> or call <PHONE> now")
    assert(out(1).getString(1) == "server at <IP> and <IP> talked")
    assert(out(2).getString(1) == "nothing sensitive here")
    // the registered query injects exactly one of each per doc
    val q = TextOps.redactPii(spark, sf)
    assert(q.filter(col("n_emails") < 1 || col("n_phones") < 1 || col("n_ips") < 1).count() == 0)
  }

  test("split assignment is deterministic and roughly 80/10/10") {
    val counts = graft.ops.Sampling.splitAssign(spark, sf)
      .groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(counts("train") / total > 0.7 && counts("train") / total < 0.9)
    assert(counts("val") / total > 0.05 && counts("test") / total > 0.05)
    // pure function of doc_id: two runs identical
    val a = graft.ops.Sampling.stratifiedSample(spark, sf).collect()
    val b = graft.ops.Sampling.stratifiedSample(spark, sf).collect()
    assert(a.sameElements(b))
    // quota respected per language stratum
    val over = graft.ops.Sampling.stratifiedSample(spark, sf)
      .groupBy("lang").count()
      .filter(col("count") > graft.ops.Sampling.PerStratum)
    assert(over.count() == 0)
  }

  test("token counts: whitespace tokens == words for the all-alpha corpus") {
    val bad = TextOps.tokenCounts(spark, sf)
      .filter(col("n_ws_tokens") =!= col("n_words"))
    assert(bad.count() == 0) // corpus is space-separated alpha words
  }

  test("BMP codec: header-true roundtrip; corrupt payloads rejected") {
    import graft.ops.Multimodal.MediaCodec
    val gray = Array.tabulate(5 * 3)(i => (i * 17) % 256)
    val bmp = MediaCodec.encodeBmp(5, 3, gray)
    val (w, h, decoded) = MediaCodec.decodeBmp(bmp)
    assert(w == 5 && h == 3 && decoded.sameElements(gray))
    // dimensions come from the header, not the caller
    intercept[IllegalArgumentException](MediaCodec.decodeBmp("junkjunkjunk".getBytes))
  }

  test("WAV codec: PCM16 roundtrip; corrupt payloads rejected") {
    import graft.ops.Multimodal.MediaCodec
    val samples = Array.tabulate(100)(i => ((i - 50) * 300).toShort)
    val wav = MediaCodec.encodeWav(16000, samples)
    val (rate, decoded) = MediaCodec.decodeWav(wav)
    assert(rate == 16000 && decoded.sameElements(samples))
    intercept[IllegalArgumentException](MediaCodec.decodeWav(new Array[Byte](50)))
  }

  test("PNG codec: all-filter roundtrip, ImageIO cross-validation, corrupt payloads rejected") {
    import graft.ops.Multimodal.MediaCodec
    // 7 rows > 5: the y%5 filter rotation exercises ALL five standard
    // filter types (None/Sub/Up/Average/Paeth) in one image
    val (w, h) = (9, 7)
    val gray = Array.tabulate(w * h)(i => (i * 37 + i * i) % 256)
    val png = MediaCodec.encodePng(w, h, gray)
    val (dw, dh, decoded) = MediaCodec.decodePng(png)
    assert(dw == w && dh == h && decoded.sameElements(gray))
    // cross-validate against the JDK's own PNG reader: an independent
    // implementation agreeing on every pixel rules out a self-consistent
    // encode/decode bug (both sides wrong the same way)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    val viaImageIo = for (y <- 0 until h; x <- 0 until w)
      yield img.getRaster.getSample(x, y, 0)
    assert(viaImageIo == gray.toSeq, "ImageIO disagrees with our decoder's source pixels")
    // and the reverse: our decoder must read the JDK encoder's output
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) bi.getRaster.setSample(x, y, 0, gray(y * w + x))
    val jdkOut = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", jdkOut))
    val (jw, jh, jpx) = MediaCodec.decodePng(jdkOut.toByteArray)
    assert(jw == w && jh == h && jpx.sameElements(gray))
    // corrupt payloads are rejected loudly, never decoded as garbage
    intercept[IllegalArgumentException](MediaCodec.decodePng("notapngnotapngnotapngnotapngnotapng".getBytes))
    val crcFlipped = png.clone()
    crcFlipped(crcFlipped.length - 5) = (crcFlipped(crcFlipped.length - 5) ^ 0x7f).toByte
    intercept[IllegalArgumentException](MediaCodec.decodePng(crcFlipped))
    val dataFlipped = png.clone()
    dataFlipped(45) = (dataFlipped(45) ^ 0x7f).toByte // inside IDAT
    intercept[IllegalArgumentException](MediaCodec.decodePng(dataFlipped))
    intercept[IllegalArgumentException](MediaCodec.decodePng(png.take(png.length - 10)))
  }

  test("PolyHash native expression equals the interpreted SQL fold") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select(col("text"))
      .unionByName(Seq("", "a", "Zz9 ~ !", "the quick brown fox").toDF("text"))
    val sqlFold =
      "aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)"
    val both = corpus.select(
      graft.functions.PolyHash.polyHash(col("text"), 31, 1000000007L).as("native"),
      expr(sqlFold).as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("media features decode real BMP/WAV payloads, entropy within [0, 8]") {
    val f = Multimodal.extractFeatures(spark, sf)
    assert(f.count() == spark.read.parquet(s"$sf/documents.parquet").count())
    assert(f.filter(col("entropy_mb") < 0 || col("entropy_mb") > 8000).count() == 0)
    assert(f.filter(col("mean_byte") < 0 || col("mean_byte") > 255).count() == 0)
    // images really are BMPs, audio really is WAV (magic bytes on payload)
    val mt = Multimodal.mediaTable(spark, sf)
    assert(mt.filter(col("media_type") === "image" &&
      substring(col("payload"), 1, 2) =!= lit("BM".getBytes)).count() == 0)
    assert(mt.filter(col("media_type") === "audio" &&
      substring(col("payload"), 1, 4) =!= lit("RIFF".getBytes)).count() == 0)
  }

  test("frame sampling keeps every 4th 32-byte frame") {
    val fr = Multimodal.sampleFrames(spark, sf)
    assert(fr.count() > 0)
    assert(fr.filter(col("frame_idx") % 4 =!= 0).count() == 0)
    assert(fr.filter(col("frame_bytes") > 32).count() == 0)
  }

  test("float_dot null semantics match the aggregate(zip_with) lambda form") {
    import spark.implicits._
    def lambdaDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def check(df: org.apache.spark.sql.DataFrame): Unit =
      df.select(col("id"), graft.functions.FloatDot(col("a"), col("b")).as("fd"),
          lambdaDot.as("lam"))
        .collect().foreach { r =>
          assert(r.isNullAt(1) == r.isNullAt(2), s"row ${r.getLong(0)}: null mismatch")
          if (!r.isNullAt(1))
            assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
              java.lang.Double.doubleToLongBits(r.getDouble(2)),
              s"row ${r.getLong(0)}: not bit-equal")
        }
    // containsNull=true elements: null element and length mismatch -> NULL
    val nullable = Seq(
      (1L, Seq(Option(1.5f), Option(2.5f), Option(3.5f)), Seq(Option(4.0f), Option(0.25f), Option(6.0f))),
      (2L, Seq(Option(1.0f), Option(2.0f)), Seq(Option(1.0f), Option(2.0f), Option(3.0f))),
      (3L, Seq(Option(1.0f), None), Seq(Option(1.0f), Option(2.0f))))
      .toDF("id", "a", "b")
    check(nullable)
    assert(nullable.select(graft.functions.FloatDot(col("a"), col("b")))
      .collect().count(_.isNullAt(0)) == 2)
    // containsNull=false elements (the codegen fast path): mismatch -> NULL
    val dense = Seq(
      (10L, Seq(1.5f, 2.5f, 3.5f), Seq(4.0f, 0.25f, 6.0f)),
      (11L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("id", "a", "b")
    check(dense)
    assert(dense.select(graft.functions.FloatDot(col("a"), col("b")))
      .collect().count(_.isNullAt(0)) == 1)
  }

  test("KMV sketch: union of per-group sketches equals the global sketch; estimates within bounds") {
    import graft.ops.SketchOps
    val hashed = spark.read.parquet(s"$sf/orders.parquet").select(
      col("o_orderpriority").as("grp"),
      graft.functions.PolyHash
        .polyHash(col("o_custkey").cast("string"), 31, SketchOps.KmvMod).as("ph"))
      .withColumn("hv", expr(SketchOps.kmvMixSql("ph")))
    val perGroup = hashed.groupBy("grp")
      .agg(graft.functions.KMinHashes.kMinHashes(col("hv"), SketchOps.KmvK).as("kmin"))
      .collect().map(_.getSeq[Long](1))
    val globalSketch = hashed
      .agg(graft.functions.KMinHashes.kMinHashes(col("hv"), SketchOps.KmvK))
      .head().getSeq[Long](0)
    // mergeability: k smallest distinct of the union of group sketches
    // IS the whole-corpus sketch — the property that lets shards and
    // days combine without rescanning
    val merged = perGroup.flatten.distinct.sorted.take(SketchOps.KmvK).toSeq
    assert(globalSketch == merged)
    // estimator error: (k-1)H/h_k within 4 standard errors (1/sqrt(k-1))
    val rows = SketchOps.kmvDistinct(spark, sf).collect()
    assert(rows.length >= 2)
    rows.foreach { r =>
      val est = r.getLong(1)
      val exact = r.getLong(2)
      assert(math.abs(est - exact).toDouble / exact < 4.0 / math.sqrt(SketchOps.KmvK - 1.0),
        s"grp=${r.getString(0)} est=$est exact=$exact")
    }
  }

  test("KMV set ops: exact arms correct, union/intersect estimates within sketch bounds") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.SketchOps.kmvSetOps(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // exact arms against a direct recomputation
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderpriority").as("pri"), col("o_custkey"))
    def cust(pris: Seq[String]) = o.filter(col("pri").isin(pris.map(lit): _*))
      .select(col("o_custkey")).distinct()
    val (a, b) = (cust(graft.ops.SketchOps.SetA).cache(),
      cust(graft.ops.SketchOps.SetB).cache())
    assert(rows("A")._2 == a.count())
    assert(rows("B")._2 == b.count())
    assert(rows("UNION")._2 == a.unionByName(b).distinct().count())
    assert(rows("INTERSECT")._2 == a.intersect(b).count())
    // estimates within 4 standard errors; intersection compounds three
    // estimators so allow 3x the single-sketch band
    val se = 1.0 / math.sqrt(graft.ops.SketchOps.KmvK - 1.0)
    Seq("A", "B", "UNION").foreach { s =>
      val (est, exact) = rows(s)
      assert(math.abs(est - exact).toDouble / exact < 4 * se, s"$s est=$est exact=$exact")
    }
    val (estI, exactI) = rows("INTERSECT")
    assert(math.abs(estI - exactI).toDouble / exactI.max(1L) < 12 * se,
      s"INTERSECT est=$estI exact=$exactI")
    a.unpersist(); b.unpersist()
  }

  test("minhash calibration: mean exact similarity rises with coordinate matches") {
    val rows = graft.ops.DedupOps.minhashCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (est, n, mean, mn, mx) =>
      assert(est >= 0 && est <= graft.ops.DedupOps.NumPerms)
      assert(n > 0 && mn <= mean && mean <= mx && mx <= 1000)
    }
    // the MinHash theorem's footprint: the per-bucket mean must not
    // DECREASE as matches increase (allowing equal neighbors on the
    // tiny-sf buckets)
    val means = rows.sortBy(_._1).map(_._3).toSeq
    means.sliding(2).foreach { w =>
      if (w.size == 2) assert(w(1) >= w(0) - 30,
        s"calibration curve inverted: $means")
    }
    assert(means.last > means.head, "curve must rise overall")
  }

  test("universe sampling: zero orphans by construction, Bernoulli orphans ~(1-p)") {
    val r = graft.ops.Sampling.universeJoinSample(spark, sf).collect().head
    val nOrders = r.getLong(0); val nSampled = r.getLong(1)
    val liU = r.getLong(2); val liB = r.getLong(3)
    val joinU = r.getLong(4); val orphU = r.getLong(5); val orphB = r.getLong(6)
    assert(orphU == 0L, "universe sampling must never orphan a lineitem")
    assert(joinU == liU, "every universe-sampled lineitem joins")
    // both arms sample ~1/8
    assert(math.abs(nSampled * 8.0 / nOrders - 1.0) < 0.25)
    assert(liB > 0 && orphB > 0)
    // independent row sampling orphans ~(1 - p) = 7/8 of its rows
    assert(math.abs(orphB.toDouble / liB - 7.0 / 8.0) < 0.1,
      s"expected ~7/8 orphans, got $orphB of $liB")
  }

  test("langid eval: margins tile the corpus and metrics are bounded") {
    val rows = graft.ops.TextOps.langidEval(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == n, "labeled margin must tile the corpus")
    assert(rows.map(_.getLong(2)).sum == n, "predicted margin must tile the corpus")
    rows.foreach { r =>
      val (lbl, prd, tp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tp <= math.min(lbl, prd))
      Seq(4, 5, 6).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) <= 1000))
    }
  }

  test("KMV join estimate: exact arms correct, estimates within sketch error bounds") {
    import org.apache.spark.sql.functions._
    val r = graft.ops.SketchOps.kmvJoinEstimate(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (estU, estI, estJ) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val (exU, exI, exJ) = (row.getLong(3), row.getLong(4), row.getLong(5))
    // exact arms agree with a direct computation
    val o = spark.read.parquet(s"$sf/orders.parquet")
    def cohort(y: Int) = o
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val a = cohort(1995).collect().map(_.getLong(0)).toSet
    val b = cohort(1996).collect().map(_.getLong(0)).toSet
    assert(exU == (a ++ b).size && exI == (a & b).size)
    assert(exJ == 1000L * exI / exU)
    // sketch estimates: k=64 => relative std ~1/sqrt(63) ~ 12.6%; allow 4 sigma
    assert(math.abs(estU - exU) <= exU / 2, s"est_union $estU vs exact $exU")
    assert(estI >= 0 && math.abs(estI - exI) <= exI,
      s"est_inter $estI vs exact $exI")
    // Jaccard estimator rho is a hypergeometric mean-J statistic; same band
    assert(math.abs(estJ - exJ) <= 500L, s"est_jaccard $estJ vs exact $exJ")
  }

  test("winnow: shared-substring guarantee, sorted positions, exact fold arithmetic") {
    import spark.implicits._
    val shared = "the quick brown fox jumps" // 25 chars >= k+w-1 = 23
    val df = Seq(
      (1L, "AAAA " + shared + " zz"),
      (2L, "completely different prefix text then " + shared),
      (3L, "short")).toDF("doc_id", "text")
    val rows = df
      .select(col("doc_id"), graft.functions.Winnow.winnow(lower(col("text"))).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap

    // a doc shorter than k+w-1 has no full window -> empty, not null
    assert(rows(3L).isEmpty)

    // positions strictly increasing; every fp is the PolyHash fold of its 16-gram
    def gramHash(t: String, p: Int): Long =
      t.substring(p, p + 16).getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    for (id <- Seq(1L, 2L)) {
      val t = df.filter(col("doc_id") === id).head().getString(1).toLowerCase
      val fps = rows(id)
      assert(fps.map(_.getInt(0)).sliding(2).forall(s => s.length < 2 || s(0) < s(1)))
      fps.foreach(f => assert(f.getLong(1) == gramHash(t, f.getInt(0))))
    }

    // winnowing guarantee: a shared substring of >= 11 chars at DIFFERENT
    // offsets in the two docs still yields >= 1 common fingerprint value
    assert(rows(1L).map(_.getLong(1)).toSet
      .intersect(rows(2L).map(_.getLong(1)).toSet).nonEmpty)
  }

  test("winnow spans: operator equals a brute-force reference over the fingerprint sets") {
    // reference: per-doc distinct winnowed fp sets -> drop hot fps
    // (> HotCap docs) -> count shared cold fps per pair -> threshold
    val perDoc = DedupOps.withTwins(spark.read.parquet(s"$sf/documents.parquet"))
      .select(col("doc_id"),
        explode(graft.functions.Winnow.winnow(
          regexp_replace(trim(lower(col("text"))), "\\s+", " "))).as("f"))
      .select(col("doc_id"), col("f.fp").as("fp")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val docsPerFp = perDoc.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val expected = docsPerFp.valuesIterator
      .filter(_.size <= DedupOps.WinnowHotCap)
      .flatMap(ds => for (a <- ds.iterator; b <- ds.iterator if a < b) yield (a, b))
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= DedupOps.WinnowMinShared).toMap
    val got = DedupOps.winnowSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected,
      s"pair sets differ: extra=${(got.keySet -- expected.keySet).take(3)} " +
        s"missing=${(expected.keySet -- got.keySet).take(3)}")
    // the templated corpus still yields real twin pairs among the cold spans
    assert(got.keysIterator.count { case (a, b) => b == a + 1000000L } > 100)
  }

  test("exact-substr spans: hand-computed islands, same-doc repeats excluded") {
    import spark.implicits._
    val docs = Seq(
      // docs 1/2 share two DISJOINT 8-grams (positions 1 and 10) -> 2 spans
      1L -> "a b c d e f g h X p q r s t u v w Y",
      2L -> "a b c d e f g h Z p q r s t u v w Q",
      // doc 3 repeats an 8-gram only WITHIN itself -> cross-doc rule says 0
      3L -> "m m m m m m m m m",
      // doc 4 is shorter than L -> no grams at all
      4L -> "x y z",
      // doc 5: window 1 is shared with docs 1/2/7 and window 2 with
      // doc 7, so the two overlapping windows merge -> fully covered
      5L -> "a b c d e f g h i",
      // docs 6/7 share a 10-token run -> three OVERLAPPING marked
      // positions merge into ONE maximal span in each
      6L -> "q a b c d e f g h i j",
      7L -> "a b c d e f g h i j").toDF("doc_id", "text")
    val got = DedupOps.exactSubstrOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 18L, 2L, 16L, 888L),
      (2L, 18L, 2L, 16L, 888L),
      (3L, 9L, 0L, 0L, 0L),
      (4L, 3L, 0L, 0L, 0L),
      (5L, 9L, 1L, 9L, 1000L),
      (6L, 11L, 1L, 10L, 909L),
      (7L, 10L, 1L, 10L, 1000L)))
  }

  test("exact-substr spans: adjacent-but-gapped windows split exactly at distance L") {
    import spark.implicits._
    // positions 1 and 9: gap 8 == L -> contiguous coverage, ONE span of
    // 16 tokens; positions 1 and 10 (doc pair B): gap 9 > L -> two spans
    val docs = Seq(
      1L -> "a1 a2 a3 a4 a5 a6 a7 a8 b1 b2 b3 b4 b5 b6 b7 b8",
      2L -> "a1 a2 a3 a4 a5 a6 a7 a8 b1 b2 b3 b4 b5 b6 b7 b8 zz",
      3L -> "c1 c2 c3 c4 c5 c6 c7 c8 x d1 d2 d3 d4 d5 d6 d7 d8",
      4L -> "c1 c2 c3 c4 c5 c6 c7 c8 y d1 d2 d3 d4 d5 d6 d7 d8").toDF("doc_id", "text")
    val got = DedupOps.exactSubstrOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // docs 1/2: every window of doc 1 is in doc 2 -> positions 1..9 all
    // marked -> one 16-token span covering doc 1 entirely
    assert(got.head == (1L, 16L, 1L, 16L, 1000L))
    // docs 3/4: shared windows at positions 1 and 10 only (the middle
    // token differs) -> two disjoint 8-token spans
    assert(got(2) == (3L, 17L, 2L, 16L, 941L))
    assert(got(3) == (4L, 17L, 2L, 16L, 941L))
  }

  test("exact-substr spans: registered query invariants on the fixture corpus") {
    import spark.implicits._
    val rows = DedupOps.exactSubstrSpans(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.size == nDocs, "every doc reported, including span-free ones")
    assert(rows.map(_._1) == rows.map(_._1).sorted)
    rows.foreach { case (id, n, spans, dup, milli) =>
      assert(dup >= 0L && dup <= n, s"doc $id: dup mass $dup outside [0, $n]")
      assert((spans == 0L) == (dup == 0L))
      assert(milli == dup * 1000 / n)
    }
    // the templated fixture phrasing produces real cross-doc duplication
    assert(rows.exists(_._3 > 0L), "expected at least one duplicated span")
  }

  test("substr-fp audit: hand corpus — dual keying agrees, verified equals exact") {
    import spark.implicits._
    val docs = Seq(
      // docs 1/2 share the 8-gram at position 1; their position-2 grams
      // differ in the trailing token -> unique
      1L -> "a b c d e f g h i",
      2L -> "a b c d e f g h x",
      // doc 3: all grams unique
      3L -> "z y x w v u t s",
      // doc 4: below L -> contributes no positions
      4L -> "p q").toDF("doc_id", "text")
    val row = DedupOps.substrFpAuditOf(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (nPos, nGrams, nFps, coll, dupExact, dupFp, dupVer) = row
    assert(nPos == 5L)    // 2 + 2 + 1 positions
    assert(nGrams == 4L)  // abcdefgh, bcdefghi, bcdefghx, zyxwvuts
    assert(dupExact == 2L) // the two "a..h" positions
    assert(dupVer == dupExact, "fp-bucket + text verify must equal exact")
    // 4 grams against a ~1e9 modulus: no collision -> fp path agrees
    assert(coll == 0L && nFps == nGrams && dupFp == dupExact)
  }

  test("substr-fp audit: fixture — the certificate holds and the audit is exercised") {
    import spark.implicits._
    val (nPos, nGrams, nFps, coll, dupExact, dupFp, dupVer) =
      DedupOps.substrFpAudit(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(nPos > 0L && nGrams > 0L && nFps > 0L)
    assert(coll == nGrams - nFps && coll >= 0L)
    assert(dupVer == dupExact, "verification must recover the exact keying")
    assert(dupFp >= dupExact, "raw fp keying can only overcount")
    assert(dupExact > 0L, "templated fixture phrasing duplicates real grams")
  }

  test("ann recall audit: per-probe rows match a set-intersection recomputation") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bf = SimilarityOps.bruteForceTopK(emb)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ls = SimilarityOps.lshTopK(emb)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = SimilarityOps.annRecall(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) == bf.keys.toSeq.sorted, "one row per probe, ordered")
    rows.foreach { case (q, nExact, nLsh, nCommon, milli) =>
      val inter = bf(q).intersect(ls.getOrElse(q, Set.empty)).size.toLong
      assert(nExact == bf(q).size.toLong)
      assert(nLsh == ls.getOrElse(q, Set.empty).size.toLong)
      assert(nCommon == inter, s"probe $q intersection")
      assert(milli == 1000L * inter / nExact)
      assert(milli >= 0L && milli <= 1000L)
    }
  }

  test("zipf slope: planted geometric frequencies recover slope -ln2/ln-rank fit exactly") {
    import spark.implicits._
    // frequencies 8,4,2,1 over ranks 1..4 — recompute the milli-log OLS
    // independently in Scala and demand the identical sums + fit
    val d = Seq(
      (1L, ("a " * 8).trim), (2L, ("b " * 4).trim),
      (3L, ("c " * 2).trim), (4L, "d")
    ).toDF("doc_id", "text")
    val got = TextOps.zipfSlopeOf(d).collect().head
    val pts = Seq((1L, 8L), (2L, 4L), (3L, 2L), (4L, 1L)).map { case (r, f) =>
      (math.round(1000 * math.log(r.toDouble)), math.round(1000 * math.log(f.toDouble)))
    }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((n, sx, sy, sxx, sxy)))
    val slope = (n.toDouble * sxy - sx.toDouble * sy) /
      (n.toDouble * sxx - sx.toDouble * sx)
    assert(got.getDouble(5) == slope)
    assert(got.getDouble(6) == (sy.toDouble - slope * sx) / n)
    // geometric halving is steeper than Zipf's -1 on log-rank
    assert(slope < -1.0)
  }

  test("heaps law: planted growth curve recovers the hand-computed milli-log OLS") {
    import spark.implicits._
    // doc 1: "a b a"  -> n_tok 3, new {a,b}=2 -> cum (3, 2)
    // doc 2: "b c"    -> n_tok 2, new {c}=1   -> cum (5, 3)
    // doc 3: "d d"    -> n_tok 2, new {d}=1   -> cum (7, 4)
    val d = Seq((1L, "a b a"), (2L, "b c"), (3L, "d d")).toDF("doc_id", "text")
    val got = TextOps.heapsLawOf(d).collect().head
    val pts = Seq((3L, 2L), (5L, 3L), (7L, 4L)).map { case (t, v) =>
      (math.round(1000 * math.log(t.toDouble)), math.round(1000 * math.log(v.toDouble)))
    }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((n, sx, sy, sxx, sxy)))
    val beta = (n.toDouble * sxy - sx.toDouble * sy) /
      (n.toDouble * sxx - sx.toDouble * sx)
    assert(got.getDouble(5) == beta)
    assert(got.getDouble(6) == (sy.toDouble - beta * sx) / n)
  }

  test("heaps law: fixture beta is a plausible sublinear growth exponent") {
    val got = TextOps.heapsLaw(spark, sf).collect().head
    val (nPts, beta) = (got.getLong(0), got.getDouble(5))
    assert(nPts > 0)
    assert(beta > 0.0 && beta <= 1.05,
      s"Heaps beta must be sublinear-ish, got $beta")
  }

  test("lexical diversity: planted corpus hand-computed; repetitive source scores lower") {
    import spark.implicits._
    val d = Seq(
      ("rich", "alpha beta gamma delta"),   // 4 types / 4 tokens
      ("dull", "spam spam spam spam"),      // 1 type / 4 tokens
      ("dull", "spam spam ham spam")        // adds 1 type, 4 tokens
    ).toDF("source", "text")
    val got = TextOps.lexicalDiversityOf(d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    val hDull = math.round(1000 * math.log(2.0) / math.log(8.0))
    val hRich = math.round(1000 * math.log(4.0) / math.log(4.0))
    assert(got == Seq(
      ("dull", 8L, 2L, 1000L * 2 / 8, hDull),
      ("rich", 4L, 4L, 1000L, hRich)))
  }

  test("search ndcg: matches a recomputation from the proven BM25 ranking; bounds hold") {
    import spark.implicits._
    val got = TextOps.searchNdcg(spark, sf).collect().head
    val k = TextOps.NdcgK
    // relevance per doc, independently (plain Scala tokenization)
    val rel = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) =>
        val toks = t.trim.toLowerCase.split("\\s+").toSet
        id -> TextOps.Bm25Terms.count(toks.contains)
      }.toMap
    def w(i: Int): Long = math.round(1e6 / (math.log(i + 1.0) / math.log(2.0)))
    // ranked page from the oracle-proven bm25 query (same total order)
    val page = TextOps.bm25TopK(spark, sf).limit(k)
      .select(col("doc_id")).as[Long].collect().toSeq
    val dcg = page.zipWithIndex.map { case (id, i) =>
      ((1L << rel(id)) - 1) * w(i + 1)
    }.sum
    val idealRel = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(k).map(_._2)
    val idcg = idealRel.zipWithIndex.map { case (r, i) =>
      ((1L << r) - 1) * w(i + 1)
    }.sum
    assert(got.getLong(0) == k.toLong)
    assert(got.getLong(1) == dcg && got.getLong(2) == idcg)
    assert(idcg > 0 && got.getLong(3) == 1000L * dcg / idcg)
    assert(got.getLong(3) >= 0 && got.getLong(3) <= 1000)
  }

  test("neyman allocation: zero-variance stratum earns zero; bursty stratum beats proportional") {
    import spark.implicits._
    // A: 4 docs, constant length (S=0); B: 4 docs, bursty (S=200/√3·...);
    // proportional would split 500/500 — Neyman gives B everything
    val d = Seq(
      ("A", 100L), ("A", 100L), ("A", 100L), ("A", 100L),
      ("B", 0L), ("B", 400L), ("B", 0L), ("B", 400L)
    ).toDF("source", "n_chars")
    val got = graft.ops.Sampling.neymanAllocationOf(d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // hand-computed: var numerator B = n·Σx² − (Σx)² = 4·320000 − 1600²
    // = 1280000 − 2560000... recompute: Σx=800, Σx²=320000 ->
    // 4·320000 − 640000 = 640000; S_B = sqrt(640000/(4·3)) = sqrt(53333.3)
    val wB = math.round(1000 * 4 * math.sqrt(640000.0 / (4.0 * 3)))
    assert(got == Seq(
      ("A", 4L, 0L, 0L, 500L),
      ("B", 4L, wB, 1000L, 500L)))
  }

  test("neyman allocation: fixture allocations are budget-bounded and weight-ordered") {
    val rows = graft.ops.Sampling.neymanAllocation(spark, sf)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum <= graft.ops.Sampling.NeymanBudget)
    assert(rows.map(_._3).sum <= graft.ops.Sampling.NeymanBudget)
    // allocation order follows weight order (floor division is monotone)
    val byW = rows.sortBy(_._1)
    assert(byW.map(_._2) == byW.map(_._2).sorted)
  }

  test("readability: hand-computed flesch/grade on planted prose; fixture rows exact") {
    import spark.implicits._
    // "the cat sat. it ran!" -> words 5, sentences 2,
    // vowel groups: e,a,a,i,a = 5
    val got = TextOps.readability(spark, sf).limit(0) // schema touch
    val planted = Seq((1L, "the cat sat. it ran!"), (2L, "zzz"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextOps.readabilityOf(planted)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5))).toSeq
    assert(r.head == ((1L, 5L, 5L, 2L,
      206835L - 1015 * 5 / 2 - 84600 * 5 / 5,
      390 * 5 / 2 + 11800 * 5 / 5 - 15590)))
    // "zzz": zero vowel groups, unpunctuated -> sentence floor 1
    assert(r(1) == ((2L, 1L, 0L, 1L,
      206835L - 1015 * 1 / 1 - 0, 390 * 1 / 1 + 0 - 15590)))
    assert(got.columns.toSeq == Seq("doc_id", "words", "vowel_groups",
      "sentences", "flesch_milli", "fk_grade_milli"))
  }

  test("zipf slope: fixture corpus fits with negative slope over the full TopN") {
    val got = TextOps.zipfSlope(spark, sf).collect().head
    assert(got.getLong(0) > 0 && got.getLong(0) <= TextOps.ZipfTopN)
    assert(got.getDouble(5) < 0.0, "rank-frequency slope must be negative")
    assert(!got.getDouble(6).isNaN && !got.getDouble(6).isInfinite)
  }
}
