package graft

import org.apache.spark.sql.functions._

import graft.ops.{AggStateMv, AnfOps, Coreset, DomainReweight, GraphOps, IncrementalMv, PcaOps, PreferenceOps, RobustStats}

/** Semantic checks for the round-10 curation operators — the oracle
  * proves bit-equality with DuckDB; these prove the MATH does what the
  * operator's name claims. */
class CurationOpsSpec extends SparkSuite {

  test("pca: fitted components are near-orthogonal and pc1 carries at least pc2's variance") {
    val mdl = PcaOps.fit(spark, sf)
    val d12 = (0 until PcaOps.Dim).map(i => mdl.v1(i) * mdl.v2(i)).sum
    val n1 = mdl.v1.map(x => x * x).sum
    val n2 = mdl.v2.map(x => x * x).sum
    // cos^2(v1, v2) < 1% — the integer-division orthogonalization can
    // leave sub-milli residue, never more
    assert(d12 * d12 * 100 < n1 * n2,
      s"components not orthogonal: cos^2 = ${BigDecimal(d12 * d12) / BigDecimal(n1 * n2)}")
    // renormalization contract: max|v_i| = 1024 for the dominant iterate
    assert(mdl.v1.map(_.abs).max == PcaOps.Quantum)
    val rows = PcaOps.pcaProject(spark, sf).collect()
    assert(rows.length == 500)
    // the dominant component explains at least as much (centered,
    // integer-scaled) variance as the runner-up
    val var1 = rows.map(r => BigInt(r.getLong(2)).pow(2)).sum
    val var2 = rows.map(r => BigInt(r.getLong(3)).pow(2)).sum
    assert(var1 >= var2, s"pc1 variance $var1 < pc2 variance $var2")
  }

  test("kcenter: radii are non-increasing, centers distinct, seed is the min vec_id") {
    val rows = Coreset.kcenter(spark, sf).collect()
    assert(rows.length == Coreset.K)
    assert(rows.map(_.getLong(0)).toSeq == (0L until Coreset.K.toLong))
    assert(rows.map(_.getLong(1)).distinct.length == Coreset.K, "centers must be distinct")
    val minId = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(min(col("vec_id"))).head.getLong(0)
    assert(rows(0).getLong(1) == minId && rows(0).getLong(2) == 0L)
    // greedy k-center: each selection distance is the current coverage
    // radius — monotonically non-increasing after the seed
    val radii = rows.drop(1).map(_.getLong(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"radii must not increase: ${radii.mkString(",")}")
    assert(radii.head > 0L)
  }

  test("walks: every walk completes all steps and every hop follows a real edge") {
    val membership = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val walks = GraphOps.randomWalksOf(membership).cache()
    val perWalk = walks.groupBy(col("walk_id")).agg(count(lit(1)).as("n"))
    assert(perWalk.filter(col("n") =!= (GraphOps.Walks.Steps + 1L)).count() == 0,
      "undirected graph: no walk can dead-end")
    assert(perWalk.count() > 0, "fixture must yield at least one seed")
    // each consecutive hop must be an adjacency edge
    val li = membership.select(col("o"), col("p")).distinct()
    val und = li.as("x").join(li.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2L)
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val hops = walks.as("s").join(walks.as("t"),
        col("s.walk_id") === col("t.walk_id") &&
          col("s.step") + 1 === col("t.step"))
      .select(col("s.node").as("src"), col("t.node").as("dst"))
    assert(hops.join(edges, Seq("src", "dst"), "left_anti").count() == 0,
      "every hop must traverse an existing edge")
    // hash-deterministic: a second build is row-identical
    val again = GraphOps.randomWalksOf(membership)
    assert(walks.exceptAll(again).count() == 0 && again.exceptAll(walks).count() == 0)
    walks.unpersist()
  }

  test("hyperanf: register evolution tracks the real neighborhood function") {
    val membership = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val rows = AnfOps.anfOf(membership).collect()
    assert(rows.length == AnfOps.AnfRounds + 1)
    assert(rows.map(_.getLong(0)).toSeq == (0L to AnfOps.AnfRounds.toLong))
    val nNodes = rows(0).getLong(1)
    assert(rows.forall(_.getLong(1) == nNodes), "node count is radius-invariant")
    // radius 0: every ball is {v}; the m=16 small-range estimator reads
    // 16·ln(16/15) ≈ 1.040 per node — a CONSTANT, so the sum is exact
    assert(rows(0).getLong(2) == nNodes * AnfOps.AnfM *
      Math.round(1000.0 * math.log(16.0 / 15)),
      "radius-0 estimate must be the closed-form single-element value")
    // ball union only raises registers: the estimate never shrinks
    val ests = rows.map(_.getLong(2))
    assert(ests.zip(ests.tail).forall { case (a, b) => b >= a },
      s"neighborhood function must be monotone: ${ests.mkString(",")}")
    // radius 1 ground truth: N(1) = V + 2E exactly; the sketch must land
    // within a factor of 2 (m=16 → ~26% std error; a payload-width or
    // register-merge bug misses by orders of magnitude)
    val und = GraphOps.supportedEdges(membership)
    val exact1 = (nNodes + 2 * und.count()) * 1000L
    assert(ests(1) > exact1 / 2 && ests(1) < exact1 * 2,
      s"radius-1 estimate ${ests(1)} vs exact $exact1")
  }

  test("bradley-terry: strengths are normalized and order by evidence") {
    val rows = PreferenceOps.bradleyTerry(spark, sf).collect()
    assert(rows.length > 1)
    val k = rows.length.toLong
    val total = rows.map(_.getLong(3)).sum
    // floor-renormalization: sum in (k·1e6 − k, k·1e6]
    assert(total <= k * PreferenceOps.BtUnit && total > k * (PreferenceOps.BtUnit - 1),
      s"strengths must renormalize to ~k·1e6, got $total for k=$k")
    // output is sorted by strength; the top item must not have a worse
    // raw win-rate than the bottom item (BT strengths track evidence)
    val top = rows.head; val bot = rows.last
    assert(top.getLong(3) >= bot.getLong(3))
    assert(top.getLong(1) * bot.getLong(2) >= bot.getLong(1) * top.getLong(2),
      "top-strength item must have at least the bottom item's win-rate")
  }

  test("cohen's kappa: matches an independent driver-side brute force exactly") {
    // independent reimplementation in plain collections — any drift in
    // the pair derivation, tie abstention, marginals or the sign-aware
    // integer division shows up as a cell mismatch
    val brands = spark.read.parquet(s"$sf/part.parquet").collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_brand")).toMap
    val byOrder = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), brands(r.getLong(1)), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    var n = 0L; var agree = 0L; var na1 = 0L; var nb1 = 0L
    byOrder.values.foreach { ls =>
      val t = ls.groupBy(_._2).map { case (b, xs) =>
        (b, xs.map(_._3).sum, xs.map(_._4).sum)
      }.toSeq.sortBy(_._1)
      for (i <- t.indices; j <- (i + 1) until t.size) {
        val (x, y) = (t(i), t(j))
        if (x._2 != y._2 && x._3 != y._3) {
          val ra = if (x._2 > y._2) 1 else 2
          val rb = if (x._3 > y._3) 1 else 2
          n += 1; if (ra == rb) agree += 1
          if (ra == 1) na1 += 1; if (rb == 1) nb1 += 1
        }
      }
    }
    val peN = na1 * nb1 + (n - na1) * (n - nb1)
    val kNum = agree * n - peN
    val kappa = if (kNum >= 0) 1000 * kNum / (n * n - peN)
                else -(1000 * -kNum / (n * n - peN))
    val row = PreferenceOps.cohenKappa(spark, sf).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) ==
      (n, agree, 1000 * agree / n, 1000 * peN / (n * n), kappa),
      s"kappa row $row != brute force ($n, $agree, ..., $kappa)")
    // the two raters are correlated (revenue and quantity both track
    // basket size), so agreement must beat chance on this fixture
    assert(row.getLong(4) > 0L, "expected above-chance agreement")
  }

  test("join-view delta refresh equals the one-shot full join recompute") {
    val full = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
      .groupBy(col("ship_month"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
    val got = IncrementalMv.joinRefresh(spark, sf).cache()
    assert(got.exceptAll(full).count() == 0 && full.exceptAll(got).count() == 0,
      "three-term join delta must equal the full recompute")
    // both delta-straddling populations exist in the fixture, so all
    // three delta terms carried rows (old⋈new, new⋈old, new⋈new)
    assert(got.filter(col("ship_month") < 199706L).count() > 0)
    assert(got.filter(col("ship_month") >= 199706L).count() > 0)
    got.unpersist()
  }

  test("personalized pagerank: restart floor holds, mass is conserved and seed-local") {
    val membership = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val mass = graft.ops.PprOps.pprOf(membership).cache()
    val seeds = mass.filter(col("part") % graft.ops.PprOps.PprSeedMod === 0)
    assert(seeds.count() > 0)
    // every seed re-injects alpha-restart mass in the LAST round, so no
    // seed can sit below it
    val restart = graft.ops.PprOps.PprAlphaMilli * graft.ops.PprOps.PprUnit / 1000L
    assert(seeds.agg(min(col("mass_micro"))).head.getLong(0) >= restart)
    // flooring only ever LOSES mass: the grand total is bounded by what
    // was ever injected (initial unit + R restarts per seed, geometric
    // decay ignored = a loose upper bound), and stays positive
    val nSeeds = seeds.count()
    val total = mass.agg(sum(col("mass_micro"))).head.getLong(0)
    assert(total > 0 &&
      total <= nSeeds * (graft.ops.PprOps.PprUnit +
        graft.ops.PprOps.PprRounds.toLong * restart))
    // locality: mass reaches exactly the <= R-hop ball around the seeds
    // (sparse representation never invents far-away rows)
    val und = graft.ops.GraphOps.supportedEdges(membership)
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"))).cache()
    var reach = seeds.select(col("part").as("n")).distinct()
    for (_ <- 1 to graft.ops.PprOps.PprRounds)
      reach = reach.unionByName(
        edges.join(reach.withColumnRenamed("n", "src"), Seq("src"))
          .select(col("dst").as("n"))).distinct().localCheckpoint()
    assert(mass.select(col("part").as("n")).join(reach, Seq("n"), "left_anti").count() == 0,
      "mass must stay inside the R-hop seed ball")
    edges.unpersist(); mass.unpersist()
  }

  test("label spreading: seeds keep labels, coverage grows, majority vote recovers structure") {
    val out = graft.ops.SimilarityOps.labelSpread(spark, sf).cache()
    assert(out.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count() == 0, "one label per vector")
    val seeds = out.filter(col("src_round") === 0L)
    assert(seeds.count() > 0)
    assert(seeds.filter(!col("agree")).count() == 0,
      "seeds must keep their own (true) label")
    val spreadRows = out.filter(col("src_round") > 0L)
    val nSpread = spreadRows.count()
    assert(nSpread > 0, "propagation must label non-seed vectors")
    // kNN majority over the k-means cell partition must beat the 1/k
    // random-guess floor decisively: ≥ 5σ above the binomial chance
    // mean (structure-free propagation sits at chance; measured ~11σ
    // at spec sf, ~2.5x chance)
    val k = out.select(col("true_label")).distinct().count()
    val agree = spreadRows.filter(col("agree")).count()
    val p = 1.0 / k
    val bound = nSpread * p + 5.0 * math.sqrt(nSpread * p * (1 - p))
    assert(agree >= bound,
      s"non-seed agreement $agree/$nSpread below chance+5σ=$bound (k=$k)")
    out.unpersist()
  }

  test("unigram tokenizer: piece bounds hold, dominant words collapse, runs deterministic") {
    import spark.implicits._
    // hand corpus: "abab" is overwhelmingly frequent, so the unigram
    // model must learn it (or "ab") as a piece and segment the word
    // into ONE piece — 4 single chars would cost ~2x more nats
    val tiny = Seq((1L, "abab abab abab abab xyz"), (2L, "abab qq"))
      .toDF("doc_id", "text")
    val enc = graft.ops.UnigramLm.unigramEncodeFrom(tiny).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(enc(2L)._1 == 2L) // two vocab-covered words
    // "abab" -> 1 piece, "qq" <= 2 pieces
    assert(enc(2L)._2 <= 3L, s"dominant word must compress: ${enc(2L)}")
    // fixture invariants: every word yields >= 1 and <= len pieces
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.UnigramLm.unigramEncodeFrom(docs).cache()
    val chars = docs
      .select(col("doc_id"), explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= graft.ops.UnigramLm.MaxWord)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(length(col("w"))).cast("long").as("nc"))
    val j = out.join(chars, Seq("doc_id")).cache()
    assert(j.filter(col("n_words") =!= col("nw")).count() == 0,
      "every length-bounded word is covered (fixture vocab fits the cap)")
    assert(j.filter(col("n_unigram_tokens") < col("n_words") ||
      col("n_unigram_tokens") > col("nc")).count() == 0,
      "per-doc tokens must lie in [n_words, n_chars]")
    // the trained model must actually compress (multi-char pieces used)
    val sums = j.agg(sum(col("n_unigram_tokens")), sum(col("nc"))).head
    assert(sums.getLong(0) < sums.getLong(1), "no compression happened")
    val again = graft.ops.UnigramLm.unigramEncodeFrom(docs)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    j.unpersist(); out.unpersist()
  }

  test("incremental MV refresh equals the one-shot full recompute and is idempotent") {
    val full = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
      .groupBy(col("ship_month"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("qty_cents"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
    val got = IncrementalMv.incrementalRefresh(spark, sf).cache()
    assert(got.exceptAll(full).count() == 0 && full.exceptAll(got).count() == 0,
      "merge(base, delta) must equal the full recompute")
    // months strictly before the cutoff exist in the refreshed MV (the
    // merge only rewrote delta-touched partitions; history remains)
    assert(got.filter(col("ship_month") < 199706L).count() > 0)
    val again = IncrementalMv.incrementalRefresh(spark, sf)
    assert(got.exceptAll(again).count() == 0 && again.exceptAll(got).count() == 0,
      "refresh must be idempotent run-to-run")
    got.unpersist()
  }

  test("distinct MV maintain: support-table merge equals the one-shot COUNT(DISTINCT)") {
    val got = IncrementalMv.distinctMaintain(spark, sf).cache()
    val full = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
      .groupBy(col("ship_month"))
      .agg(countDistinct(col("l_suppkey")).as("n_distinct_supp"),
        count(lit(1)).as("n_rows"))
    assert(got.exceptAll(full).count() == 0 && full.exceptAll(got).count() == 0,
      "served distinct counts must equal the full recompute")
    // pre-cutoff months survive the partial rewrite
    assert(got.filter(col("ship_month") < 199706L).count() > 0)
    val again = IncrementalMv.distinctMaintain(spark, sf)
    assert(got.exceptAll(again).count() == 0 && again.exceptAll(got).count() == 0,
      "refresh must be idempotent run-to-run")
    got.unpersist()
  }

  test("delete retraction MV: equals the full recompute over undeleted rows; m=0 vanishes") {
    val got = IncrementalMv.deleteRetraction(spark, sf).cache()
    val full = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") =!= "R")
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
      .groupBy(col("ship_month"))
      .agg(countDistinct(col("l_suppkey")).as("n_distinct_supp"),
        count(lit(1)).as("n_rows"))
    assert(got.exceptAll(full).count() == 0 && full.exceptAll(got).count() == 0,
      "retracted view must equal the recompute over undeleted rows")
    // the liveness filter is load-bearing: some (month, supplier) pair
    // must actually have been fully retracted (m = 0), otherwise the
    // fixture isn't exercising the delete path
    val withReturns = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
      .groupBy(col("ship_month"), col("l_suppkey"))
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_ret"))
    assert(withReturns.filter(col("n_all") === col("n_ret")).count() > 0,
      "fixture must contain at least one fully-returned (month, supplier) pair")
    got.unpersist()
  }

  test("topk MV maintain: equals the one-shot full recompute's top-k, ranked, idempotent") {
    val got = IncrementalMv.topkMaintain(spark, sf).collect()
    val full = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (-t._3, t._1)).take(IncrementalMv.TopKSuppliers)
    assert(got.length == full.length)
    got.zip(full).zipWithIndex.foreach { case ((r, e), i) =>
      assert(r.getLong(0) == i + 1, s"rank column must be dense from 1")
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == e,
        s"rank ${i + 1}: got ${(r.getLong(1), r.getLong(2), r.getLong(3))} expected $e")
    }
    // idempotent: a re-run rebuilds + re-merges the bucketed state and
    // serves the identical readout
    assert(IncrementalMv.topkMaintain(spark, sf).collect().map(_.toSeq).toSeq ==
      got.map(_.toSeq).toSeq)
  }

  test("MV refresh: merges the delta into the stored MV, rewriting only the partitions it touches") {
    import spark.implicits._
    val base = Seq((1, "a", 1L), (1, "b", 2L), (2, "a", 3L), (3, "a", 4L), (3, "b", 5L))
      .toDF("p", "k", "v")
    val delta = Seq((3, "a", 10L), (3, "c", 20L)).toDF("p", "k", "v")
    val got = IncrementalMv.refresh(spark, "spec_refresh", "p", base, delta)(
      IncrementalMv.sums("p", "k")("v"))
    assert(got.select("p", "k", "v").as[(Int, String, Long)].collect().sorted.toSeq ==
      Seq((1, "a", 1L), (1, "b", 2L), (2, "a", 3L), (3, "a", 14L), (3, "b", 5L), (3, "c", 20L)))
    // a parquet file name carries its write job's UUID: partitions 1 and
    // 2 keep the base write's files, only partition 3 was rewritten
    val Uuid = "part-[0-9]+-([0-9a-f-]{36})".r.unanchored
    val jobs = got.select(col("p"), input_file_name()).distinct().collect()
      .groupMap(_.getInt(0))(r => r.getString(1) match { case Uuid(u) => u })
      .map { case (p, us) => p -> us.toSet }
    assert(jobs.values.forall(_.size == 1), jobs)
    assert(jobs(1) == jobs(2) && jobs(3) != jobs(1), jobs)
  }

  test("topk delete MV: equals the one-shot top-k over the undeleted rows, ranked, idempotent") {
    val got = IncrementalMv.topkDelete(spark, sf).collect()
    val full = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") =!= "R")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (-t._3, t._1)).take(IncrementalMv.TopKSuppliers)
    assert(got.length == full.length)
    assert(got.map(_.getLong(0)).toSeq == (1L to got.length.toLong), "rank must be dense from 1")
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == full.toSeq)
    assert(IncrementalMv.topkDelete(spark, sf).collect().map(_.toSeq).toSeq ==
      got.map(_.toSeq).toSeq)
  }

  test("agg-state MV: merged HLL states equal the direct sketch, invariant to finer state partitioning") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val got = AggStateMv.aggStateMv(spark, sf).collect()
    // merge(per-month states) must equal the INDEPENDENT direct register
    // pipeline over the raw rows — the -State/-Merge theorem against a
    // second implementation, not the op's own code path
    val direct = graft.ops.SketchOps.hllDistinctOf(orders)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    got.foreach { r =>
      val g = r.getString(0)
      assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) == direct(g),
        s"group $g: merged state != direct sketch")
    }
    // counts/sums partials: the distributive arm must tile the fact table
    assert(got.map(_.getLong(1)).sum == orders.count())
    // merging FINER states (orderkey-parity split doubles the state rows
    // per (month, grp)) must not change a single cell
    val even = AggStateMv.states(orders.filter(col("o_orderkey") % 2 === 0))
    val odd = AggStateMv.states(orders.filter(col("o_orderkey") % 2 === 1))
    val merged = AggStateMv.mergeStates(even.unionByName(odd))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    got.foreach { r =>
      val g = r.getString(0)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) == merged(g),
        s"group $g: split-merge differs from month-merge")
    }
  }

  test("agg-state refresh: idempotent re-run, touches only post-cutoff months beyond the stored build") {
    val got = AggStateMv.aggStateRefresh(spark, sf).cache()
    val again = AggStateMv.aggStateRefresh(spark, sf)
    assert(got.exceptAll(again).count() == 0 && again.exceptAll(got).count() == 0,
      "state refresh must be idempotent run-to-run")
    // the delta can only ADD to pre-cutoff months' states, never lose:
    // every month present pre-refresh is present after, and row counts
    // tile the fact table
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    assert(got.agg(sum(col("n_rows"))).head.getLong(0) == orders.count())
    val monthsGot = got.select(col("o_month")).distinct().count()
    val monthsRaw = orders
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("m"))
      .distinct().count()
    assert(monthsGot == monthsRaw, "every fact month must have a state row")
    got.unpersist()
  }

  test("quantile sketch: exact quantile always lands inside the reported bucket, buckets monotone in q") {
    import graft.ops.SketchOps
    val rows = SketchOps.quantileHist(spark, sf).collect()
    assert(rows.length == 15) // 5 groups x 3 quantiles
    rows.foreach { r =>
      val (bucket, edge, exactLn) = (r.getLong(2), r.getLong(3), r.getLong(5))
      // the containment guarantee: the sketch's answer is the bucket
      // holding the true quantile — never off by one
      assert(exactLn / SketchOps.QWidthMilli == bucket && edge == bucket * SketchOps.QWidthMilli,
        s"row $r: exact quantile outside the sketch bucket")
    }
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byQ = rs.sortBy(_.getLong(1)).map(_.getLong(2))
      assert(byQ.zip(byQ.tail).forall { case (a, b) => a <= b },
        "bucket must be non-decreasing in the quantile")
    }
  }

  test("doremi: mixture is a smoothed distribution, monotone in excess loss") {
    val rows = DomainReweight.doremiWeights(spark, sf).collect()
    assert(rows.length >= 2, "fixture must have at least two domains")
    val excess = rows.map(_.getLong(3))
    val alpha = rows.map(_.getLong(4))
    assert(excess.min == 0L, "the reference (lowest-NLL) domain has zero excess")
    assert(excess.forall(_ >= 0L))
    // ppm mixture: sums to 1e6 minus bounded DIV truncation, never over
    val total = alpha.sum
    assert(total <= 1000000L && total >= 990000L, s"alpha sum $total out of band")
    // uniform smoothing floor: every domain keeps at least eps/k
    assert(alpha.min >= DomainReweight.EpsPpm / rows.length,
      s"smoothing floor violated: ${alpha.min}")
    // multiplicative weights are monotone in excess (equal starts,
    // monotone factor, monotone truncation)
    val byExcess = rows.sortBy(r => (r.getLong(3), r.getString(0)))
    byExcess.map(_.getLong(4)).sliding(2).foreach {
      case Array(a, b) => assert(a <= b, "alpha must be non-decreasing in excess")
      case _ =>
    }
    // budget arithmetic: token_budget == total_tokens · alpha DIV 1e6
    val totalTokens = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      assert(r.getLong(5) == totalTokens * r.getLong(4) / 1000000L,
        s"budget mismatch for ${r.getString(0)}")
    }
  }

  test("outlier MAD: histogram medians match a brute-force sort, fence is the exact modified-z rule") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s(((s.length + 1) / 2) - 1) // rank ceil(n/2), 1-based
    }
    val expect = d.groupBy(_._1).map { case (src, xs) =>
      val vals = xs.map(_._2).toSeq
      val med = lowerMedian(vals)
      val devs = vals.map(v => (v - med).abs)
      val mad = lowerMedian(devs)
      val outliers = devs.count(dv => dv * 6745L > mad * 35000L)
      src -> (vals.length.toLong, med, mad, outliers.toLong, devs.max)
    }
    val got = RobustStats.outlierMad(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == e,
        s"source ${r.getString(0)}: got ${(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))} expected $e")
    }
  }

  test("js divergence: brute-force replay per source, bounds hold, grid tiles the vocab") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("text")).collect()
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    rows.foreach { r =>
      r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val k = (r.getString(0), t); counts(k) = counts.getOrElse(k, 0L) + 1L
      }
    }
    val bySrc = counts.groupBy(_._1._1)
      .map { case (s, m) => s -> m.map { case ((_, t), c) => t -> c } }
    val tot = counts.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val nAll = counts.values.sum
    // both engines round() away from zero on doubles
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong
    val got = graft.ops.FilterOps.jsDivergence(spark, sf).collect()
    assert(got.length == bySrc.size)
    got.foreach { r =>
      val cs = bySrc(r.getString(0))
      val ns = cs.values.sum
      val nr = nAll - ns
      var jsp = 0L; var jsq = 0L
      tot.foreach { case (t, ct) =>
        val c = cs.getOrElse(t, 0L); val rs = ct - c
        val m = (c.toDouble / ns + rs.toDouble / nr) / 2.0
        if (c > 0) jsp += c * rnd(1000.0 * math.log((c.toDouble / ns) / m))
        if (rs > 0) jsq += rs * rnd(1000.0 * math.log((rs.toDouble / nr) / m))
      }
      assert(r.getLong(1) == ns && r.getLong(2) == nr, s"${r.getString(0)} totals")
      assert(r.getLong(4) == jsp && r.getLong(5) == jsq, s"${r.getString(0)} sums")
      assert(r.getDouble(6) == (jsp.toDouble / ns + jsq.toDouble / nr) / 2.0)
      // Gibbs: JS >= 0 (quantization slack) and <= ln 2 = 693.1 milli-nats
      assert(r.getDouble(6) >= -0.5 && r.getDouble(6) <= 693.2)
      assert(r.getLong(3) <= tot.size.toLong) // source vocab within corpus vocab
    }
  }

  test("winsorized/trimmed mean: histogram deciles match brute-force ranks, means are the exact clamped/core averages") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // histQuantile contract: smallest value whose cumulative count
    // reaches ceil(n·num/den) == the k-th smallest, k = ceil(n·num/den)
    def rankQ(xs: Seq[Long], num: Long, den: Long): Long = {
      val s = xs.sorted
      s((((s.length * num + den - 1) / den) - 1).toInt)
    }
    val expect = d.groupBy(_._1).map { case (src, xs) =>
      val vals = xs.map(_._2).toSeq
      val p10 = rankQ(vals, 1, 10)
      val p90 = rankQ(vals, 9, 10)
      val wins = vals.map(v => math.min(math.max(v, p10), p90))
      val core = vals.filter(v => v >= p10 && v <= p90)
      src -> (vals.length.toLong, p10, p90,
        wins.sum.toDouble / vals.length,
        core.length.toLong, core.sum.toDouble / core.length)
    }
    val got = RobustStats.winsorized(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val e = expect(r.getString(0))
      val g = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getLong(5), r.getDouble(6))
      assert(g == e, s"source ${r.getString(0)}: got $g expected $e")
      // robustness ordering: both robust means sit inside the clamp range
      assert(r.getDouble(4) >= r.getLong(2) && r.getDouble(4) <= r.getLong(3))
      assert(r.getDouble(6) >= r.getLong(2) && r.getDouble(6) <= r.getLong(3))
    }
  }
}
