package graft

import graft.ops.{DedupOps, GraphOps}

/** Pins the family-shared MinHash materialization's survival contract
  * (r16, the dedup analogue of [[CoTablesCacheSpec]]): (1) the bench's
  * selective unpersist spares exactly the cache's RDD ids so a later
  * family member reuses the shared tables; (2) a harness that
  * unpersists EVERYTHING invalidates the entry, which must detect its
  * dead blocks and rebuild instead of throwing
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; (3) the shared build cost is
  * surfaced as named BENCH.out.json line items (r15 verdict
  * transparency rule: baselines stay frozen, the sharing must be
  * visible in the artifact). */
class DupTablesCacheSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("bench-style selective unpersist spares the shared dup tables") {
    val n1 = DedupOps.minhashDedup(spark, dir).count() // builds + caches
    val keep = graft.ops.SharedTables.protectedIds(spark)
    assert(DedupOps.protectedRddIds(spark).nonEmpty,
      "the cache must register its checkpoint blocks")
    assert(DedupOps.protectedRddIds(spark).subsetOf(keep),
      "the bench's keep-set must cover the dedup family's shared blocks")
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = false)
    }
    // reuses the spared blocks — and must not crash
    val n2 = GraphOps.dedupClusters(spark, dir).count()
    assert(n1 > 0 && n2 > 0)
    assert(DedupOps.protectedRddIds(spark)
      .subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
  }

  test("a full unpersist invalidates the cache entry and forces a rebuild") {
    val before = DedupOps.minhashDedup(spark, dir).count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // the cached entry's blocks are gone; a hit without the liveness
    // check would throw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND here
    val after = DedupOps.minhashDedup(spark, dir).count()
    assert(before == after, "rebuild must reproduce the same result")
  }

  test("shared build seconds surface as named bench line items") {
    DedupOps.dupPairs(spark, dir).count() // ensure the dedup entry exists
    GraphOps.triangles(spark, dir).count() // ensure the graph entry exists
    val entries = Bench.sharedBuildEntries(spark).toMap
    assert(entries.keys.exists(_ == s"dedup_minhash:$dir"), entries.keys)
    assert(entries.keys.exists(_ == s"graph_cotables:$dir"), entries.keys)
    assert(entries.values.forall(_ > 0.0), "build seconds must be measured")
  }

  test("shared pairs equal the unshared pipeline (the oracle identity)") {
    // dupPairsFrom is the uncached reference dag over the same corpus
    val shared = DedupOps.dupPairs(spark, dir)
      .select("a", "b", "inter", "jaccard").collect().toSet
    val reference = DedupOps.dupPairsFrom(DedupOps.corpus(spark, dir))
      .select("a", "b", "inter", "jaccard").collect().toSet
    assert(shared == reference)
  }

  test("shared build line items keep a source dir that contains ':'") {
    // a `file:` URI to a directory whose own name has a colon: the
    // line-item label is the dir each entry was built from, verbatim
    val tmp = java.nio.file.Files.createTempDirectory("graft_colon")
    val link = java.nio.file.Files.createSymbolicLink(
      tmp.resolve("sf:0.001"), java.nio.file.Paths.get(dir))
    val colonDir = s"file:$link"
    DedupOps.dupPairs(spark, colonDir).count()
    GraphOps.triangles(spark, colonDir).count()
    assert(DedupOps.sharedBuildSeconds(spark).contains(colonDir))
    assert(GraphOps.sharedBuildSeconds(spark).contains(colonDir))
    val entries = Bench.sharedBuildEntries(spark).toMap
    assert(entries.contains(s"dedup_minhash:$colonDir"), entries.keys)
    assert(entries.contains(s"graph_cotables:$colonDir"), entries.keys)
  }
}
