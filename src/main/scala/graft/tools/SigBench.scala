package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.DedupOps

/** A/B of the MinHash signature passes: classic [[graft.functions
  * .MinHashSig]] (NumPerms affine evaluations per shingle) vs the OPH
  * variant [[graft.functions.OphMinHashSig]] (one mod+div+compare per
  * shingle, rotation densification). Interleaved best-of-N on the
  * sf corpus ∪ twins; also reports end-to-end pipeline times and pair
  * counts so the recall trade is visible next to the speedup.
  * Usage: runMain graft.tools.SigBench [sfDir] [reps]
  */
object SigBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val factor = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base0 = DedupOps.corpus(spark, sfDir)
    // vertex-disjoint replication (the DedupScaleBench trick): the
    // signature pass is row-local, so replicas scale work exactly
    val base = (0 until factor).map(k =>
        base0.select((col("doc_id") + k.toLong * 10000000L).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val sig = scala.collection.mutable.Buffer.empty[Double]
    val oph = scala.collection.mutable.Buffer.empty[Double]
    var rows = (0L, 0L)
    for (_ <- 1 to reps) {
      spark.catalog.clearCache()
      // sum of a per-row fold of the signature: count() alone would let
      // Catalyst prune the signature projection away entirely
      def force(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(expr("aggregate(sig, CAST(0 AS BIGINT), (a, x) -> a + x)")))
          .head.getLong(0)
      val (tc, nc) = timed(force(DedupOps.signatureArray(base)))
      spark.catalog.clearCache()
      val (to, no) = timed(force(DedupOps.ophSignatureArray(base)))
      sig += tc; oph += to; rows = (nc, no)
    }
    println(f"SIGBENCH factor=$factor classic min=${sig.min}%.3f s  oph min=${oph.min}%.3f s  " +
      f"speedup=${sig.min / oph.min}%.2fx  rows=${rows._1}/${rows._2}")
    // resolution scaling: 256-wide signatures — classic pays 8x the
    // affine loop, OPH still pays one mod+div per shingle
    val perm256 = (0 until 256).map { i =>
      val a = Math.floorMod(graft.ops.SimilarityOps.mix(0x51515151L + i), DedupOps.HashMod - 1) + 1
      val b = Math.floorMod(graft.ops.SimilarityOps.mix(0x62626262L + i), DedupOps.HashMod)
      (a, b)
    }
    def force2(c: org.apache.spark.sql.Column): Long =
      base.select(c.as("sig"))
        .agg(sum(expr("aggregate(sig, CAST(0 AS BIGINT), (a, x) -> a + x)")))
        .head.getLong(0)
    val s256 = scala.collection.mutable.Buffer.empty[Double]
    val o256 = scala.collection.mutable.Buffer.empty[Double]
    for (_ <- 1 to reps) {
      spark.catalog.clearCache()
      s256 += timed(force2(graft.functions.MinHashSig(
        graft.ops.TextOps.tokens(col("text")), 31L, DedupOps.HashMod, 131L, perm256)))._1
      spark.catalog.clearCache()
      o256 += timed(force2(graft.functions.OphMinHashSig(
        graft.ops.TextOps.tokens(col("text")), 31L, DedupOps.HashMod, 131L, 256)))._1
    }
    println(f"SIGBENCH B=256 factor=$factor classic min=${s256.min}%.3f s  " +
      f"oph min=${o256.min}%.3f s  speedup=${s256.min / o256.min}%.2fx")
    if (factor > 1) { spark.stop(); return }
    // end-to-end phases: same banding/cap/verify tail on both kinds
    def pairCount(f: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = f.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def minOf2(f: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val (t1, n) = pairCount(f); val (t2, _) = pairCount(f)
      (math.min(t1, t2), n)
    }
    // interleaved: build both plans, then alternate A/B/A/B so neither
    // side systematically absorbs first-use codegen for the other
    val (tCandL1, nCandLsh) = pairCount(DedupOps.minhashCandidates(base))
    val (tCandO1, nCandOph) = pairCount(DedupOps.ophCandidates(base))
    val (tCandL2, _) = pairCount(DedupOps.minhashCandidates(base))
    val (tCandO2, _) = pairCount(DedupOps.ophCandidates(base))
    println(f"SIGBENCH candidates classic=$nCandLsh (min ${math.min(tCandL1, tCandL2)}%.3f s) " +
      f"oph=$nCandOph (min ${math.min(tCandO1, tCandO2)}%.3f s)")
    def vol(keys: org.apache.spark.sql.DataFrame): Long = keys
      .groupBy(col("band"), col("band_key"))
      .agg(countDistinct(col("doc_id")).as("n"))
      .filter(col("n") > 1 && col("n") <= DedupOps.MaxBucket)
      .agg(sum(expr("n * (n - 1) DIV 2"))).head.getLong(0)
    println(s"SIGBENCH bucket pair volume classic=${vol(DedupOps.bandKeys(base))} " +
      s"oph=${vol(DedupOps.ophBandKeys(base))}")
    val (tLsh1, nLsh) = pairCount(DedupOps.dupPairsFrom(base))
    val (tOph1, nOph) = pairCount(DedupOps.ophDedupFrom(base))
    val (tLsh2, _) = pairCount(DedupOps.dupPairsFrom(base))
    val (tOph2, _) = pairCount(DedupOps.ophDedupFrom(base))
    val tLsh = math.min(tLsh1, tLsh2); val tOph = math.min(tOph1, tOph2)
    val twinsLsh = DedupOps.dupPairsFrom(base)
      .filter(col("b") === col("a") + 1000000L).count()
    val twinsOph = DedupOps.ophDedupFrom(base)
      .filter(col("b") === col("a") + 1000000L).count()
    println(f"SIGBENCH pipeline classic=$tLsh%.3f s ($nLsh pairs, $twinsLsh twins)  " +
      f"oph=$tOph%.3f s ($nOph pairs, $twinsOph twins)")
    spark.stop()
  }
}
