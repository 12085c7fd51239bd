package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.DedupOps

/** Measures the batch-incremental near-dup premise: once the banded
  * index exists, deduping a small delta against it should cost a
  * fraction of re-running the batch pipeline on base ∪ delta — and the
  * gap should WIDEN with corpus size (the batch side re-hashes the
  * whole corpus; the incremental side touches the delta plus its
  * collision neighborhood).
  *
  * Usage: runMain graft.tools.IncrementalBench [sfDir] [reps] [blowup]
  *
  * `blowup` N replicates the BASE corpus in-engine N× (replica k>0
  * suffixes every token with _k, so replicas are mutually non-colliding
  * — a model of a larger diverse corpus, the CrossoverBench pattern)
  * while the delta stays fixed: exactly the corpus-growth premise.
  */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val blowup = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // materialize the (possibly blown-up) base as parquet — both paths
    // then read the same on-disk warehouse, like production would
    val baseBuilt =
      if (blowup <= 1) base0
      else (0 until blowup).map { k =>
        if (k == 0) base0
        else base0.select(
          (col("doc_id") + k * 10000000L).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1_$k").as("text"))
      }.reduce(_ unionByName _)
    // fixed overwrite-reused scratch names under the configurable root
    // (the repo-wide Scratch policy: no driver-local temp dirs, no
    // per-invocation leak)
    val basePath = graft.etl.Scratch.path(spark, "incr_bench_base")
    baseBuilt.write.mode("overwrite").parquet(basePath)
    val base = spark.read.parquet(basePath)
    val all = DedupOps.corpus(spark, sfDir)
    // delta = 10% of the twins: a realistically small delivery
    val delta = all.filter(col("doc_id") >= 1000000L && col("doc_id") % 10 === 0L)
      .localCheckpoint()
    val baseAndDelta = base
      .unionByName(delta.select(col("doc_id"), col("text")))
    val idx = graft.etl.Scratch.path(spark, "incr_bench_bands")

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warmup both dags once
    DedupOps.buildMinhashIndex(base, idx)
    DedupOps.minhashDedupIncremental(spark, delta, idx, base).count()
    DedupOps.dupPairsFrom(baseAndDelta).count()

    val tIndex = (1 to reps).map(_ => time(DedupOps.buildMinhashIndex(base, idx))).min
    var nInc = 0L
    val tInc = (1 to reps).map(_ => time {
      nInc = DedupOps.minhashDedupIncremental(spark, delta, idx, base).count()
    }).min
    // slice the full re-run to pairs involving a DELTA doc (blown-up
    // replica ids also exceed 1e6, so a range filter would over-count);
    // same filter definition as the incremental path uses
    val deltaIds = delta.select(col("doc_id")).distinct()
    var nFull = 0L
    val tFull = (1 to reps).map(_ => time {
      nFull = DedupOps.pairsInvolving(
        DedupOps.dupPairsFrom(baseAndDelta).select(col("a"), col("b")), deltaIds)
        .count()
    }).min
    println(f"[incr] sf=$sfDir base=${base.count()} delta=${delta.count()} " +
      f"index_build=$tIndex%.2fs incremental=$tInc%.2fs ($nInc pairs) " +
      f"full_rerun=$tFull%.2fs ($nFull pairs) speedup=${tFull / tInc}%.2fx")
    graft.etl.Scratch.cleanAll(spark)
    spark.stop()
  }
}
