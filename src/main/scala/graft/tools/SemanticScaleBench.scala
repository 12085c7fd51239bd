package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.FloatDot
import graft.ops.{Clustering, DedupOps, GraphOps}

/** Scale-up measurement for SEMANTIC dedup (SCALE.md claim: with K
  * derived from the corpus — Clustering.kFor — and the MaxCell guard,
  * the cluster-then-compare dag is ~linear in corpus size: pair work
  * ~n·TargetCell/2, assignment n·K FloatDot ops).
  *
  * Blows the embeddings corpus up by replication; replica k multiplies
  * every element by a deterministic ±1 pattern from xxhash64(rep, i) —
  * a per-replica orthogonal-ish reflection, so WITHIN a replica every
  * cosine (and thus its twin structure) is exactly preserved while
  * CROSS-replica cosines scramble toward 0: dup density stays constant
  * as the corpus grows, like DedupScaleBench's token-suffix trick.
  *
  * Usage: runMain graft.tools.SemanticScaleBench [sfDir] [factors...]
  * (defaults: sf0.1, factors 1 5 10)
  */
object SemanticScaleBench {

  /** Replicate (vec_id, embedding) `factor`×, ids offset by rep·10⁵
    * (below the +10⁶ twin offset), elements sign-flipped per replica. */
  def blowUp(emb: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) emb.select(col("vec_id"), col("embedding"))
    else emb
      .crossJoin(emb.sparkSession.range(0, factor).select(col("id").as("_rep")))
      .select(
        (col("vec_id") + col("_rep") * 100000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x * (CASE WHEN pmod(xxhash64(_rep, i), 2) = 0 " +
          "THEN 1.0D ELSE -1.0D END) AS FLOAT))").as("embedding"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 5, 10)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    factors.foreach { f =>
      // materialize corpus + twins so the measured dag starts in memory
      val corpus = blowUp(emb, f).localCheckpoint()
      val twins = corpus.select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 1.001d AS FLOAT))").as("embedding"))
      val base = corpus.unionByName(twins).localCheckpoint()
      val n = base.count()
      val ((k, maxCell, nPairs, nDropped), t) = DedupScaleBench.timed {
        val kk = Clustering.kFor(n)
        val cents = Clustering.trainCentroidsOn(corpus, kk)
        val asg = Clustering.assign(base, cents)
          .withColumn("nrm", sqrt(FloatDot(col("embedding"), col("embedding"))))
          .localCheckpoint()
        val mx = asg.groupBy(col("cluster")).count()
          .agg(max(col("count"))).head.getLong(0)
        val pairs = DedupOps.semanticPairs(asg).localCheckpoint()
        val np = pairs.count()
        val nd = GraphOps.connectedComponents(pairs.select(col("a"), col("b")))
          .filter(col("node") =!= col("label")).count()
        (kk, mx, np, nd)
      }
      println(f"[semscale] factor=$f%-3d vecs=$n%7d k=$k%4d max_cell=$maxCell%5d " +
        f"pairs=$nPairs%7d dropped=$nDropped%7d time=$t%6.1fs (${n / t}%8.0f vecs/s)")
    }
    spark.stop()
  }
}
