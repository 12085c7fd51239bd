package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recall/cost instrumentation for IVF over TRAINED k-means cells (the
  * index-build shape a production ANN deployment persists): shared by
  * the OpsSpec curve assertions (sf0.001 and sf0.1) and the
  * `ScaleBench ivf` table in SCALE.md. `nprobe` is the
  * recall-vs-cost dial: scan cost grows ~linearly with probed cells
  * while recall saturates.
  */
object TrainedIvf {

  /** One operating point: recall@TopK vs exact brute force, the average
    * fraction of the corpus a query actually scanned (cells are
    * unequal), and the probe-batch throughput. */
  case class Point(nprobe: Int, recall: Double, scanned: Double, qps: Double)

  /** Every block the curve localCheckpoints is released before it
    * returns: the points are plain values, nothing reads them later. */
  def curve(s: SparkSession, dir: String, nprobes: Seq[Int]): Seq[Point] = {
    val before = s.sparkContext.getPersistentRDDs.keySet.toSet
    try points(s, dir, nprobes) finally SharedTables.release(s, keep = before)
  }

  private def points(s: SparkSession, dir: String, nprobes: Seq[Int]): Seq[Point] = {
    import s.implicits._
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.count().toDouble
    val cents = Clustering.trainCentroids(s, dir)
    val asg = Clustering.assign(emb, cents)
      .select(col("vec_id"), col("cluster")).localCheckpoint()
    val embC = emb.join(asg, Seq("vec_id")).localCheckpoint()
    val centDf = cents.zipWithIndex.map { case (c, k) => (k.toLong, c) }
      .toDF("cluster", "centroid")
    val probes = emb.filter(col("vec_id") < SimilarityOps.ProbeIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val bf = SimilarityOps.annBruteForce(s, dir).select("q_id", "c_id").localCheckpoint()
    val denom = (SimilarityOps.ProbeIds * SimilarityOps.TopK).toDouble
    val sizes = asg.groupBy(col("cluster")).count()

    nprobes.map { np =>
      val wCell = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("cluster"))
      val probed = probes.crossJoin(broadcast(centDf))
        .select(col("q_id"), col("q_emb"), col("cluster"),
          SimilarityOps.cosine(col("q_emb"), col("centroid")).as("c_cos"))
        .withColumn("_r", row_number().over(wCell))
        .filter(col("_r") <= np)
        .select(col("q_id"), col("q_emb"), col("cluster"))
        .localCheckpoint()
      // timed region = what a serving query pays: scan the probed cells,
      // exact cosine, top-K (cell ranking above is amortized per batch)
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val t0 = System.nanoTime()
      val ivf = embC.join(broadcast(probed), Seq("cluster"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("c_id"),
          SimilarityOps.cosine(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= SimilarityOps.TopK)
        .select(col("q_id"), col("c_id"))
        .localCheckpoint()
      val secs = (System.nanoTime() - t0) / 1e9
      val recall = bf.intersect(ivf).count().toDouble / denom
      val scanned = probed.join(sizes, Seq("cluster"))
        .groupBy(col("q_id")).agg(sum(col("count")).as("s"))
        .agg(avg(col("s"))).head().getDouble(0) / corpus
      Point(np, recall, scanned, SimilarityOps.ProbeIds / secs)
    }
  }
}
