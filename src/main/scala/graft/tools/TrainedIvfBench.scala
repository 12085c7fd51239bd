package graft.tools

import graft.GraftSession
import graft.ops.{Clustering, TrainedIvf}

/** SCALE.md table: recall@10 / scanned fraction / probe-batch QPS by
  * nprobe, over TRAINED k-means cells (corpus-derived cell count).
  * Usage: runMain graft.tools.TrainedIvfBench [sfDir] [nprobes...]
  * (defaults: sf0.1, nprobe 1 2 4 8)
  */
object TrainedIvfBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nprobes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 2, 4, 8)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val k = Clustering.kFor(n)
    println(f"[ivf] corpus=$n k=$k (trained cells)")
    TrainedIvf.curve(spark, sfDir, nprobes).foreach { p =>
      println(f"[ivf] nprobe=${p.nprobe}%2d recall@10=${p.recall}%.3f " +
        f"scanned=${p.scanned}%.3f qps=${p.qps}%8.1f")
    }
    spark.stop()
  }
}
