package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{DedupOps, GraphOps}

/** Scale-up measurement for the dedup pipeline (SCALE.md claim: the
  * MinHash → LSH → verify → connected-components dag is linear in corpus
  * size, with no quadratic step). Blows the documents corpus up in-engine
  * by replication, re-tokenized per replica (`tok` → `tok_rK`) so
  * replicas are DISTINCT documents — each replica contributes its own
  * twin pairs and nothing across replicas, keeping dup density constant
  * while the corpus grows. Measures wall time for the pair pipeline and
  * for full cluster resolution at each factor.
  *
  * Usage: runMain graft.tools.DedupScaleBench [sfDir] [factors...]
  * (defaults: sf0.1, factors 1 5 10 — 10k to 100k docs incl. twins)
  */
object DedupScaleBench {

  /** Replicate (doc_id, text) `factor`×; replica k rewrites every token
    * with a `_rK` suffix (disjoint shingle space per replica) and offsets
    * ids by k·10⁴ (stays below the +10⁶ twin offset). */
  def blowUp(docs: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) docs.select(col("doc_id"), col("text"))
    else docs
      .crossJoin(docs.sparkSession.range(0, factor).select(col("id").as("_rep")))
      .select(
        (col("doc_id") + col("_rep") * 10000L).as("doc_id"),
        expr("array_join(transform(split(trim(lower(text)), '\\\\s+'), " +
          "t -> concat(t, '_r', CAST(_rep AS STRING))), ' ')").as("text"))

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Winnow-appropriate replication: replica k applies a Caesar
    * substitution (alphabet rotated by k) instead of a token suffix.
    * The `_rK` suffix blowUp is right for TOKEN-shingle pipelines but
    * pollutes CHARACTER grams with shared low-entropy suffix material —
    * measured: it drove winnow span counts DOWN as the corpus grew
    * (5746 → 3421 at 5×) because suffixed grams stop being
    * doc-specific and the hot cap eats them. A substitution cipher is a
    * bijection on the gram space: within-replica gram statistics are
    * IDENTICAL to the original corpus, replicas are gram-disjoint, so
    * span counts must scale ~factor× — an invariant the printout
    * exposes. */
  def blowUpCipher(docs: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) docs.select(col("doc_id"), col("text"))
    else (0 until factor).map { k =>
      val rot = Alpha.drop(k % 26) + Alpha.take(k % 26)
      docs.select(
        (col("doc_id") + lit(k.toLong * 10000L)).as("doc_id"),
        translate(lower(col("text")), Alpha, rot).as("text"))
    }.reduce(_ unionByName _)

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 5, 10)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    factors.foreach { f =>
      // materialize the blown-up corpus + twins so the measured dag
      // starts from an in-memory corpus at every factor
      val base = DedupOps.withTwins(blowUp(docs, f)).localCheckpoint()
      val nDocs = base.count()
      // localCheckpoint is EAGER: the pairs timer covers the whole
      // minhash pair dag, materialized once; the clusters timer then
      // covers connected components ALONE. (Pre-r8 the clusters leg
      // re-ran the entire pair dag inside its own timer — on top of the
      // first run's still-persisted shingle blocks — so it reported
      // pair-dag-under-memory-pressure, not CC.)
      val (pairsDf, tPairs) = timed(
        DedupOps.dupPairsFrom(base).select(col("a"), col("b")).localCheckpoint())
      val nPairs = pairsDf.count()
      val (nClustered, tClusters) = timed {
        GraphOps.connectedComponents(pairsDf).count()
      }
      val wbase = DedupOps.withTwins(blowUpCipher(docs, f)).localCheckpoint()
      val (nSpans, tSpans) = timed(DedupOps.winnowSpansFrom(wbase).count())
      println(f"[scale] factor=$f%-3d docs=$nDocs%7d pairs=$nPairs%7d " +
        f"pairs_time=$tPairs%6.1fs (${nDocs / tPairs}%8.0f docs/s) " +
        f"clusters_time=$tClusters%6.1fs (${nDocs / tClusters}%8.0f docs/s) " +
        f"clustered_docs=$nClustered%7d " +
        f"winnow_spans=$nSpans%7d winnow_time=$tSpans%6.1fs (${nDocs / tSpans}%8.0f docs/s)")
      // drop this factor's localCheckpoint blocks before the next cell —
      // accumulated blocks polluted earlier measurements (same hygiene
      // fix ChainScaleBench needed; see SCALE.md "commit exonerated")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
