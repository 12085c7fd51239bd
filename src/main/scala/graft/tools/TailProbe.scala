package graft.tools

import graft.{GraftSession, SparkEntry}

/** Sub-second-tail probe (r16, VERDICT r15 item 6): the ~150 queries
  * under ~1 s sum to ~100 s of the sweep and every profile says their
  * cost is driver/planning floor, not executor work. One identified
  * GLOBAL suspect is whole-stage-codegen recompilation thrash:
  * `spark.sql.codegen.cache.maxEntries` (STATIC conf) defaults to 100
  * entries while a full sweep cycles ~264 queries × several codegen
  * stages each — a cyclic access pattern over an LRU cache smaller than
  * the cycle recompiles EVERY stage EVERY pass.
  *
  * Because the conf is static (fixed at SparkContext build), the A/B
  * runs as separate forked JVMs of THIS main, alternating arms to share
  * host weather. The probe reports per-query best-of-N plus the JVM's
  * own codegen-compilation counters (CodegenMetrics), which directly
  * count the recompiles the cache size causes.
  *
  * Usage: runMain graft.tools.TailProbe <maxEntries> <reps> <name> [...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object TailProbe {
  def main(args: Array[String]): Unit = {
    val maxEntries = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus)
      .config("spark.sql.codegen.cache.maxEntries", maxEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def compiles(): (Long, Long) = {
      val m = org.apache.spark.metrics.source.CodegenMetrics
      (m.METRIC_COMPILATION_TIME.getCount,
        m.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum / 1000)
    }
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // warmup pass over the probe set (the bench does this over the full
    // registry; the probe set stands in for it)
    for (n <- names) {
      spark.catalog.clearCache()
      try { SparkEntry.queries(n)(spark, sfDir).count(); () }
      catch { case _: Throwable => () }
    }
    val (c0, _) = compiles()
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    var failures = 0
    for (_ <- 1 to reps; n <- names) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // a failed query is no sample: its short wall time would read as fast
      try {
        SparkEntry.queries(n)(spark, sfDir).count()
        samples(n) = ((System.nanoTime() - t0) / 1e9) :: samples(n)
      } catch { case t: Throwable =>
        failures += 1
        println(s"[tailprobe] $n FAILED: ${t.getMessage}")
      }
    }
    val (c1, _) = compiles()
    val mins = names.filter(samples(_).nonEmpty).map(n => n -> samples(n).min)
    mins.foreach { case (n, v) => println(f"[tailprobe] $n%-28s best=$v%6.3f") }
    println(s"[tailprobe] maxEntries=$maxEntries failures=$failures " +
      s"codegen_compiles_timed_region=${c1 - c0}")
    // a partial arm has no total: it would compare fewer queries as faster
    if (failures == 0) {
      println(f"[tailprobe] maxEntries=$maxEntries total_best=${mins.map(_._2).sum}%.3f")
      println(TimeQuery.JsonTag +
        s"""{"name":"_tailprobe_total_$maxEntries","best":${f"${mins.map(_._2).sum}%.3f"}}""")
    }
    spark.stop()
  }
}
