package graft.tools

import graft.{GraftSession, SparkEntry}

/** Focused repeat-timer for individual registered queries — best-of-N
  * beats one noisy sample on a shared-CPU host (SCALE.md documents ~2.5×
  * throughput swings). Usage:
  *
  *   runMain graft.tools.TimeQuery <reps> <name> [<name> ...]
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object TimeQuery {
  /** Machine-readable line prefix — graft.Bench's outlier-confirmation
    * fork greps for this tag and parses the JSON payload. */
  val JsonTag = "[time-json] "

  /** One parseable result line per query: `[time-json] {"name":…,"best":…}`. */
  def jsonLine(name: String, best: Double): String =
    JsonTag + s"""{"name":"$name","best":${f"$best%.3f"}}"""

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache() // each rep measures the cold query
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, n)
      }
      val best = times.map(_._1).min
      val all = times.map(t => f"${t._1}%.2f").mkString(", ")
      println(f"[time] $name%-28s best=$best%6.2fs rows=${times.head._2} all=[$all]")
      println(jsonLine(name, best))
    }
    spark.stop()
  }
}
