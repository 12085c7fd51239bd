package graft.tools

import graft.{GraftSession, SparkEntry}

/** Writes `explain("formatted")` for the named queries to
  * `<outDir>/<name>_<tag>.txt` — the plan evidence the optimization
  * rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <tag> <name> [...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // queryExecution.explainString == what explain("formatted") prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"), txt)
      println(s"[explain] wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
