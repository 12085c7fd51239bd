package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Generic session-conf A/B: times the named queries under the session
  * default vs with <key>=<value>, interleaved in one JVM.
  * Usage: runMain graft.tools.ConfProbe <key> <value> <name> [...]
  */
object ConfProbe {
  def main(args: Array[String]): Unit = {
    val (key, value, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val alt = spark.newSession()
    alt.conf.set(key, value)
    def time(tag: String, s: SparkSession, name: String): Unit = {
      val fn = SparkEntry.queries(name)
      fn(s, sfDir).count() // warm
      val ts = (1 to 3).map { _ =>
        s.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(s, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[confprobe] $name%-24s $tag best=${ts.min}%6.2f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    names.foreach { name =>
      time("default", spark, name)
      time("set    ", alt, name)
      time("default", spark, name)
      time("set    ", alt, name)
    }
    spark.stop()
  }
}
