package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result to `outDir/<name>`; a query that throws
    * leaves a sentinel 1-row parquet (`graft_verify_error: string`) so
    * the driver's compare records a red row instead of silently
    * omitting it. Returns name → error for the failures. Aborts if any
    * selected query produced no output dir at all — a missing row can
    * never masquerade as a clean run. */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : Map[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      // NonFatal only: a dying JVM (OOM, killed SparkContext) must
      // propagate as ONE fatal failure, not masquerade as N unrelated
      // per-query red rows
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        import spark.implicits._
        // sentinel write gets its own guard so one unwritable dir
        // doesn't abort the remaining dumps (the missing-dir require
        // below still catches it)
        try Seq(msg).toDF("graft_verify_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e2) =>
          System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
        }
      }
    }
    val missing = queries.keySet.filterNot(n => Files.isDirectory(Paths.get(s"$outDir/$n")))
    require(missing.isEmpty, s"queries with no verify output: $missing")
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size}/${queries.size} queries FAILED: ${errors.keys.mkString(", ")}")
    }
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name subset (local iteration
    // only — the driver always runs the full surface).
    val (sfDir, outDir, only) = args match {
      case Array(a, b) => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(',').toSet))
    }
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    locally {
      val (fs, p) = graft.etl.WarehouseFs.resolve(spark, outDir)
      graft.etl.WarehouseFs.mkdirs(fs, p)
    }
    // Raw (binary/array-typed) chain table dumps — NOT registered queries;
    // the chain_* DuckDB oracles recompute their answers from these files.
    // They live OUTSIDE outDir (ChainQueries.RawDumpDir): the driver
    // hash-checks every parquet dir under outDir and chokes on native
    // array columns.
    try graft.queries.ChainQueries.materializeRaw(spark)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] chain_raw dumps failed: ${e.getMessage}")
    }
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val errors = dumpQueries(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Chain oracles aggregate over the chain_raw_* parquet dumps written
    // above; substitute the absolute output dir into their SQL.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // all results are materialized (written above) — scratch artifacts
    // (incremental MinHash index, DPP fact copy) are safe to drop
    graft.etl.Scratch.cleanAll(spark)
    spark.stop()
  }
}
