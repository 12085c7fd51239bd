package graft

import org.apache.spark.sql.SparkSession

/** The one conf set every graft session runs with — Bench, Verify, the
  * tool mains and the spec suites alike — so a confirmation fork, a plan
  * dump or a spec plans exactly what the sweep plans. Callers that
  * really differ (a static codegen-cache size, broadcast joins off, an
  * app name, extensions) add their `.config` to the returned builder.
  *
  * The `KeepConstPartitionKeysRule` exclusion lets
  * [[graft.ops.Windows.boundedGlobal]]'s constant partition key reach
  * the physical plan; `nanosAsLong` reads fixture INT64
  * TIMESTAMP(NANOS) columns as raw longs (see `Relational.events`). */
object GraftSession {

  /** Local-mode width of the tool mains: `SPARK_GRAFT_CPUS`, default 32. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        graft.ops.Windows.KeepConstPartitionKeysRule)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
