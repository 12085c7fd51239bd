package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a result: row count, the sum of a per-row
  * hash over every column, and a hash of the schema. Independent of row
  * order and partitioning; doubles are compared at ten significant
  * digits so that a last-bit difference from a changed summation order
  * is not a mismatch. */
object Digest {

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** Aggregates an [[Observation]] collects while the result is written. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val row = xxhash64(df.schema.fields.toIndexedSeq.map(f => canon(col(f.name), f.dataType)): _*)
    df.observe(obs, count(lit(1)).as("n"), sum(row.cast(DecimalType(38, 0))).as("h"))
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Fully materializes `df` through the noop sink — every column of every
    * row is computed — and returns its digest, collected on the way. */
  def materialize(df: DataFrame): String = {
    val obs = Observation(s"perfbench_${seq.incrementAndGet()}")
    observed(df, obs).write.format("noop").mode("overwrite").save()
    val m = obs.get
    val h = Option(m("h")).map(_.toString).getOrElse("0")
    s"${m("n")}:$h:${java.lang.Integer.toHexString(df.schema.catalogString.hashCode)}"
  }
}
