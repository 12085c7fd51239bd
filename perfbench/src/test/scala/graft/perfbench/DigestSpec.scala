package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame(rows: Seq[(Long, String, Double, Seq[Int])]) = {
    import spark.implicits._
    rows.toDF("id", "s", "x", "xs")
      .withColumn("m", map(lit("k"), col("x")))
      .withColumn("st", struct(col("id"), col("s")))
  }

  private val rows = (1 to 40).map(i => (i.toLong, s"v$i", i / 7.0, Seq(i, i + 1)))

  test("the digest ignores row order and partitioning") {
    val d = Digest.materialize(frame(rows))
    assert(Digest.materialize(frame(rows.reverse)) == d)
    assert(Digest.materialize(frame(rows).repartition(5, col("s"))) == d)
    assert(Digest.materialize(frame(rows).orderBy(col("x").desc).coalesce(1)) == d)
    assert(d.startsWith("40:"))
  }

  test("the digest sees a changed value, a lost row and a renamed column") {
    val d = Digest.materialize(frame(rows))
    assert(Digest.materialize(frame(rows.updated(3, (4L, "v4", 9.5, Seq(4, 5))))) != d)
    assert(Digest.materialize(frame(rows.drop(1))) != d)
    assert(Digest.materialize(frame(rows).withColumnRenamed("s", "t")) != d)
  }

  test("the digest is blind to a last-bit difference in a double") {
    val nudged = rows.map { case (i, s, x, xs) => (i, s, Math.nextUp(x), xs) }
    assert(Digest.materialize(frame(nudged)) == Digest.materialize(frame(rows)))
  }
}
