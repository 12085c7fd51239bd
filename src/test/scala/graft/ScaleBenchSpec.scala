package graft

import org.apache.spark.sql.CachedPlans
import org.apache.spark.sql.functions._

import graft.tools.ScaleBench

/** The scale driver on the fixture: every family's cells run once at
  * factor 1 and report rows, the driver leaves no cache entry or
  * persisted block behind, and replication is exact and id-disjoint. */
class ScaleBenchSpec extends SparkSuite {

  // the graph family with a 10³-member uncapped plant: the 10⁴ of a real
  // run is 5·10⁷ pairs in one task, over a minute on its own
  private val families = ScaleBench.families.map(f =>
    if (f eq ScaleBench.graph) ScaleBench.graphWith(rawHotMembers = 1000L) else f)

  families.foreach { family =>
    test(s"${family.name}: each cell runs once at factor 1 with rows > 0, no blocks left") {
      val lines = ScaleBench.run(spark, family, sf, Seq(1), reps = 1)
      assert(lines.nonEmpty)
      assert(lines.map(_.cell).distinct.size == lines.size, lines.mkString("\n"))
      lines.foreach(l => assert(l.rows > 0, l.toString))
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(CachedPlans.count(spark) == 0)
    }
  }

  test("replicate at factor 2: exactly twice the rows, id sets disjoint across replicas") {
    val m = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"), col("l_quantity"))
    val r = ScaleBench.replicate(m, 2, Seq("o", "p"), ScaleBench.IdStride)
    assert(r.columns.toSeq == m.columns.toSeq)
    assert(r.count() == 2 * m.count())
    // each replica is a shift of the original ids, so the union of the
    // two id sets doubles exactly when they are disjoint
    Seq("o", "p").foreach(k =>
      assert(r.select(k).distinct().count() == 2 * m.select(k).distinct().count(), k))
    assert(r.select("l_quantity").distinct().count() == m.select("l_quantity").distinct().count())
  }

  // The triangles cell returns the top-100 parts (Triangles.TopK), so its
  // rows are 100 at every factor here; kcore (a row per node) and ktruss
  // (a row per truss edge) are uncapped and carry the claim.
  test("graph: vertex-disjoint replicas give exactly 2x the kcore and ktruss rows at factor 2") {
    val kernels = Set("kcore", "ktruss")
    val family = ScaleBench.Family("graph2x", Seq(1), 1)(c =>
      ScaleBench.graph.cells(c).filter(cell => kernels(cell.name)))
    val rows = ScaleBench.run(spark, family, sf, Seq(1, 2), reps = 1)
      .map(l => (l.cell, l.factor) -> l.rows).toMap
    kernels.foreach { k =>
      assert(rows((k, 1)) > 0, k)
      assert(rows((k, 2)) == 2 * rows((k, 1)), k)
    }
  }
}
