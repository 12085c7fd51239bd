package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{GraftSession, SparkEntry}

/** Plan-statistics probe backing PlanQualitySpec's pinned shuffle
  * counts: prints, per query, the number of ShuffleExchangeExec nodes
  * and every join exec in the (pre-AQE) physical plan. Run it after a
  * deliberate plan change to refresh the spec's expected values.
  * Usage: runMain graft.tools.PlanStats [sfDir] [queryName ...]
  */
object PlanStats {

  def collect(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => collect(a.initialPlan)
      case _ => Seq.empty
    }
    (p +: p.children.flatMap(collect)) ++ inner
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val all = collect(SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan)
      val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
      val joins = all.map(_.getClass.getSimpleName).filter(_.contains("Join")).sorted
      println(f"$n%-28s shuffles=$shuffles%2d joins=${joins.mkString(",")}")
    }
    spark.stop()
  }
}
