package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.GraphOps

/** One-decade scale evidence for the r15 optimizations (VERDICT r15
  * item 5): the round's wins were INPUT-SHAPE arguments, so this probe
  * re-measures them on ×10 blown-up inputs (≈ sf1) to show each delta
  * GROWS with scale — and that none inverts.
  *
  *  - `linkpred`: wedge-expansion repartition on/off (interleaved, one
  *    JVM, same warm projection) over vertex-disjoint membership
  *    replicas (degree distribution invariant — the GraphScaleBench
  *    construction). The fix pins the exchange feeding the exploding
  *    wedge stage to full parallelism; its advantage should widen as
  *    the expansion grows.
  *  - `mv_partials`: the r15 single-corpus-pass mv refresh algebra vs
  *    the two-pass shape it replaced (both arms inline here — the
  *    registered operator only has the one-pass form), over a fact
  *    replicated ×k with dates unchanged (rows per month ×k: corpus
  *    growth at fixed state width).
  *  - `clustered_write`: partitionBy write with vs without the
  *    cluster-by-partition-column repartition (the r15 writePartitioned
  *    fix) at ×k — the clustering must not invert at scale.
  *
  * Usage: runMain graft.tools.R16ScaleProbe [sfDir] [factors...]
  * (defaults: sf0.1, factors 1 10)
  */
object R16ScaleProbe {
  private def time[T](body: => T): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val off = spark.newSession()
    off.conf.set(GraphOps.ExpansionRepartitionConf, "false")

    // ---------------- linkpred: expansion repartition on/off ----------
    for (f <- factors) {
      val m = GraphScaleBench.blowUp(
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")), f)
      // one projection per arm-session (coTablesOf caches nothing) —
      // build OUTSIDE the timed region so both arms time the kernel
      val tOn = GraphOps.coTablesOf(m)
      val mOff = off.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val tOff = GraphOps.coTablesOf(GraphScaleBench.blowUp(mOff, f))
      def run(tag: String, t: GraphOps.CoTables): Unit = {
        val ts = (1 to 3).map(_ => time(GraphOps.linkPredictionFrom(t).count()))
        println(f"[r16scale] linkpred f=$f $tag best=${ts.min}%7.2f all=${ts.map(x => f"$x%.2f").mkString(",")}")
      }
      // interleave arms so weather hits both alike
      run("exp=off", tOff); run("exp=on ", tOn)
      run("exp=off", tOff); run("exp=on ", tOn)
    }

    // ---------------- mv partials: one pass vs two ---------------------
    def partialsOf(fact: DataFrame): DataFrame = fact
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
      .groupBy(col("ship_month"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("qty_cents"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
    val cutoffM = graft.ops.IncrementalMv.CutoffMonth
    val cutoffD = "1997-06-01"
    for (f <- factors) {
      val fact0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_shipdate"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      val fact = (1 to f).map(_ => fact0).reduce(_ unionByName _)
      def onePass(): Unit = {
        val all = partialsOf(fact).localCheckpoint()
        all.filter(col("ship_month") < lit(cutoffM)).write.format("noop").mode("overwrite").save()
        all.filter(col("ship_month") >= lit(cutoffM)).write.format("noop").mode("overwrite").save()
      }
      def twoPass(): Unit = {
        partialsOf(fact.filter(col("l_shipdate") < lit(cutoffD)))
          .write.format("noop").mode("overwrite").save()
        partialsOf(fact.filter(col("l_shipdate") >= lit(cutoffD)))
          .write.format("noop").mode("overwrite").save()
      }
      val t2a = time(twoPass()); val t1a = time(onePass())
      val t2b = time(twoPass()); val t1b = time(onePass())
      println(f"[r16scale] mv_partials f=$f one_pass best=${math.min(t1a, t1b)}%6.2f " +
        f"two_pass best=${math.min(t2a, t2b)}%6.2f")
    }

    // ---------------- clustered partitioned write ----------------------
    for (f <- factors) {
      val fact0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_shipdate"), col("l_returnflag"), col("l_quantity"))
      val fact = (1 to f).map(_ => fact0).reduce(_ unionByName _)
        .withColumn("ship_month",
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
        .localCheckpoint()
      val n = spark.sessionState.conf.numShufflePartitions
      val base = graft.etl.Scratch.path(spark, "r16scale/wtest")
      def wClustered(): Unit = fact.repartition(n, col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(s"$base/c")
      def wPlain(): Unit = fact
        .write.mode("overwrite").partitionBy("ship_month").parquet(s"$base/p")
      val tpA = time(wPlain()); val tcA = time(wClustered())
      val tpB = time(wPlain()); val tcB = time(wClustered())
      println(f"[r16scale] clustered_write f=$f clustered best=${math.min(tcA, tcB)}%6.2f " +
        f"plain best=${math.min(tpA, tpB)}%6.2f")
    }
    graft.etl.Scratch.cleanAll(spark)
    spark.stop()
  }
}
