package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, built with the production confs
  * ([[GraftSession]]) at the width `Probe plan` pins plans on. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("4").appName("graft-test").getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
