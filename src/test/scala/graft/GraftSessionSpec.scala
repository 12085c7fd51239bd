package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session the engine builds carries one conf set: a confirmation
  * fork, a job profile or a plan pin (`Probe time`, `jobs`, `plan`)
  * that plans differently from the sweep it stands in for measures
  * something else. */
class GraftSessionSpec extends AnyFunSuite {

  test("the builder carries exactly the production conf set") {
    // the builder's option map is not public Scala API; read it reflectively
    val options = Class.forName("org.apache.spark.sql.SparkSessionBuilder")
      .getMethod("options")
      .invoke(GraftSession.builder("4"))
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap
    assert(options == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("no main source builds a session except GraftSession") {
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => withoutComments(p).contains("SparkSession.builder()"))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty, offenders)
  }

  private def withoutComments(p: Path): String =
    Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
}
