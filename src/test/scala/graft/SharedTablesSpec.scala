package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.ops.{DedupOps, GraphOps}

/** The family-shared table registry under concurrent first use: two
  * callers racing on one fresh (session, dir) key must share ONE build,
  * and no build may leave persisted blocks that no entry owns (they
  * would stay cached until the session stops). */
class SharedTablesSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** A source dir no entry has seen: a fresh link to the fixture. */
  private def freshDir(): String = {
    val tmp = Files.createTempDirectory("graft_shared")
    s"file:${Files.createSymbolicLink(tmp.resolve("sf"), Paths.get(dir))}"
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` on two threads released together by one latch. */
  private def race[A](body: => A): (A, A) = {
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = Seq.fill(2)(pool.submit(new Callable[A] {
        def call(): A = { go.await(); body }
      }))
      go.countDown()
      (futures(0).get(5, TimeUnit.MINUTES), futures(1).get(5, TimeUnit.MINUTES))
    } finally pool.shutdownNow()
  }

  /** One build and no leak: both callers got the same tables, and the
    * only blocks the race left persisted are the entry's own. */
  private def assertOneBuild(a: AnyRef, b: AnyRef, before: Set[Int],
      keptBefore: Set[Int], keptAfter: Set[Int]): Unit = {
    assert(a eq b, "both racing callers must be served the one entry")
    val entryIds = keptAfter -- keptBefore
    assert(entryIds.nonEmpty, "the entry must record its checkpoint blocks")
    assert(persisted -- before == entryIds, "a displaced build leaked its blocks")
  }

  test("racing first callers of the dedup family build once") {
    val d = freshDir()
    val (before, kept) = (persisted, DedupOps.protectedRddIds(spark))
    val (a, b) = race(DedupOps.dupPairs(spark, d))
    assertOneBuild(a, b, before, kept, DedupOps.protectedRddIds(spark))
    assert(DedupOps.sharedBuildSeconds(spark).contains(d))
  }

  test("racing first callers of the graph family build once") {
    // the registry read every graph kernel makes; a kernel such as
    // triangles adds its own per-query checkpoint on top
    val d = freshDir()
    val (before, kept) = (persisted, GraphOps.protectedRddIds(spark))
    val (a, b) = race(GraphOps.coTables(spark, d))
    assertOneBuild(a, b, before, kept, GraphOps.protectedRddIds(spark))
    assert(GraphOps.triangles(spark, d).count() > 0)
  }

  test("a build that throws leaves no entry behind") {
    val missing = s"${Files.createTempDirectory("graft_shared")}/absent"
    val before = persisted
    intercept[Exception](DedupOps.dupPairs(spark, missing))
    intercept[Exception](GraphOps.triangles(spark, missing))
    assert(!DedupOps.sharedBuildSeconds(spark).contains(missing))
    assert(!GraphOps.sharedBuildSeconds(spark).contains(missing))
    assert((persisted -- before).isEmpty)
  }
}
