package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A query family's shared, lineage-truncated tables, built ONCE per
  * (session, source dir) and served to every family member — the
  * per-session reuse of *Incremental … Top-K Similarity Search in
  * Interactive Data Analysis Sessions* (EDBT 2020). One instance per
  * family (`GraphOps` co-occurrence projection, `DedupOps` MinHash
  * tables).
  *
  * A hit must be live: built on this very session (a checkpointed frame
  * is only valid on the session that built it) and its blocks still
  * persisted (lineage is truncated, so a harness that unpersisted them
  * leaves an entry that can never recompute — it must be rebuilt, not
  * throw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The check-and-build runs
  * inside `ConcurrentHashMap.compute`, so racing first callers for one
  * key build once; a stale entry's remaining blocks are released before
  * its rebuild, and a build that throws leaves the mapping as it was.
  *
  * The entry records the RDD ids its build persisted (the bench's
  * per-query unpersist spares exactly these) and the build seconds (a
  * named BENCH.out.json line item, so the sharing stays visible). */
private[graft] final class SharedTables[T](build: (SparkSession, String) => T) {

  private case class Entry(session: SparkSession, dir: String, tables: T,
      rddIds: Set[Int], buildSec: Double)

  private val entries = new ConcurrentHashMap[(SparkSession, String), Entry]()

  def apply(s: SparkSession, dir: String): T = {
    // entries of stopped sessions would pin their frames forever
    entries.values.removeIf(_.session.sparkContext.isStopped)
    entries.compute((s, dir), (_, hit) =>
      if (hit != null && hit.rddIds.subsetOf(persisted(s))) hit
      else {
        if (hit != null) release(hit)
        val before = persisted(s)
        val t0 = System.nanoTime()
        val tables = build(s, dir)
        Entry(s, dir, tables, persisted(s) -- before, (System.nanoTime() - t0) / 1e9)
      }).tables
  }

  /** RDD ids of the live entries on this session's context: blocks
    * belong to the context, so a release from any of its sessions must
    * spare every session's tables. */
  def rddIds(s: SparkSession): Set[Int] = {
    val live = persisted(s)
    entries.values.asScala
      .filter(e => (e.session.sparkContext eq s.sparkContext) && e.rddIds.subsetOf(live))
      .flatMap(_.rddIds).toSet
  }

  /** Build seconds of this session's entries, keyed by source dir. */
  def buildSeconds(s: SparkSession): Map[String, Double] =
    of(s).map(e => e.dir -> e.buildSec).toMap

  private def of(s: SparkSession): Iterable[Entry] =
    entries.values.asScala.filter(_.session eq s)

  private def persisted(s: SparkSession): Set[Int] =
    s.sparkContext.getPersistentRDDs.keySet.toSet

  private def release(e: Entry): Unit = {
    val sc = e.session.sparkContext
    e.rddIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }
}

private[graft] object SharedTables {

  /** RDD ids of every family's shared tables on this session's context. */
  def protectedIds(s: SparkSession): Set[Int] =
    GraphOps.protectedRddIds(s) ++ DedupOps.protectedRddIds(s)

  /** Unpersists every RDD persisted on this session's context except
    * `keep` and the shared tables. */
  def release(s: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    val spare = keep ++ protectedIds(s)
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!spare(id)) rdd.unpersist(blocking = false)
    }
  }
}
