package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of an aggregate materialized view — the
  * warehouse pattern that makes a 100 TB rollup affordable: the MV holds
  * DISTRIBUTIVE partials (counts, sums) partitioned by month, and a new
  * batch of fact rows refreshes ONLY the partitions it touches, by
  * merging the delta's partials with the stored ones and rewriting just
  * those partitions (dynamic partition overwrite). The full history is
  * never re-aggregated and never re-written; refresh cost is
  * O(delta + touched partitions), independent of MV age.
  *
  * The registered query is a self-contained diagnostic of that path: it
  * builds the base MV from the pre-cutoff fact rows, refreshes it with
  * the post-cutoff delta through the incremental merge, and returns the
  * refreshed MV. The DuckDB oracle is the one-shot full recompute over
  * all of lineitem — so the hash match IS the incremental-view-
  * maintenance correctness theorem (merge(base, delta) = full), checked
  * on every run.
  *
  * All measures are distributive integers (row count, cent-exact revenue
  * from Decimal(18,2) arithmetic), so the merge is exact addition —
  * no average/median is stored, only the partials to derive them.
  * The MV lands at a fixed path under the configurable
  * [[graft.etl.Scratch]] root (cluster-FS-portable, overwritten per run,
  * no temp-dir leak).
  */
object IncrementalMv {

  /** Refresh boundary: fact rows shipping on/after this date are the
    * incoming batch; earlier rows are the already-materialized history. */
  val Cutoff = "1997-06-01"

  /** The boundary as a ship_month key. [[Cutoff]] is the FIRST of a
    * month, so the date predicate and the month predicate select exactly
    * the same rows (`d < 1997-06-01  ⟺  month_key(d) < 199706`) — which
    * is what lets the refresh queries compute their month-keyed partials
    * in ONE corpus pass and split pre/delta by month afterwards (r15
    * optimization: the pre-cutoff pass and the delta pass each re-ran
    * the full fact scan + shuffle; guide §1.2 "don't compute things
    * twice"). */
  val CutoffMonth = 199706

  /** Clustered partitioned write (guide §6): repartition by the
    * partition column so each partition dir is written by ONE task —
    * without it every upstream task writes a file into every partition
    * dir it sees (tasks × partitions small files), and on the AQE-
    * coalesced single-task aggregates the write serializes ~80
    * sequential file creations (measured 1.4-2.2 s per write in the mv
    * family's `Probe jobs` profile). The explicit numPartitions (the
    * session's shuffle parallelism, driver-sized via SPARK_GRAFT_CPUS)
    * stops AQE re-coalescing the tiny fixture back to one writer task.
    *
    * 100 TB note (ADVICE r15): clustering by the partition column ALONE
    * serializes a hot partition's whole write through one task. At that
    * scale repartition by (partCol, a deterministic salt or a secondary
    * high-cardinality column) with maxRecordsPerFile bounding file
    * sizes — parallel within a partition dir, file count still bounded.
    * The fixture's partitions are KB-sized, so the single-task-per-dir
    * shape is the right local sizing and keeps file count minimal. */
  private[graft] def writePartitioned(df: DataFrame, partCol: String,
      path: String, dynamic: Boolean = false): Unit = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val w = df.repartition(n, col(partCol)).write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(partCol).parquet(path)
  }

  private def partials(fact: DataFrame): DataFrame =
    fact
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
      .groupBy(col("ship_month"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("qty_cents"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))

  def incrementalRefresh(s: SparkSession, dir: String): DataFrame = {
    val mvPath = graft.etl.Scratch.path(s, "mv/revenue_by_month_flag")
    val fact = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_shipdate"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
    // ONE corpus pass computes every month's partials; the pre/delta
    // split is then a filter on the (tiny, checkpointed) partials table —
    // exact because the refresh boundary is month-aligned (see
    // [[CutoffMonth]]), so partials(rows < cutoff) IS the
    // month < CutoffMonth slice of partials(all rows). Before r15 the
    // pre side and the delta side each paid the full fact scan +
    // shuffle.
    val all = Lineage.truncate(partials(fact))
    // 1. the pre-existing MV: partials of the pre-cutoff history,
    //    partitioned by month (at 100 TB this already exists; building
    //    it here makes the diagnostic self-contained and idempotent)
    writePartitioned(all.filter(col("ship_month") < lit(CutoffMonth)),
      "ship_month", mvPath)
    // 2. the incoming batch's partials — a filter over the shared
    //    one-pass partials table (the corpus work happened once in
    //    `all`); months it touches are the only MV state revisited
    val delta = all.filter(col("ship_month") >= lit(CutoffMonth))
    val touched = delta.select(col("ship_month")).distinct()
    // 3. merge stored + delta partials for the touched months only and
    //    rewrite exactly those partitions (dynamic overwrite leaves
    //    untouched months' files alone)
    val stored = s.read.parquet(mvPath)
      .join(touched, Seq("ship_month"), "left_semi")
    // materialize the merge before writing: the refreshed partials READ
    // mvPath and WRITE mvPath — truncation stages the (touched-months-
    // sized) result so the overwrite never scans its own output path
    writePartitioned(Lineage.truncate(stored.unionByName(delta)
      .groupBy(col("ship_month"), col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("qty_cents")).as("qty_cents"),
        sum(col("price_cents")).as("price_cents"))),
      "ship_month", mvPath, dynamic = true)
    // 4. the refreshed MV is the query result
    s.read.parquet(mvPath)
      .select(col("ship_month").cast("long").as("ship_month"),
        col("l_returnflag"), col("n_rows"), col("qty_cents"), col("price_cents"))
      .orderBy(col("ship_month"), col("l_returnflag"))
  }

  // ------------------------------------------------------------------
  // Incremental maintenance of a JOIN view — the other half of IVM
  // (Blakeley et al. 1986's counting algebra, the dbt/Materialize
  // production shape). For V = L ⋈ O with independent per-side deltas,
  //   ΔV = ΔL⋈O_old ∪ L_old⋈ΔO ∪ ΔL⋈ΔO
  // and the old-side scans are NOT corpus scans: each is pre-restricted
  // by a semi-join on the delta's join keys (the delta is the small
  // side, so at 100 TB both semi-joins broadcast and the refresh reads
  // only key-matching old rows — the IVM analogue of DPP). The merged
  // partials land in the stored MV by dynamic partition overwrite,
  // touching only delta-affected months, exactly like the aggregate MV
  // above. The DuckDB oracle is the one-shot full join recompute, so
  // the hash match is the join-delta algebra theorem checked per run.
  private def joinPartials(orders: DataFrame, line: DataFrame): DataFrame =
    line.join(orders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
      .groupBy(col("ship_month"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))

  def joinRefresh(s: SparkSession, dir: String): DataFrame = {
    val mvPath = graft.etl.Scratch.path(s, "mv/join_revenue_by_month_priority")
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val line = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
    // independent per-side delta predicates: each side's late arrivals.
    // The DELTA sides are materialized once (delta ≪ corpus is the
    // incremental premise — at 100 TB the delivered batch IS a persisted
    // artifact): before r15 each of oNew/lNew re-ran its corpus scan in
    // every term that consumed it (lNew ×3, oNew ×3 — five extra fact
    // scans per refresh; guide §1.2).
    val oOld = orders.filter(col("o_orderdate") < lit(Cutoff))
    val oNew = Lineage.truncate(orders.filter(col("o_orderdate") >= lit(Cutoff)))
    val lOld = line.filter(col("l_shipdate") < lit(Cutoff))
    val lNew = Lineage.truncate(line.filter(col("l_shipdate") >= lit(Cutoff)))
    // 1. the pre-existing MV: old⋈old partials (exists at 100 TB)
    writePartitioned(joinPartials(oOld, lOld), "ship_month", mvPath)
    // 2. the three delta terms; old sides semi-join-restricted to the
    //    delta's keys so no term rescans unmatched history
    val oTouched = oOld.join(
      lNew.select(col("l_orderkey").as("o_orderkey")).distinct(),
      Seq("o_orderkey"), "left_semi")
    val lTouched = lOld.join(
      oNew.select(col("o_orderkey").as("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_semi")
    val delta = joinPartials(oTouched, lNew)
      .unionByName(joinPartials(oNew, lTouched))
      .unionByName(joinPartials(oNew, lNew))
      .groupBy(col("ship_month"), col("o_orderpriority"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("price_cents")).as("price_cents"))
    val touched = delta.select(col("ship_month")).distinct()
    val stored = s.read.parquet(mvPath)
      .join(touched, Seq("ship_month"), "left_semi")
    writePartitioned(Lineage.truncate(stored.unionByName(delta)
      .groupBy(col("ship_month"), col("o_orderpriority"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("price_cents")).as("price_cents"))),
      "ship_month", mvPath, dynamic = true)
    s.read.parquet(mvPath)
      .select(col("ship_month").cast("long").as("ship_month"),
        col("o_orderpriority"), col("n_rows"), col("price_cents"))
      .orderBy(col("ship_month"), col("o_orderpriority"))
  }

  /** Oracle: the one-shot full join recompute the three-term delta path
    * must equal. */
  val joinRefreshSql: String =
    s"""SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
       |  o_orderpriority,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS price_cents
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1, 2
       |ORDER BY ship_month, o_orderpriority""".stripMargin

  /** Oracle: the one-shot full recompute the incremental path must
    * equal. */
  val incrementalRefreshSql: String =
    s"""SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
       |  l_returnflag,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) AS qty_cents,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS price_cents
       |FROM lineitem
       |GROUP BY 1, 2
       |ORDER BY ship_month, l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // Incremental maintenance of a TOP-K view — the NON-distributive case.
  // A pruned top-k row set cannot be maintained from itself: a supplier
  // just below the stored threshold can climb past it with any delta,
  // and once pruned its history is unrecoverable. The correct shape
  // (what every production IVM engine does) is to maintain the FULL
  // per-key partials incrementally and treat the served top-k as a
  // cheap readout over that aggregate table — which is KEY-DOMAIN-sized
  // (one row per supplier), not corpus-sized, so the readout is free at
  // any corpus scale. Two deliberate differences from the month MVs
  // above: the state partitions by KEY BUCKET (hash(suppkey) % 16, the
  // layout for a view whose refresh touches arbitrary keys rather than
  // a time range — dynamic overwrite rewrites only delta-touched
  // buckets), and the readout is a TakeOrdered top-k, never a global
  // sort. Oracle = the one-shot full recompute's top-k, so the hash
  // match is the no-pruned-state theorem checked per run.
  val TopKSuppliers = 10
  val TopKBuckets = 16

  private def suppPartials(fact: DataFrame): DataFrame =
    fact.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
      .withColumn("bucket", pmod(col("l_suppkey"), lit(TopKBuckets)).cast("int"))

  /** Per-(supplier, side) partials in ONE corpus pass — the key is NOT
    * month-aligned with the cutoff, so the side marker joins the group
    * key; each side's slice then equals suppPartials(that side's rows)
    * exactly (same groups, same aggregates over the same rows). Before
    * r15 both sides re-ran the full fact scan + shuffle (guide §1.2). */
  private def suppPartialsBySide(fact: DataFrame, side: org.apache.spark.sql.Column): DataFrame =
    fact.withColumn("_side", side)
      .groupBy(col("l_suppkey"), col("_side"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
      .withColumn("bucket", pmod(col("l_suppkey"), lit(TopKBuckets)).cast("int"))

  def topkMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Windows
    val mvPath = graft.etl.Scratch.path(s, "mv/supplier_revenue_buckets")
    val fact = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey"), col("l_shipdate"), col("l_extendedprice"))
    val cells = Lineage.truncate(
      suppPartialsBySide(fact, col("l_shipdate") < lit(Cutoff)))
    // 1. the pre-existing per-key state (exists at 100 TB)
    writePartitioned(cells.filter(col("_side")).drop("_side"), "bucket", mvPath)
    // 2. the delta's per-key partials; its buckets are the only state
    //    revisited
    val delta = cells.filter(!col("_side")).drop("_side")
    val touched = delta.select(col("bucket")).distinct()
    val stored = s.read.parquet(mvPath)
      .join(touched, Seq("bucket"), "left_semi")
    writePartitioned(Lineage.truncate(stored.unionByName(delta)
      .groupBy(col("bucket"), col("l_suppkey"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("price_cents")).as("price_cents"))),
      "bucket", mvPath, dynamic = true)
    // 3. the served top-k: a TakeOrdered over the key-domain-sized
    //    aggregate table, ranked after the limit (k rows)
    s.read.parquet(mvPath)
      .select(col("l_suppkey"), col("n_rows"), col("price_cents"))
      .orderBy(col("price_cents").desc, col("l_suppkey"))
      .limit(TopKSuppliers)
      .withColumn("rank", row_number().over(
        Windows.boundedGlobal(col("price_cents").desc, col("l_suppkey"))))
      .select(col("rank").cast("long").as("rank"), col("l_suppkey"),
        col("n_rows"), col("price_cents"))
      .orderBy(col("rank"))
  }

  /** Oracle: the one-shot full recompute's top-k. */
  val topkMaintainSql: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY price_cents DESC, l_suppkey) AS BIGINT) AS rank,
       |  l_suppkey, n_rows, price_cents
       |FROM (
       |  SELECT l_suppkey,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS price_cents
       |  FROM lineitem GROUP BY 1)
       |ORDER BY price_cents DESC, l_suppkey
       |LIMIT $TopKSuppliers""".stripMargin

  // ------------------------------------------------------------------
  // Incremental maintenance of a COUNT(DISTINCT) view — the textbook
  // non-distributive case the counting algebra solves (Gupta/Mumick):
  // distinct counts can't merge from partials, but a per-(group, key)
  // MULTIPLICITY support table can — inserts add to m, deletes would
  // subtract, and the served distinct count is the number of keys with
  // m > 0 per group. Refresh cost is O(delta + touched partitions): the
  // support table is partitioned by month and only delta-touched months
  // are merged and rewritten (dynamic overwrite), exactly like the
  // distributive MVs above. State size is the view's key domain per
  // group — the honest price of exact distinct maintenance (the sketch
  // alternative is sketch_hll_distinct).
  //
  // The DuckDB oracle is the one-shot full COUNT(DISTINCT) recompute,
  // so the hash match is the support-table theorem checked per run.
  def distinctMaintain(s: SparkSession, dir: String): DataFrame = {
    val mvPath = graft.etl.Scratch.path(s, "mv/distinct_supp_by_month")
    val fact = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_shipdate"), col("l_suppkey"))
    def support(f: DataFrame): DataFrame = f
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
      .groupBy(col("ship_month"), col("l_suppkey"))
      .agg(count(lit(1)).as("m"))
    // ONE corpus pass; pre/delta split by month afterwards — exact
    // because the boundary is month-aligned (see [[CutoffMonth]])
    val all = Lineage.truncate(support(fact))
    // 1. pre-existing support state (history multiplicities)
    writePartitioned(all.filter(col("ship_month") < lit(CutoffMonth)),
      "ship_month", mvPath)
    // 2. delta multiplicities; only their months are revisited
    val delta = all.filter(col("ship_month") >= lit(CutoffMonth))
    val touched = delta.select(col("ship_month")).distinct()
    val stored = s.read.parquet(mvPath)
      .join(touched, Seq("ship_month"), "left_semi")
    writePartitioned(Lineage.truncate(stored.unionByName(delta)
      .groupBy(col("ship_month"), col("l_suppkey"))
      .agg(sum(col("m")).as("m"))),
      "ship_month", mvPath, dynamic = true)
    // 3. serve: liveness filter (m > 0 — trivially true for this
    //    insert-only diagnostic, load-bearing once deletes decrement)
    //    then a key-domain-sized count per group
    s.read.parquet(mvPath)
      .filter(col("m") > 0)
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_distinct_supp"), sum(col("m")).as("n_rows"))
      .select(col("ship_month").cast("long").as("ship_month"),
        col("n_distinct_supp"), col("n_rows"))
      .orderBy(col("ship_month"))
  }

  /** Oracle: the one-shot full recompute. */
  val distinctMaintainSql: String =
    """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_supp,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin

  // ------------------------------------------------------------------
  // Maintenance under DELETES — the retraction half of the counting
  // algebra, which the insert-only queries above leave unexercised
  // (their m > 0 liveness filter is trivially true). The delete delta
  // here is semantically real: RETURNED lineitems (l_returnflag = 'R')
  // are retracted from the distinct-supplier view as negative
  // multiplicities; a supplier whose every shipment in a month was
  // returned must VANISH from that month's distinct count — exactly
  // what m > 0 enforces and what no distributive merge could do.
  // Refresh cost is unchanged: O(delta + touched months), dynamic
  // partition overwrite. The DuckDB oracle recomputes one-shot over the
  // undeleted rows, so the hash match is the retraction theorem
  // (Gupta/Mumick counting algebra) checked per run.
  /** Top-k under DELETES — the textbook non-delete-maintainable view
    * made maintainable by the counting algebra: a delete of a top-k row
    * needs the (k+1)-th candidate, which the k-row view alone cannot
    * produce, so the maintained state is the FULL key-domain support
    * table (supplier → signed revenue partials, bucket-partitioned) and
    * the served top-k is a TakeOrdered over it. The DELETE delta
    * (returned rows) applies as NEGATIVE partials to exactly the
    * delta-touched buckets (delta-keyed reads, the family's discipline);
    * fully-returned suppliers sit at n_rows = 0 and the liveness filter
    * drops them before the serve. Oracle: one-shot top-k recompute over
    * the undeleted rows. */
  def topkDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Windows
    val mvPath = graft.etl.Scratch.path(s, "mv/supplier_revenue_deletes")
    val fact = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey"), col("l_returnflag"), col("l_extendedprice"))
    // ONE corpus pass keyed by (supplier, returned?): the full state is
    // the re-aggregation of both slices over the tiny cell table (exact
    // integer addition), the delete delta is the returned slice negated —
    // before r15 the full pass and the R pass each scanned the fact
    val cells = Lineage.truncate(
      suppPartialsBySide(fact, col("l_returnflag") === "R"))
    // 1. full insert-phase state (every row, returns included)
    writePartitioned(cells
      .groupBy(col("bucket"), col("l_suppkey"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("price_cents")).as("price_cents"))
      .select(col("l_suppkey"), col("n_rows"), col("price_cents"), col("bucket")),
      "bucket", mvPath)
    // 2. DELETE delta: returned rows as negative partials
    val delta = cells.filter(col("_side")).drop("_side")
      .withColumn("n_rows", -col("n_rows"))
      .withColumn("price_cents", -col("price_cents"))
    val touched = delta.select(col("bucket")).distinct()
    val stored = s.read.parquet(mvPath)
      .join(touched, Seq("bucket"), "left_semi")
    writePartitioned(Lineage.truncate(stored.unionByName(delta)
      .groupBy(col("bucket"), col("l_suppkey"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("price_cents")).as("price_cents"))),
      "bucket", mvPath, dynamic = true)
    // 3. serve: liveness filter, then TakeOrdered over the support table
    s.read.parquet(mvPath)
      .filter(col("n_rows") > 0)
      .select(col("l_suppkey"), col("n_rows"), col("price_cents"))
      .orderBy(col("price_cents").desc, col("l_suppkey"))
      .limit(TopKSuppliers)
      .withColumn("rank", row_number().over(
        Windows.boundedGlobal(col("price_cents").desc, col("l_suppkey"))))
      .select(col("rank").cast("long").as("rank"), col("l_suppkey"),
        col("n_rows"), col("price_cents"))
      .orderBy(col("rank"))
  }

  val topkDeleteSql: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY price_cents DESC, l_suppkey) AS BIGINT) AS rank,
       |  l_suppkey, n_rows, price_cents
       |FROM (
       |  SELECT l_suppkey,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS price_cents
       |  FROM lineitem WHERE l_returnflag <> 'R'
       |  GROUP BY 1)
       |ORDER BY price_cents DESC, l_suppkey
       |LIMIT $TopKSuppliers""".stripMargin

  def deleteRetraction(s: SparkSession, dir: String): DataFrame = {
    val mvPath = graft.etl.Scratch.path(s, "mv/retract_supp_by_month")
    val fact = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_shipdate"), col("l_suppkey"), col("l_returnflag"))
    // ONE corpus pass keyed by (month, supplier, returned?): the full
    // multiplicities are the re-aggregation of both slices (tiny cell
    // table, exact addition); the delete delta is the returned slice
    // negated — before r15 the full pass and the R pass each scanned
    // the fact (guide §1.2)
    val cells = Lineage.truncate(fact
      .withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
      .withColumn("_r", col("l_returnflag") === "R")
      .groupBy(col("ship_month"), col("l_suppkey"), col("_r"))
      .agg(count(lit(1)).as("m")))
    // 1. full insert-phase state (every row, returns included)
    writePartitioned(cells
      .groupBy(col("ship_month"), col("l_suppkey"))
      .agg(sum(col("m")).as("m")),
      "ship_month", mvPath)
    // 2. DELETE delta: returned rows as negative multiplicities
    val delta = cells.filter(col("_r")).drop("_r")
      .withColumn("m", -col("m"))
    val touched = delta.select(col("ship_month")).distinct()
    val stored = s.read.parquet(mvPath)
      .join(touched, Seq("ship_month"), "left_semi")
    writePartitioned(Lineage.truncate(stored.unionByName(delta)
      .groupBy(col("ship_month"), col("l_suppkey"))
      .agg(sum(col("m")).as("m"))),
      "ship_month", mvPath, dynamic = true)
    // 3. serve: the liveness filter is now LOAD-BEARING — fully-returned
    //    (month, supplier) pairs sit at m = 0 and must not count
    s.read.parquet(mvPath)
      .filter(col("m") > 0)
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_distinct_supp"), sum(col("m")).as("n_rows"))
      .select(col("ship_month").cast("long").as("ship_month"),
        col("n_distinct_supp"), col("n_rows"))
      .orderBy(col("ship_month"))
  }

  /** Oracle: one-shot recompute over the undeleted rows. */
  val deleteRetractionSql: String =
    """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_supp,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem WHERE l_returnflag <> 'R'
      |GROUP BY 1 ORDER BY ship_month""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_delete_retraction" -> (deleteRetraction _),
    "mv_topk_delete" -> (topkDelete _),
    "mv_distinct_maintain" -> (distinctMaintain _),
    "mv_incremental_refresh" -> (incrementalRefresh _),
    "mv_join_refresh" -> (joinRefresh _),
    "mv_topk_maintain" -> (topkMaintain _)
  )

  val oracle: Map[String, String] = Map(
    "mv_delete_retraction" -> deleteRetractionSql,
    "mv_topk_delete" -> topkDeleteSql,
    "mv_distinct_maintain" -> distinctMaintainSql,
    "mv_incremental_refresh" -> incrementalRefreshSql,
    "mv_join_refresh" -> joinRefreshSql,
    "mv_topk_maintain" -> topkMaintainSql
  )
}
