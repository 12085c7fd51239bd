package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized view holding ALGEBRAIC aggregate STATES — the
  * AggregatingMergeTree / `-State`/`-Merge` combinator semantics of the
  * reference's storage engine (chainhouse delegates all rollups to
  * ClickHouse, whose MV story for non-distributive aggregates is
  * `AggregateFunction(uniq, …)` columns: partial states stored per
  * part, merged at read). [[IncrementalMv]] covers the DISTRIBUTIVE
  * half (counts/sums merge by +); this operator covers the algebraic
  * half: a distinct-count sketch state (the exact-integer HLL of
  * [[SketchOps]]) stored per partition and merged register-wise at
  * query time.
  *
  * Why this is THE 100 TB MV shape: a `uniq` rollup cannot be
  * maintained from per-month exact distinct counts (distinct does not
  * add), but HLL registers merge by MAX — so the MV stores one
  * 64-register state blob per (month, group) and any regrouping —
  * across months, shards, or days — is a register-wise max plus integer
  * estimation, never a rescan of history. The state table is
  * month-partitioned under the cluster-portable [[graft.etl.Scratch]]
  * root, exactly like the distributive MVs.
  *
  * The registered query materializes the per-month states, reads them
  * back, and MERGES across months; the DuckDB oracle computes the same
  * rollup DIRECTLY from the raw fact table (one global HLL per group,
  * plus exact counts/sums). The hash match is therefore the
  * mergeability theorem — merge(states per part) == state(union) —
  * checked cell-exactly on every run, registers, estimator and all.
  */
object AggStateMv {

  import SketchOps.{HllAlphaMilli, HllM, HllWBits, KmvMod, kmvMixSql}

  private val scale = HllWBits + 1

  /** Per-(month, group) aggregate states: count state, sum state
    * (cent-exact), and the dense 64-register HLL state blob for
    * distinct customers. One corpus pass; everything after is
    * dimension-sized. */
  private[graft] def states(orders: DataFrame): DataFrame = {
    val hashed = orders
      .withColumn("o_month",
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
      .select(col("o_month"), col("o_orderpriority").as("grp"),
        col("o_totalprice"),
        graft.functions.PolyHash
          .polyHash(col("o_custkey").cast("string"), 31, KmvMod).as("ph"))
      .withColumn("hv", expr(kmvMixSql("ph")))
    // ONE corpus pass (r15): counts/sums/registers all come out of a
    // single (month, grp, j) cell aggregation — per-cell counts and cent
    // sums re-add exactly to the group totals (every row has exactly one
    // register j), so the old two-aggregation + join shape scanned the
    // fact twice and paid a join for nothing (guide §1.2, §2.4)
    val cells = hashed
      .withColumn("j", col("hv") % HllM)
      .withColumn("rho", expr(
        s"CASE WHEN hv DIV $HllM = 0 THEN $scale " +
          s"ELSE $scale - length(bin(hv DIV $HllM)) END"))
      .groupBy(col("o_month"), col("grp"), col("j"))
      .agg(count(lit(1)).as("c"),
        sum(col("o_totalprice").cast("decimal(18,2)") * 100).as("pc"),
        max(col("rho")).as("m"))
    // densify to the 64-slot state blob (never-hit register = 0, which
    // the estimator treats as 2^scale); the collect_list is bounded at
    // HllM entries per group — state-blob-sized, not data-sized
    cells
      .groupBy(col("o_month"), col("grp"))
      .agg(sum(col("c")).as("n_rows"),
        sum(col("pc")).cast("long").as("price_cents"),
        map_from_entries(collect_list(struct(col("j"), col("m")))).as("mm"))
      .select(col("o_month"), col("grp"), col("n_rows"), col("price_cents"),
        expr(
          s"transform(sequence(0, ${HllM - 1}), " +
            "j -> coalesce(element_at(mm, j), CAST(0 AS BIGINT)))").as("hll_regs"))
  }

  /** Merge stored states across parts into the per-group rollup: counts
    * and sums by +, HLL registers by MAX (via explode → max, linear in
    * state rows however many parts exist), then the shared exact-integer
    * estimator. */
  def mergeStates(stored: DataFrame): DataFrame = {
    val mergedRegs = stored
      .select(col("grp"), posexplode(col("hll_regs")).as(Seq("j", "m")))
      .groupBy(col("grp"), col("j")).agg(max(col("m")).as("m"))
    val numer = HllAlphaMilli * HllM * HllM * (1L << scale)
    val est = mergedRegs
      .groupBy(col("grp"))
      .agg(sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $scale - m)")).as("s_scaled"))
      .withColumn("n_zero", lit(HllM.toLong) - col("n_hit"))
      .withColumn("est_raw_milli", expr(s"$numer DIV s_scaled"))
      .withColumn("est_milli", expr(
        s"CASE WHEN est_raw_milli <= ${2500L * HllM} AND n_zero > 0 " +
          s"THEN $HllM * CAST(round(1000 * ln($HllM / n_zero)) AS BIGINT) " +
          "ELSE est_raw_milli END"))
      .select(col("grp"), col("n_hit"), col("n_zero"), col("s_scaled"),
        col("est_milli"))
    stored.groupBy(col("grp"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("price_cents")).as("price_cents"))
      .join(est, Seq("grp"))
  }

  def aggStateMv(s: SparkSession, dir: String): DataFrame = {
    val mvPath = graft.etl.Scratch.path(s, "mv/uniq_state_by_month_priority")
    val orders = s.read.parquet(s"$dir/orders.parquet")
    // 1. materialize the state table, month-partitioned (at 100 TB this
    //    is the MV that already exists; refresh would be per-month
    //    dynamic overwrite exactly as in IncrementalMv); clustered write
    //    — see IncrementalMv.writePartitioned
    IncrementalMv.writePartitioned(states(orders), "o_month", mvPath)
    // 2. query time: read states back and -Merge across months
    val merged = mergeStates(s.read.parquet(mvPath))
    // 3. exact distinct rides along to surface the sketch error the
    //    spec bounds (diagnostic arm; dropped in production use)
    val exact = orders.groupBy(col("o_orderpriority").as("grp"))
      .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    merged.join(exact, Seq("grp"))
      .select(col("grp"), col("n_rows"), col("price_cents"), col("n_hit"),
        col("n_zero"), col("s_scaled"), col("est_milli"), col("exact_distinct"))
      .orderBy(col("grp"))
  }

  /** Oracle: the DIRECT rollup over the raw fact table — global HLL per
    * group (same hash, registers, integer estimator as
    * [[SketchOps.hllDistinctSql]]) plus exact counts/sums. Equality with
    * the state-merging path is the -State/-Merge correctness theorem. */
  val aggStateMvSql: String = {
    val numer = HllAlphaMilli * HllM * HllM * (1L << scale)
    s"""WITH hp AS (
       |  SELECT o_orderpriority AS grp, o_custkey, o_totalprice,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(CAST(o_custkey AS VARCHAR), ''),
       |                     c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % $KmvMod) AS ph
       |  FROM orders),
       |h AS (SELECT grp, o_custkey, o_totalprice, ${kmvMixSql("ph")} AS hv FROM hp),
       |r AS (
       |  SELECT grp, hv % $HllM AS j,
       |    max(CASE WHEN hv // $HllM = 0 THEN $scale
       |             ELSE $scale - length(bin(hv // $HllM)) END) AS m
       |  FROM h GROUP BY 1, 2),
       |agg AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << (($scale - m))) AS BIGINT) AS s_hit
       |  FROM r GROUP BY 1),
       |sums AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
       |      AS price_cents,
       |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
       |  FROM h GROUP BY 1),
       |e AS (
       |  SELECT grp, n_hit, $HllM - n_hit AS n_zero,
       |    s_hit + ($HllM - n_hit) * CAST(${1L << scale} AS BIGINT) AS s_scaled
       |  FROM agg),
       |est AS (
       |  SELECT grp, n_hit, n_zero, s_scaled,
       |    $numer // s_scaled AS est_raw_milli
       |  FROM e)
       |SELECT grp, n_rows, price_cents, n_hit, n_zero, s_scaled,
       |  CAST(CASE WHEN est_raw_milli <= ${2500L * HllM} AND n_zero > 0
       |    THEN $HllM * CAST(round(1000 * ln($HllM / n_zero)) AS BIGINT)
       |    ELSE est_raw_milli END AS BIGINT) AS est_milli,
       |  exact_distinct
       |FROM est JOIN sums USING (grp)
       |ORDER BY grp""".stripMargin
  }

  // ------------------------------------------------------------------
  // Incremental refresh of the agg-state MV — the ALGEBRAIC quadrant of
  // IVM ([[IncrementalMv]] covers distributive counts/sums): a delta
  // batch's per-month states merge into the stored states by count/sum
  // addition and register-wise MAX, touching only delta-affected month
  // partitions (dynamic overwrite), never re-reading history. The
  // registered query returns the refreshed PER-MONTH state summary; the
  // DuckDB oracle recomputes every (month, group) cell directly from
  // the raw fact table, so the hash match is the state-refresh theorem
  // merge(stored, delta) == full, checked per partition per run.

  /** Merge state ROWS sharing (o_month, grp) — the -Merge combinator
    * over the MV's own schema: counts/sums by +, register blobs by
    * element-wise max (explode → max → densify; linear in state rows). */
  private[graft] def mergeStateRows(states: DataFrame): DataFrame = {
    val regs = states
      .select(col("o_month"), col("grp"), posexplode(col("hll_regs")).as(Seq("j", "m")))
      .groupBy(col("o_month"), col("grp"), col("j")).agg(max(col("m")).as("m"))
      .groupBy(col("o_month"), col("grp"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("m")))).as("mm"))
      .select(col("o_month"), col("grp"), expr(
        s"transform(sequence(0, ${HllM - 1}), " +
          "j -> coalesce(element_at(mm, j), CAST(0 AS BIGINT)))").as("hll_regs"))
    val sums = states.groupBy(col("o_month"), col("grp"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("price_cents")).as("price_cents"))
    sums.join(regs, Seq("o_month", "grp"))
  }

  /** Per-state-row estimate straight off the dense register blob (pure
    * array lambdas, no regrouping). */
  private def withEstimate(stateRows: DataFrame): DataFrame = {
    val numer = HllAlphaMilli * HllM * HllM * (1L << scale)
    stateRows
      .withColumn("n_hit", expr("CAST(size(filter(hll_regs, m -> m > 0)) AS BIGINT)"))
      .withColumn("n_zero", lit(HllM.toLong) - col("n_hit"))
      .withColumn("s_scaled", expr(
        s"aggregate(hll_regs, CAST(0 AS BIGINT), " +
          s"(acc, m) -> acc + shiftleft(CAST(1 AS BIGINT), $scale - CAST(m AS INT)))"))
      .withColumn("est_raw_milli", expr(s"$numer DIV s_scaled"))
      .withColumn("est_milli", expr(
        s"CASE WHEN est_raw_milli <= ${2500L * HllM} AND n_zero > 0 " +
          s"THEN $HllM * CAST(round(1000 * ln($HllM / n_zero)) AS BIGINT) " +
          "ELSE est_raw_milli END"))
  }

  def aggStateRefresh(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
    // ONE corpus pass (r15): the cutoff is the first of a month, so the
    // date predicate and the o_month predicate select the same rows —
    // states(pre-cutoff rows) IS the o_month < CutoffMonth slice of
    // states(all rows) (states are keyed by month; groups never straddle
    // the boundary). Before r15 the pre side and the delta side each
    // re-ran the full scan + the state aggregation chain (guide §1.2).
    val all = Lineage.truncate(states(orders))
    // base: the pre-cutoff states; delta: the batch's, a filter over the
    // same one-pass states table, merged by the -Merge combinator. The
    // refreshed per-month state summary is the query result.
    withEstimate(IncrementalMv.refresh(s, "uniq_state_refresh", "o_month",
      all.filter(col("o_month") < lit(IncrementalMv.CutoffMonth)),
      all.filter(col("o_month") >= lit(IncrementalMv.CutoffMonth)))(mergeStateRows))
      .select(col("o_month").cast("long").as("o_month"), col("grp"),
        col("n_rows"), col("price_cents"), col("n_hit"), col("n_zero"),
        col("s_scaled"), col("est_milli"))
      .orderBy(col("o_month"), col("grp"))
  }

  /** Oracle: every (month, group) cell recomputed directly from raw
    * rows — the refresh path must tile it exactly. */
  val aggStateRefreshSql: String = {
    val numer = HllAlphaMilli * HllM * HllM * (1L << scale)
    s"""WITH hp AS (
       |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS o_month,
       |    o_orderpriority AS grp, o_custkey, o_totalprice,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(CAST(o_custkey AS VARCHAR), ''),
       |                     c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % $KmvMod) AS ph
       |  FROM orders),
       |h AS (SELECT o_month, grp, o_custkey, o_totalprice, ${kmvMixSql("ph")} AS hv FROM hp),
       |r AS (
       |  SELECT o_month, grp, hv % $HllM AS j,
       |    max(CASE WHEN hv // $HllM = 0 THEN $scale
       |             ELSE $scale - length(bin(hv // $HllM)) END) AS m
       |  FROM h GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT o_month, grp, CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << (($scale - m))) AS BIGINT) AS s_hit
       |  FROM r GROUP BY 1, 2),
       |sums AS (
       |  SELECT o_month, grp, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
       |      AS price_cents
       |  FROM h GROUP BY 1, 2),
       |e AS (
       |  SELECT o_month, grp, n_hit, $HllM - n_hit AS n_zero,
       |    s_hit + ($HllM - n_hit) * CAST(${1L << scale} AS BIGINT) AS s_scaled
       |  FROM agg),
       |est AS (
       |  SELECT o_month, grp, n_hit, n_zero, s_scaled,
       |    $numer // s_scaled AS est_raw_milli
       |  FROM e)
       |SELECT est.o_month, est.grp, n_rows, price_cents, n_hit, n_zero, s_scaled,
       |  CAST(CASE WHEN est_raw_milli <= ${2500L * HllM} AND n_zero > 0
       |    THEN $HllM * CAST(round(1000 * ln($HllM / n_zero)) AS BIGINT)
       |    ELSE est_raw_milli END AS BIGINT) AS est_milli
       |FROM est JOIN sums ON est.o_month = sums.o_month AND est.grp = sums.grp
       |ORDER BY est.o_month, est.grp""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_agg_state" -> (aggStateMv _),
    "mv_agg_state_refresh" -> (aggStateRefresh _)
  )

  val oracle: Map[String, String] = Map(
    "mv_agg_state" -> aggStateMvSql,
    "mv_agg_state_refresh" -> aggStateRefreshSql
  )
}
