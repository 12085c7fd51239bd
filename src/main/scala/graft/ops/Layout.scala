package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZOrder

/** Multi-dimensional data LAYOUT: writing 100 TB so that later scans can
  * skip most of it. Parquet footers carry per-file / per-row-group
  * min-max stats for every column; whether a conjunctive range filter
  * (`p BETWEEN … AND s BETWEEN …`) can use them is decided entirely by
  * how rows were clustered across files at WRITE time. A single-column
  * sort gives tight boxes on that column only — every file still spans
  * the other column's whole domain, so a filter on that other column
  * touches all of them. Interleaving the key bits of both columns
  * (Morton / Z-order — [[graft.functions.ZOrder]]) gives every file a
  * tight box in BOTH dimensions at once.
  *
  * Both columns are first normalized to a common 16-bit grid
  * (`(v - min) * 2^16 / (max - min + 1)`): raw interleave of unequal
  * bit-width domains degenerates toward a sort on the wider column (its
  * high bits own the top of every key — measured on lineitem: supplier
  * boxes at 70-86% of domain raw vs ~13% normalized, part boxes tight
  * either way). The min/max scan is one cheap agg broadcast as a 1-row
  * dimension (the whitelisted 1-row cross pattern).
  *
  * 100 TB shape: the key is a per-row codegen projection; the layout
  * write is one `repartitionByRange` on it (range exchange + local sort
  * — exactly the cost of any sorted write, paid once at write time for
  * skipping on every later scan). Widening to 3 dims (21 bits each) is
  * mechanical.
  */
object Layout {

  /** Equal-width coarse buckets over the occupied z range in the
    * registered diagnostic query. */
  val Buckets = 64L

  /** Exact integer `DIV` as Column algebra (Column's `/` is float, and a
    * float round-trip can mis-floor a near-integer quotient). */
  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** `a >> b` with a COLUMN shift amount (`functions.shiftright` only
    * accepts a literal Int). */
  private def shr(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftRight(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** `(v - lo) * 65536 DIV (hi - lo + 1)` — the 16-bit grid rank of v in
    * [lo, hi]; all operands non-negative so Spark `DIV` == DuckDB `//`.
    *
    * Domains wider than 2^47 would overflow the `* 65536` product, so
    * both the value offset and the span are first right-shifted by
    * `bitlen(span) - 47` (zero for everyday key domains — the shift
    * only drops bits far below the 16 the grid keeps, so small-domain
    * results are bit-identical to the unshifted form). The span itself
    * must fit in a signed 64-bit long. */
  private def grid(v: Column, lo: Column, hi: Column): Column =
    gridBits(v, lo, hi, 16)

  private def gridBits(v: Column, lo: Column, hi: Column, bits: Int): Column = {
    val span = hi - lo
    val sh = greatest(length(bin(span)) - lit(63 - bits), lit(0))
    intDiv(shr(v - lo, sh) * lit(1L << bits),
      shr(span, sh) + lit(1L)).cast("long")
  }

  /** Space-filling-curve key of two LONG columns after 16-bit grid
    * normalization against the given per-column domains; `key` is the
    * curve (Morton [[graft.functions.ZOrder.zorderKey]] or Hilbert
    * [[graft.functions.Hilbert.hilbertKey]]). */
  def normKeyWith(key: (Column, Column) => Column)(
      x: Column, xLo: Column, xHi: Column,
      y: Column, yLo: Column, yHi: Column): Column =
    key(grid(x, xLo, xHi), grid(y, yLo, yHi))

  /** Z-order key of two LONG columns after 16-bit grid normalization. */
  def normKey(x: Column, xLo: Column, xHi: Column,
      y: Column, yLo: Column, yHi: Column): Column =
    normKeyWith(ZOrder.zorderKey)(x, xLo, xHi, y, yLo, yHi)

  /** Writes `df` parquet at `path` clustered on the normalized
    * space-filling-curve key of the two given LONG columns (Morton by
    * default, Hilbert via `key = Hilbert.hilbertKey`): one extra pass
    * for the domain agg, one range exchange into `numFiles` key ranges,
    * a local sort inside each, and the helper columns dropped before
    * the bytes land. */
  def zorderWrite(df: DataFrame, x: Column, y: Column, path: String,
      numFiles: Int,
      key: (Column, Column) => Column = ZOrder.zorderKey): Unit = {
    val dom = df.agg(
      min(x.cast("long")).as("_xlo"), max(x.cast("long")).as("_xhi"),
      min(y.cast("long")).as("_ylo"), max(y.cast("long")).as("_yhi"))
    df.crossJoin(broadcast(dom))
      .withColumn("_zkey", normKeyWith(key)(x.cast("long"), col("_xlo"), col("_xhi"),
        y.cast("long"), col("_ylo"), col("_yhi")))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey", "_xlo", "_xhi", "_ylo", "_yhi")
      .write.mode("overwrite").parquet(path)
  }

  /** Writes `df` as a sorted-BUCKETED parquet table (hash-bucketed on
    * `key` into `buckets` files per partition, sorted inside each): the
    * co-location half of the layout story. Two fact tables bucketed on
    * their join key with the same bucket count join with ZERO exchanges
    * — the shuffle is paid once at write time and amortized over every
    * subsequent join, which at 100 TB turns the recurring fact-fact
    * join from the dominant network cost into a local merge. Bucketing
    * rides the catalog (`bucketBy` requires `saveAsTable`); the data
    * lands at `path` as an external table.
    *
    * Tradeoff note (ADVICE r15): the repartition below caps write
    * parallelism at the bucket count and concentrates a hash-skewed
    * bucket in one task — acceptable here because the fixture's bucket
    * count ≥ the useful local parallelism for its data size; a cluster
    * deployment should size `buckets` to at least the session
    * parallelism (or accept the one-off skewed write as the price of
    * every later join being exchange-free). */
  def bucketedWrite(df: DataFrame, table: String, path: String, key: String,
      buckets: Int): Unit =
    // Pre-partition by the bucket key into exactly `buckets` partitions:
    // repartition's HashPartitioning is the same pmod(hash, n) rule the
    // bucketed writer assigns files by, so each task holds exactly one
    // bucket and writes ONE file — without it every upstream task writes
    // a file per bucket it sees (tasks × buckets small files; guide §6),
    // which also bloats the later bucketed-join scan's file count.
    df.repartition(buckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path).saveAsTable(table)

  /** Per-file bounding boxes of a written table over two columns — reads
    * the data (not the footers) but aggregates to one row per file; the
    * spec uses it to count how many files a conjunctive range filter
    * would have to touch under a given layout. */
  def fileBoxes(s: SparkSession, path: String, xCol: String, yCol: String): DataFrame =
    s.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"))

  /** Registered diagnostic: the per-bucket (part, supplier) bounding
    * boxes of lineitem under 64 equal-width buckets of the normalized
    * Z key — the data-level statement of the skipping property (each
    * bucket's box covers a small fraction of BOTH domains; a sort by
    * one column would leave the other column's box spanning its whole
    * domain). Exact integer arithmetic on both engines; the oracle
    * recomputes the interleave as an unrolled 32-term bit sum. */
  def layoutZorder(s: SparkSession, dir: String): DataFrame =
    bucketDiag(s, dir, ZOrder.zorderKey)

  /** Same diagnostic under the HILBERT curve — the stronger-locality
    * alternative (no Morton diagonal jumps; measured tighter boxes on
    * both dimensions, SCALE.md). */
  def layoutHilbert(s: SparkSession, dir: String): DataFrame =
    bucketDiag(s, dir, graft.functions.Hilbert.hilbertKey)

  private def bucketDiag(s: SparkSession, dir: String,
      key: (Column, Column) => Column): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
    val dom = li.agg(
      min(col("p")).as("pmin"), max(col("p")).as("pmax"),
      min(col("sk")).as("smin"), max(col("sk")).as("smax"))
    // Materialize the keyed rows once: both the extent agg below and the
    // final bucket agg consume them, and without the truncation each
    // would re-run the scan + curve-key projection.
    val z = Lineage.truncate(li.crossJoin(broadcast(dom))
      .withColumn("z", normKeyWith(key)(col("p"), col("pmin"), col("pmax"),
        col("sk"), col("smin"), col("smax"))))
    val mm = z.agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
    z.crossJoin(broadcast(mm))
      .groupBy(intDiv((col("z") - col("zmin")) * lit(Buckets),
        col("zmax") - col("zmin") + lit(1L)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        min(col("sk")).as("s_min"), max(col("sk")).as("s_max"))
      .orderBy(col("bucket"))
  }

  /** Oracle: the same normalization and Morton key as an unrolled bit
    * sum — bit i of each 16-bit grid rank lands on positions 2i (part)
    * and 2i+1 (supplier). */
  val layoutZorderSql: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(
        s"((xn >> $i) & 1) * ${1L << (2 * i)}",
        s"((yn >> $i) & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
    s"""WITH li AS (SELECT l_partkey AS p, l_suppkey AS sk FROM lineitem),
       |dom AS (SELECT min(p) AS pmin, max(p) AS pmax,
       |               min(sk) AS smin, max(sk) AS smax FROM li),
       |n AS (SELECT p, sk,
       |        ((p - pmin) * 65536) // (pmax - pmin + 1) AS xn,
       |        ((sk - smin) * 65536) // (smax - smin + 1) AS yn
       |      FROM li CROSS JOIN dom),
       |z AS (SELECT p, sk, $terms AS z FROM n),
       |mm AS (SELECT min(z) AS zmin, max(z) AS zmax FROM z)
       |SELECT ((z - zmin) * $Buckets) // (zmax - zmin + 1) AS bucket,
       |  count(*) AS n_rows,
       |  min(p) AS p_min, max(p) AS p_max,
       |  min(sk) AS s_min, max(sk) AS s_max
       |FROM z CROSS JOIN mm GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** 3-DIMENSIONAL Morton diagnostic: lineitem clustered on the 63-bit
    * interleave of (part, supplier, order) under 21-bit grid
    * normalization — per-bucket boxes in all THREE dimensions. The
    * widening that the 2-D scaladoc calls mechanical, implemented:
    * same spread trick, 3-bit stride, same normalization with a 21-bit
    * budget (overflow guard shifts at bitlen(span) > 42). */
  def layoutZorder3(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"),
        col("l_orderkey").as("ok"))
    val dom = li.agg(
      min(col("p")).as("pmin"), max(col("p")).as("pmax"),
      min(col("sk")).as("smin"), max(col("sk")).as("smax"),
      min(col("ok")).as("omin"), max(col("ok")).as("omax"))
    val z = Lineage.truncate(li.crossJoin(broadcast(dom))
      .withColumn("z", ZOrder.zorderKey3(
        gridBits(col("p"), col("pmin"), col("pmax"), 21),
        gridBits(col("sk"), col("smin"), col("smax"), 21),
        gridBits(col("ok"), col("omin"), col("omax"), 21))))
    val mm = z.agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
    // Divide-FIRST bucketing: the 63-bit key × 64 would overflow the
    // multiply-first form the 2-D diagnostics use (their keys are 32-bit).
    z.crossJoin(broadcast(mm))
      .groupBy(intDiv(col("z") - col("zmin"),
        intDiv(col("zmax") - col("zmin"), lit(Buckets)) + lit(1L))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        min(col("sk")).as("s_min"), max(col("sk")).as("s_max"),
        min(col("ok")).as("o_min"), max(col("ok")).as("o_max"))
      .orderBy(col("bucket"))
  }

  /** Oracle: 21-bit grid normalization of the three columns, then the
    * 63-term unrolled interleave (bit i of each rank on positions 3i,
    * 3i+1, 3i+2). */
  val layoutZorder3Sql: String = {
    val terms = (0 until 21).flatMap { i =>
      Seq(
        s"((xn >> $i) & 1) * ${1L << (3 * i)}",
        s"((yn >> $i) & 1) * ${1L << (3 * i + 1)}",
        s"((wn >> $i) & 1) * ${1L << (3 * i + 2)}")
    }.mkString(" + ")
    s"""WITH li AS (SELECT l_partkey AS p, l_suppkey AS sk, l_orderkey AS ok
       |            FROM lineitem),
       |dom AS (SELECT min(p) AS pmin, max(p) AS pmax,
       |               min(sk) AS smin, max(sk) AS smax,
       |               min(ok) AS omin, max(ok) AS omax FROM li),
       |n AS (SELECT p, sk, ok,
       |        ((p - pmin) * 2097152) // (pmax - pmin + 1) AS xn,
       |        ((sk - smin) * 2097152) // (smax - smin + 1) AS yn,
       |        ((ok - omin) * 2097152) // (omax - omin + 1) AS wn
       |      FROM li CROSS JOIN dom),
       |z AS (SELECT p, sk, ok, $terms AS z FROM n),
       |mm AS (SELECT min(z) AS zmin, max(z) AS zmax FROM z)
       |SELECT (z - zmin) // ((zmax - zmin) // $Buckets + 1) AS bucket,
       |  count(*) AS n_rows,
       |  min(p) AS p_min, max(p) AS p_max,
       |  min(sk) AS s_min, max(sk) AS s_max,
       |  min(ok) AS o_min, max(ok) AS o_max
       |FROM z CROSS JOIN mm GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle: the same normalization, then the Hilbert xy2d bit-descent
    * UNROLLED as 16 chained CTEs — each step classifies the quadrant
    * (rx, ry) at scale s, adds s²·((3·rx) XOR ry) to the distance, and
    * applies the reflect-and-transpose frame rotation as CASE algebra.
    * BIGINT casts keep the s² products out of INT32. */
  val layoutHilbertSql: String = {
    val steps = (15 to 0 by -1).map { i =>
      val s = 1L << i
      val prev = if (i == 15) "hinit" else s"h${i + 1}"
      s"""h$i AS (
         |  SELECT p, sk,
         |    CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN 65535 - y ELSE y END AS x,
         |    CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN 65535 - x ELSE x END AS y,
         |    d + CAST(${s * s} AS BIGINT) * xor(3 * rx, ry) AS d
         |  FROM (SELECT p, sk, x, y, d,
         |        CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |        CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM $prev) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_partkey AS p, l_suppkey AS sk FROM lineitem),
       |dom AS (SELECT min(p) AS pmin, max(p) AS pmax,
       |               min(sk) AS smin, max(sk) AS smax FROM li),
       |n AS (SELECT p, sk,
       |        ((p - pmin) * 65536) // (pmax - pmin + 1) AS xn,
       |        ((sk - smin) * 65536) // (smax - smin + 1) AS yn
       |      FROM li CROSS JOIN dom),
       |hinit AS (SELECT p, sk, xn AS x, yn AS y, CAST(0 AS BIGINT) AS d FROM n),
       |$steps,
       |z AS (SELECT p, sk, d AS z FROM h0),
       |mm AS (SELECT min(z) AS zmin, max(z) AS zmax FROM z)
       |SELECT ((z - zmin) * $Buckets) // (zmax - zmin + 1) AS bucket,
       |  count(*) AS n_rows,
       |  min(p) AS p_min, max(p) AS p_max,
       |  min(sk) AS s_min, max(sk) AS s_max
       |FROM z CROSS JOIN mm GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // Dynamic partition pruning: the RUNTIME half of the skipping story.
  // Z-order/bucketing decide skipping at write time from static
  // min-max stats; DPP skips partitions whose membership is only
  // knowable at run time — here the qualifying months come out of an
  // AGGREGATE over orders (urgent-order share above a threshold), so
  // no static rule can push the filter to the fact scan. Spark plants
  // a dynamicpruning subquery into the partitioned scan: the dim side
  // is computed first (reusing its broadcast), and only fact
  // partitions whose ship_month survives are read at all.
  //
  // The fact table is written PARTITIONED BY ship_month (hive-style
  // directory layout, ~80 partitions on the fixture) into a scratch
  // dir each run — at 100 TB this is the date-partitioned fact every
  // warehouse already has, and the pruned scan reads the qualifying
  // ~1/3 of it. DppSpec asserts the executed plan carries a
  // dynamicpruning partition filter AND that the scan touches fewer
  // partitions than exist; the registered query's output is the
  // pruned join's aggregate, hash-matched against DuckDB running the
  // whole thing over the raw parquet.
  val DppUrgentPctThreshold = 21L

  /** The runtime dim: months whose urgent-order share exceeds the
    * threshold — aggregate-derived, so only DPP can prune with it. */
  def dppMonths(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
      // INT month key: the partitioned fact's ship_month reads back as
      // int (hive partition inference), and a cast-free join key keeps
      // the DPP rule's view of the partition column trivial
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("int").as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"))
      .filter(col("n_urgent") * 100 > col("n_orders") * DppUrgentPctThreshold)

  /** Writes the ship_month-partitioned fact copy and returns the joined,
    * pruned aggregate plus the partitioned path (for the spec). The copy
    * lands at a FIXED path under the configurable [[graft.etl.Scratch]]
    * root with overwrite, so repeated bench reps reuse one copy's disk
    * instead of leaking a fresh driver-local temp dir each run. */
  def dppJoin(s: SparkSession, dir: String): (DataFrame, String) = {
    val path = graft.etl.Scratch.path(s, "dpp/lineitem_by_month")
    // Cluster the write by the partition column (guide §6): without it
    // every scan task writes a file into EVERY month dir (tasks × ~80
    // partitions of tiny files — measured 3.2 s of layout_dpp's 4.0 s);
    // clustered, each month is written by exactly one task (see
    // IncrementalMv.writePartitioned).
    IncrementalMv.writePartitioned(s.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("ship_month", IncrementalMv.shipMonth), "ship_month", path)
    val fact = s.read.parquet(path)
    val D = "decimal(18,2)"
    val out = fact
      .join(dppMonths(s, dir).select(col("m").as("ship_month")), Seq("ship_month"))
      .groupBy(col("ship_month").cast("long").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
          .cast("double").as("revenue"))
      .orderBy(col("month"))
    (out, path)
  }

  def layoutDpp(s: SparkSession, dir: String): DataFrame = dppJoin(s, dir)._1

  val layoutDppSql: String =
    s"""WITH dim AS (
       |  SELECT m FROM (
       |    SELECT year(o_orderdate) * 100 + month(o_orderdate) AS m,
       |      count(*) AS n_orders,
       |      sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n_urgent
       |    FROM orders GROUP BY 1)
       |  WHERE n_urgent * 100 > n_orders * $DppUrgentPctThreshold)
       |SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS month,
       |  count(*) AS n_rows,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
       |FROM lineitem JOIN dim ON year(l_shipdate) * 100 + month(l_shipdate) = m
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bucket count for the registered co-located join: enough parallelism
    * to matter, small enough that sf0.01 buckets aren't empty noise. On
    * a real cluster this is sized to target-file-size × executor count. */
  val JoinBuckets = 8

  /** Registered CO-LOCATED JOIN: both fact tables are written
    * hash-bucketed + sorted on their join key ([[bucketedWrite]], the
    * pay-the-shuffle-once layout), then joined with a `merge` hint — the
    * bucketed SMJ reads matching buckets pairwise with ZERO exchanges
    * under the join (ZOrderSpec pins the plan; only the tiny rollup
    * above it shuffles). At 100 TB this is THE lever for a recurring
    * fact-fact join: the write-time shuffle is amortized over every
    * subsequent join, and the join itself moves no rows across the
    * network. The rollup result is what the DuckDB oracle replays —
    * layout must never change answers, only cost. */
  def layoutBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val liPath = graft.etl.Scratch.path(s, "bucketed_li")
    val ordPath = graft.etl.Scratch.path(s, "bucketed_ord")
    bucketedWrite(s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity")),
      "graft_bucketed_li", liPath, "l_orderkey", JoinBuckets)
    bucketedWrite(s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority")),
      "graft_bucketed_ord", ordPath, "o_orderkey", JoinBuckets)
    s.table("graft_bucketed_li")
      .join(s.table("graft_bucketed_ord").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  val layoutBucketedJoinSql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_lines,
      |  count(DISTINCT o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Zone-map pruning effectiveness — the METRIC that justifies the
  // whole layout family: a file's (min, max) box per column lets a scan
  // SKIP the file when a predicate's range misses it, and how many
  // files a 2-D predicate skips depends entirely on the clustering.
  // This query builds the per-bucket zone maps under TWO layouts over
  // the same rows — the Morton curve on (part, supplier) vs the
  // ingestion-order layout (value-range buckets on l_orderkey) — probes
  // both with a deterministic 4×4 grid of square (part, supplier) range
  // predicates, and reports the pruned fraction per layout. The Z-order
  // number should crush the linear one; that GAP is the data-skipping
  // argument made hash-checkable. All arithmetic is exact positive
  // integers (grid edges by integer DIV); bucket boxes are
  // Buckets-sized, predicates 16 rows — everything after the two
  // corpus aggregates is broadcast-bounded.
  def layoutZonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"),
        col("l_suppkey").as("sk"))
    val dom = li.agg(
      min(col("o")).as("omin"), max(col("o")).as("omax"),
      min(col("p")).as("pmin"), max(col("p")).as("pmax"),
      min(col("sk")).as("smin"), max(col("sk")).as("smax"))
    val keyed = Lineage.truncate(li.crossJoin(broadcast(dom))
      .withColumn("z", normKeyWith(ZOrder.zorderKey)(
        col("p"), col("pmin"), col("pmax"),
        col("sk"), col("smin"), col("smax"))))
    val mm = keyed.agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
    def boxes(bucket: Column, tag: String)(src: DataFrame): DataFrame = src
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        min(col("sk")).as("s_min"), max(col("sk")).as("s_max"))
      .withColumn("layout", lit(tag))
    val zBoxes = boxes(
      intDiv((col("z") - col("zmin")) * lit(Buckets),
        col("zmax") - col("zmin") + lit(1L)), "zorder")(
      keyed.crossJoin(broadcast(mm)))
    val linBoxes = boxes(
      intDiv((col("o") - col("omin")) * lit(Buckets),
        col("omax") - col("omin") + lit(1L)), "linear")(keyed)
    // 4×4 grid of quarter-span-per-axis square predicates, edges by
    // exact integer division of the (min, max) domain
    val preds = s.range(0, 16).select(col("id").as("pred_id"))
      .crossJoin(broadcast(dom))
      .withColumn("plo", col("pmin")
        + intDiv((col("pmax") - col("pmin") + lit(1L)) * (col("pred_id") % 4) * lit(2L), lit(8L)))
      .withColumn("phi", col("plo")
        + intDiv(col("pmax") - col("pmin") + lit(1L), lit(8L)))
      .withColumn("slo", col("smin")
        + intDiv((col("smax") - col("smin") + lit(1L)) * intDiv(col("pred_id"), lit(4L)) * lit(2L), lit(8L)))
      .withColumn("shi", col("slo")
        + intDiv(col("smax") - col("smin") + lit(1L), lit(8L)))
      .select(col("pred_id"), col("plo"), col("phi"), col("slo"), col("shi"))
    zBoxes.unionByName(linBoxes)
      .crossJoin(broadcast(preds)) // Buckets×2 boxes × 16 predicates
      .withColumn("pruned",
        when(col("p_max") < col("plo") || col("p_min") > col("phi")
          || col("s_max") < col("slo") || col("s_min") > col("shi"), 1L)
          .otherwise(0L))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_checks"), sum(col("pruned")).as("n_pruned"))
      .withColumn("pruned_milli",
        intDiv(lit(1000L) * col("n_pruned"), col("n_checks")))
      .orderBy(col("layout"))
  }

  /** Oracle: same curve key (the unrolled 16-bit interleave), same
    * buckets, same predicate grid, same box-miss test. */
  val layoutZonemapPruneSql: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(
        s"((xn >> $i) & 1) * ${1L << (2 * i)}",
        s"((yn >> $i) & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
    s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p, l_suppkey AS sk FROM lineitem),
       |dom AS (SELECT min(o) AS omin, max(o) AS omax,
       |               min(p) AS pmin, max(p) AS pmax,
       |               min(sk) AS smin, max(sk) AS smax FROM li),
       |n AS (SELECT o, p, sk,
       |        ((p - pmin) * 65536) // (pmax - pmin + 1) AS xn,
       |        ((sk - smin) * 65536) // (smax - smin + 1) AS yn
       |      FROM li CROSS JOIN dom),
       |z AS (SELECT o, p, sk, $terms AS z FROM n),
       |mm AS (SELECT min(z) AS zmin, max(z) AS zmax FROM z),
       |zb AS (
       |  SELECT 'zorder' AS layout,
       |    ((z - zmin) * $Buckets) // (zmax - zmin + 1) AS bucket,
       |    min(p) AS p_min, max(p) AS p_max,
       |    min(sk) AS s_min, max(sk) AS s_max
       |  FROM z CROSS JOIN mm GROUP BY 1, 2),
       |lb AS (
       |  SELECT 'linear' AS layout,
       |    ((o - omin) * $Buckets) // (omax - omin + 1) AS bucket,
       |    min(p) AS p_min, max(p) AS p_max,
       |    min(sk) AS s_min, max(sk) AS s_max
       |  FROM li CROSS JOIN dom GROUP BY 1, 2),
       |preds AS (
       |  SELECT pred_id,
       |    pmin + ((pmax - pmin + 1) * (pred_id % 4) * 2) // 8 AS plo,
       |    pmin + ((pmax - pmin + 1) * (pred_id % 4) * 2) // 8
       |         + (pmax - pmin + 1) // 8 AS phi,
       |    smin + ((smax - smin + 1) * (pred_id // 4) * 2) // 8 AS slo,
       |    smin + ((smax - smin + 1) * (pred_id // 4) * 2) // 8
       |         + (smax - smin + 1) // 8 AS shi
       |  FROM (SELECT unnest(generate_series(0, 15)) AS pred_id) CROSS JOIN dom),
       |checks AS (
       |  SELECT b.layout,
       |    CASE WHEN b.p_max < preds.plo OR b.p_min > preds.phi
       |           OR b.s_max < preds.slo OR b.s_min > preds.shi
       |         THEN 1 ELSE 0 END AS pruned
       |  FROM (SELECT * FROM zb UNION ALL SELECT * FROM lb) b
       |  CROSS JOIN preds)
       |SELECT layout, CAST(count(*) AS BIGINT) AS n_checks,
       |  CAST(sum(pruned) AS BIGINT) AS n_pruned,
       |  CAST((1000 * sum(pruned)) // count(*) AS BIGINT) AS pruned_milli
       |FROM checks GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_dpp" -> (layoutDpp _),
    "layout_bucketed_join" -> (layoutBucketedJoin _),
    "layout_zorder" -> (layoutZorder _),
    "layout_zorder3" -> (layoutZorder3 _),
    "layout_hilbert" -> (layoutHilbert _),
    "layout_zonemap_prune" -> (layoutZonemapPrune _)
  )

  val oracle: Map[String, String] = Map(
    "layout_dpp" -> layoutDppSql,
    "layout_bucketed_join" -> layoutBucketedJoinSql,
    "layout_zorder" -> layoutZorderSql,
    "layout_zorder3" -> layoutZorder3Sql,
    "layout_hilbert" -> layoutHilbertSql,
    "layout_zonemap_prune" -> layoutZonemapPruneSql
  )
}
