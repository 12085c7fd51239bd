package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** The analytic query surface (SURVEY §2E): everything the reference
  * delegates to ClickHouse, supplied natively by Catalyst built-ins.
  * Each query has a DuckDB oracle in [[oracle]]; result columns are
  * engineered for exact cross-engine hash-equality:
  *   - money sums run in Decimal(18,2) (exact, order-independent) and are
  *     cast to double at the end — identical bits in both engines;
  *   - counts/ids are BIGINT in both;
  *   - every query ends in an ORDER BY over a unique key set;
  *   - nullable sort keys get explicit NULLS FIRST on both sides.
  */
object Relational {

  private val D = DecimalType(18, 2)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal sum of a 2-dp double column, surfaced as double. */
  private def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Epoch-millisecond column for the events table, adaptive to how the
    * fixture encodes `ts` (it has shipped as both INT64 TIMESTAMP(NANOS)
    * and timestamp[us] across regenerations):
    *   - LongType — raw nanos surfaced by spark.sql.legacy.parquet
    *     .nanosAsLong (Spark 4's reader rejects TIMESTAMP(NANOS) outright);
    *     exact integer division to ms.
    *   - Timestamp / TimestampNTZ — unix_millis; NTZ wall-clock is cast
    *     through the UTC session zone first.
    * Both paths equal DuckDB's epoch_ms(ts) bit-for-bit, so the two
    * engines order and subtract on identical integers. */
  private[graft] def eventsMs(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case LongType                         => expr("ts DIV 1000000")
      case TimestampType | TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }

  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.withColumn("_ms", eventsMs(df))
  }

  // ------------------------------------------------------------------
  // q01: TPC-H Q1-shaped pricing summary — scan+filter+agg+sort spine.
  def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
          .cast("double").as("sum_disc_price"),
        sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D))
          * (lit(1).cast(D) + col("l_tax").cast(D))).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast(D)).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------------
  // q02: filter + projection — predicate/column pushdown to parquet.
  def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q02Sql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------
  // q03: star join with broadcast dims — orders ⋈ customer ⋈ nation ⋈ region.
  def q03(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = broadcast(t(s, dir, "customer"))
    val n = broadcast(t(s, dir, "nation"))
    val r = broadcast(t(s, dir, "region"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q03Sql =
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ------------------------------------------------------------------
  // q04: big-big shuffle join lineitem ⋈ orders + distinct agg.
  def q04(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val q04Sql =
    """SELECT o_orderpriority, COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------------
  // q05: semi join (EXISTS) — customers with any order above 400k.
  def q05(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val q05Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // q06: anti join (NOT EXISTS) — customers with no order above 450k.
  def q06(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val q06Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // q07: top-K per group via ranking window.
  def q07(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    t(s, dir, "lineitem")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 3)
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
  }

  private val q07Sql =
    """SELECT l_returnflag, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
      |FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn FROM lineitem)
      |WHERE rn <= 3
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------
  // q08: daily totals + running cumulative sum per priority (frame window).
  def q08(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderdate").cast("date").as("d"))
      .agg(sum(col("o_totalprice").cast(D)).as("_daily_dec"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("running", sum(col("_daily_dec")).over(w).cast("double"))
      .select(col("o_orderpriority"), col("d"),
        col("_daily_dec").cast("double").as("daily"), col("running"))
      .orderBy(col("o_orderpriority"), col("d"))
  }

  private val q08Sql =
    """SELECT o_orderpriority, d, CAST(daily_dec AS DOUBLE) AS daily,
      |  CAST(SUM(daily_dec) OVER (PARTITION BY o_orderpriority ORDER BY d
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      |FROM (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
      |        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS daily_dec
      |      FROM orders GROUP BY 1, 2)
      |ORDER BY o_orderpriority, d""".stripMargin

  // ------------------------------------------------------------------
  // q09: lag/lead — per-user inter-event gaps in milliseconds.
  def q09(s: SparkSession, dir: String): DataFrame = {
    // Window ordered by epoch millis, not raw ts: the parquet carries ns
    // timestamps that Spark truncates to micros — ordering by a shared
    // integer key keeps both engines' row order identical.
    val w = Window.partitionBy(col("user_id")).orderBy(col("_ms"), col("event_id"))
    events(s, dir)
      .select(
        col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        lead(col("event_id"), 1).over(w).as("next_event_id"),
        (col("_ms") - lag(col("_ms"), 1).over(w)).as("gap_ms"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val q09Sql =
    """SELECT user_id, event_id,
      |  lag(event_id) OVER w AS prev_event_id,
      |  lead(event_id) OVER w AS next_event_id,
      |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------------------------
  // q10: rollup — subtotals and grand total over (status, priority).
  def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private val q10Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // q11: cube with grouping_id over (returnflag, linestatus).
  def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q11Sql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // q12: distinct + count distinct per group.
  def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  private val q12Sql =
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT o_orderpriority) AS n_priorities, COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------------------------
  // q13: global top-K (TakeOrderedAndProject).
  def q13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(10)

  private val q13Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // q14: set operations — EXCEPT and INTERSECT arms unioned.
  def q14(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
    val spenders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    building.except(spenders).withColumn("src", lit("building_not_spender"))
      .union(machinery.intersect(spenders).withColumn("src", lit("machinery_spender")))
      .orderBy(col("src"), col("c_custkey"))
  }

  private val q14Sql =
    """SELECT * FROM (
      |  SELECT c_custkey, 'building_not_spender' AS src FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      |  UNION ALL
      |  SELECT c_custkey, 'machinery_spender' AS src FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      |    INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 300000))
      |ORDER BY src, c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // q15: string function surface.
  def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_name").like("%a%"))
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 10).as("name10"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("consonants"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"))
      .orderBy(col("p_partkey"))

  private val q15Sql =
    """SELECT p_partkey, upper(p_brand) AS brand_u, substring(p_name, 1, 10) AS name10,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  p_brand || '#' || p_type AS brand_type,
      |  regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants,
      |  split_part(p_type, ' ', 1) AS type_head,
      |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad
      |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------
  // q16: date/time function surface.
  def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        last_day(col("o_orderdate")).as("month_end"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2002"))
      .orderBy(col("o_orderkey"))

  private val q16Sql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  CAST(day(o_orderdate) AS BIGINT) AS dom,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // q17: JSON extraction over events.props.
  def q17(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k_val", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"), (col("k_val") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"), col("k_mod"))

  private val q17Sql =
    """SELECT event_type, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 AS k_mod,
      |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY event_type, k_mod""".stripMargin

  // ------------------------------------------------------------------
  // q18: array function surface over embeddings (all-exact, no fp sums).
  def q18(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_elem"),
        array_max(col("embedding")).cast("double").as("max_elem"),
        array_min(col("embedding")).cast("double").as("min_elem"),
        size(filter(col("embedding"), x => x > 0)).cast("long").as("n_positive"))
      .orderBy(col("vec_id"))

  private val q18Sql =
    """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      |  CAST(embedding[1] AS DOUBLE) AS first_elem,
      |  CAST(list_max(embedding) AS DOUBLE) AS max_elem,
      |  CAST(list_min(embedding) AS DOUBLE) AS min_elem,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------
  // q19: conditional aggregation (CASE WHEN pivot by hand).
  def q19(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
        count(lit(1)).as("total"))
      .orderBy(col("user_id"))

  private val q19Sql =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      |  COUNT(*) AS total
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // q20: pivot (event_type -> columns).
  def q20(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy(col("user_id"))

  private val q20Sql =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view",
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // q21: range join — purchases within 5 minutes after a click, same user.
  def q21(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("_ms").as("click_ms"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("_ms").as("p_ms"))
    clicks.join(purchases,
        clicks("user_id") === purchases("p_user") &&
          purchases("p_ms") >= clicks("click_ms") &&
          purchases("p_ms") <= clicks("click_ms") + 300000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_ms") - col("click_ms")).as("gap_ms"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  private val q21Sql =
    """SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND epoch_ms(p.ts) >= epoch_ms(c.ts) AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 300000
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  // ------------------------------------------------------------------
  // q22: as-of join — for each purchase, the most recent prior click of
  // the same user. Union + running-window form: one shuffle on user_id,
  // no click×purchase pair explosion (the naive join+argmax is O(C×P)
  // per user; this is O(C+P) and state-free). `_kind` orders same-ms
  // clicks before purchases so the window matches `c.ms <= p.ms`.
  def q22(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("_ms"),
        when(col("event_type") === "click", 0).otherwise(1).as("_kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("_ms"), col("_kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("_best",
        max(when(col("_kind") === 0, col("_ms") * 1000000L + col("event_id"))).over(w))
      .filter(col("_kind") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("_best") % 1000000L).as("last_click_id"),
        expr("_best DIV 1000000").as("last_click_ms"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  private val q22Sql =
    """SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  MAX(epoch_ms(c.ts) * 1000000 + c.event_id) % 1000000 AS last_click_id,
      |  MAX(epoch_ms(c.ts) * 1000000 + c.event_id) // 1000000 AS last_click_ms
      |FROM events p LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click' AND epoch_ms(c.ts) <= epoch_ms(p.ts)
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.user_id, p.event_id
      |ORDER BY user_id, purchase_id""".stripMargin

  // ------------------------------------------------------------------
  // q23: deterministic dedup (D5 machinery with an oracle): one event row
  // per (user_id, event_type), keeping the lowest event_id.
  def q23(s: SparkSession, dir: String): DataFrame =
    graft.etl.Dedup.deterministic(
        events(s, dir), Seq("user_id", "event_type"), Seq(col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy(col("user_id"), col("event_type"))

  private val q23Sql =
    """SELECT user_id, event_type, event_id FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
      |ORDER BY user_id, event_type""".stripMargin

  // ------------------------------------------------------------------
  // q24: correlated-style aggregate — customers above their nation's mean
  // balance (multiplied through to stay in exact arithmetic).
  def q24(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val stats = c.groupBy(col("c_nationkey").as("nk"))
      .agg(sum(col("c_acctbal").cast(D)).as("_sum"), count(lit(1)).as("_cnt"))
    val n = broadcast(t(s, dir, "nation"))
    c.join(broadcast(stats), c("c_nationkey") === stats("nk"))
      .filter(col("c_acctbal").cast(D) * col("_cnt") > col("_sum"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_above_avg"))
      .orderBy(col("n_name"))
  }

  private val q24Sql =
    """SELECT n_name, COUNT(*) AS n_above_avg
      |FROM customer
      |JOIN (SELECT c_nationkey AS nk, SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS cnt
      |      FROM customer GROUP BY c_nationkey) AS st ON c_nationkey = nk
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > s
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------------
  // q25: sessionization — 30-minute inactivity gap splits sessions.
  def q25(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("_ms"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("_new", when(
        col("_ms") - lag(col("_ms"), 1).over(wOrd) > 1800000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("_new")).over(wRun).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("_ms")).as("start_ms"),
        max(col("_ms")).as("end_ms"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q25Sql =
    """SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ms) AS start_ms, MAX(ms) AS end_ms
      |FROM (
      |  SELECT user_id, ms, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |      CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |           > 1800000 THEN 1 ELSE 0 END AS is_new
      |    FROM events))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ------------------------------------------------------------------
  // q26: exact percentiles (interpolated) per event_type.
  def q26(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        // one percentile buffer for both quantiles — percentile(array)
        // sorts each group's value multiset once; two scalar calls
        // would build and merge two identical buffers
        percentile(col("value"), array(lit(0.5), lit(0.9))).as("_p"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"))
      .select(col("event_type"),
        round(element_at(col("_p"), 1), 4).as("p50"),
        round(element_at(col("_p"), 2), 4).as("p90"),
        col("v_min"), col("v_max"))
      .orderBy(col("event_type"))

  private val q26Sql =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.9), 4) AS p90,
      |  MIN(value) AS v_min, MAX(value) AS v_max
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q27: histogram — fixed-width buckets over event value.
  def q27(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(floor(col("value") / 25).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("bucket_sum"))
      .orderBy(col("bucket"))

  private val q27Sql =
    """SELECT CAST(floor(value / 25) AS BIGINT) AS bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bucket_sum
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------------
  // q28: deterministic arg-max per group via packed ordering.
  def q28(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .withColumn("_pack",
        (round(col("value") * 100, 0).cast("long") * 10000000000L + col("event_id")))
      .groupBy(col("event_type"))
      .agg(max(col("_pack")).as("_best"), count(lit(1)).as("n"))
      .select(col("event_type"),
        (expr("_best DIV 10000000000").cast("double") / 100).as("max_value"),
        (col("_best") % 10000000000L).as("argmax_event_id"), col("n"))
      .orderBy(col("event_type"))
  }

  private val q28Sql =
    """SELECT event_type,
      |  CAST(best // 10000000000 AS DOUBLE) / 100 AS max_value,
      |  best % 10000000000 AS argmax_event_id, n
      |FROM (SELECT event_type,
      |        MAX(CAST(round(value * 100, 0) AS BIGINT) * 10000000000 + event_id) AS best,
      |        COUNT(*) AS n
      |      FROM events GROUP BY event_type)
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q29: the SQL text entry path (§3.4) — parsed by Spark's own parser,
  // with a scalar subquery, over temp views.
  /** LATERAL correlated subquery — the per-row top-N shape (each order's
    * two priciest lineitems) through Spark's lateral-join support:
    * Catalyst decorrelates the ORDER BY + LIMIT subquery into a
    * partitioned window rank, so the declarative per-row query plans as
    * the same distributed top-k-per-group every engine wants. DuckDB
    * runs the identical LATERAL text. */
  def q49(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders49_v")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem49_v")
    s.sql(q49Text("orders49_v", "lineitem49_v"))
  }

  private def q49Text(orders: String, lineitem: String): String =
    s"""SELECT o_orderkey, l.l_linenumber,
       |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
       |FROM $orders o,
       |  LATERAL (
       |    SELECT l_linenumber, l_extendedprice
       |    FROM $lineitem
       |    WHERE l_orderkey = o.o_orderkey
       |    ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC, l_linenumber
       |    LIMIT 2) l
       |WHERE o_orderkey % 50 = 0
       |ORDER BY o_orderkey, l_linenumber""".stripMargin

  private val q49Sql = q49Text("orders", "lineitem")

  // ------------------------------------------------------------------
  // q50: WITH RECURSIVE — Spark 4.x's recursive-CTE support (the
  // UnionLoop logical operator) driven end-to-end and hash-matched
  // against DuckDB running the IDENTICAL text. The recursion walks each
  // customer's order chain in (o_orderdate, o_orderkey) order,
  // accumulating an exact running total in cents: seed = every
  // customer's first order, step = join the frontier to the rank-(step
  // +1) order. Linear chains by construction (each row has exactly one
  // successor), so the iteration count is the max orders-per-customer
  // (~tens) and the working frontier is customer-cardinality — the
  // shape where distributed recursion is honest: each UnionLoop
  // iteration is one co-partitioned hash join on o_custkey, no path
  // explosion possible. Totals in exact BIGINT cents (Decimal(18,2) ×
  // 100), so the cross-engine hash has no float drift.
  def q50(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders50_v")
    // The rank table is MATERIALIZED once (lineage-truncated) before the
    // recursion: a plain CTE is inlined into the loop body, so every
    // UnionLoop iteration would otherwise re-run the scan + window
    // (measured 12.4 s for 24 iterations; materialized: the loop joins a
    // small frontier against the checkpointed ranks). The oracle keeps
    // the equivalent one-statement form — DuckDB materializes
    // multi-referenced CTEs itself.
    graft.ops.Lineage.truncate(s.sql(
      s"""SELECT o_custkey, o_orderkey,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |  CAST(row_number() OVER (
         |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
         |FROM orders50_v""".stripMargin))
      .createOrReplaceTempView("ord50_v")
    s.sql(
      s"""WITH RECURSIVE r AS (
         |  SELECT o_custkey, o_orderkey, CAST(1 AS BIGINT) AS step, cents AS run_cents
         |  FROM ord50_v WHERE rn = 1
         |  UNION ALL
         |  SELECT o.o_custkey, o.o_orderkey, r.step + 1, r.run_cents + o.cents
         |  FROM r JOIN ord50_v o
         |    ON o.o_custkey = r.o_custkey AND o.rn = r.step + 1)
         |SELECT o_custkey, o_orderkey, step, run_cents
         |FROM r ORDER BY o_custkey, step""".stripMargin)
    // r15 optimization probes, measured and REJECTED (sf0.1; numbers in
    // OPTIMIZATION_r15.md §5):
    // - /*+ BROADCAST(r) */ on the frontier: 3.0-3.1 s vs 4.5 s unhinted —
    //   but the frontier is CUSTOMER-cardinality at step 1 (corpus-growing),
    //   exactly the forced-broadcast class the r14 verdict marked weak;
    //   AQE already broadcasts it when genuinely small. Left unhinted.
    // - pre-hash-partitioning ord50_v by o_custkey (so iterations reuse the
    //   big side's layout): 7.1-32 s — the per-iteration 32-partition scans
    //   dominate. Rejected.
    // - AQE off for the recursion: 9.1 s vs 3.7-5.0 s on. AQE stays on.
  }

  private def q50Text(orders: String): String =
    s"""WITH RECURSIVE ord AS (
       |  SELECT o_custkey, o_orderkey,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    CAST(row_number() OVER (
       |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
       |  FROM $orders),
       |r AS (
       |  SELECT o_custkey, o_orderkey, CAST(1 AS BIGINT) AS step, cents AS run_cents
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.o_custkey, o.o_orderkey, r.step + 1, r.run_cents + o.cents
       |  FROM r JOIN ord o
       |    ON o.o_custkey = r.o_custkey AND o.rn = r.step + 1)
       |SELECT o_custkey, o_orderkey, step, run_cents
       |FROM r ORDER BY o_custkey, step""".stripMargin

  private val q50Sql = q50Text("orders")

  // Probed and rejected (r15): a cycle-safe reachability twin via
  // `WITH RECURSIVE ... UNION` — Spark 4.1 raises
  // UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE (UNION ALL only), and on a
  // cyclic co-occurrence graph UNION ALL recursion enumerates paths,
  // not nodes (unbounded). Graph fixpoints stay with the iterative
  // DataFrame kernels (GraphOps CC/BFS), which ARE the semi-naive
  // evaluation with frontier dedup per round — recursive SQL here is
  // graded exactly where its semantics are complete: linear chains.

  def q29(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_v
        |WHERE o_totalprice > (SELECT max(c_acctbal) FROM customer_v) * 40
        |ORDER BY o_orderkey""".stripMargin)
  }

  private val q29Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > (SELECT max(c_acctbal) FROM customer) * 40
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // q30: q07's semantics through the CUSTOM TopKPerGroup operator
  // (LogicalPlan + Strategy + heap-based two-phase exec) — same oracle.
  def q30(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopKPerGroupOps.Sort
    graft.plans.TopKPerGroupOps.topKPerGroup(
        t(s, dir, "lineitem"),
        groupCols = Seq("l_returnflag"),
        orderBy = Seq(Sort("l_extendedprice", desc = true),
          Sort("l_orderkey"), Sort("l_linenumber")),
        k = 3)
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
  }

  // ------------------------------------------------------------------
  // q31: approx distinct (HLL++) next to the exact count — approximate by
  // design, so no cross-engine oracle; the spec pins the error bound.
  def q31(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("_approx"))
      .select(col("l_returnflag"), col("exact_orders"),
        // HLL values are implementation-defined, so the GRADED columns are
        // the exact count plus the error-bound invariant as a flag (HLL++
        // is deterministic per dataset, so the flag is stable); the oracle
        // recomputes the exact side and expects the bound to hold.
        when(abs(col("_approx") - col("exact_orders")).cast("double")
          / col("exact_orders") <= 0.05, 1L).otherwise(0L).as("within_5pct"))
      .orderBy(col("l_returnflag"))

  private val q31Sql =
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
      |  CAST(1 AS BIGINT) AS within_5pct
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q32: explicit GROUPING SETS (neither pure rollup nor cube).
  def q32(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  private val q32Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // q33: multiset set-ops (INTERSECT ALL / EXCEPT ALL keep duplicates).
  def q33(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_quantity") >= 25).select(col("l_orderkey"))
    val b = li.filter(col("l_discount") >= 0.05).select(col("l_orderkey"))
    a.intersectAll(b).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_inter"))
      .join(a.exceptAll(b).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_except")),
        Seq("l_orderkey"), "full")
      .na.fill(0L, Seq("n_inter", "n_except"))
      .orderBy(col("l_orderkey"))
  }

  private val q33Sql =
    """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25),
      |     b AS (SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.05),
      |     i AS (SELECT l_orderkey, COUNT(*) AS n_inter
      |           FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
      |     e AS (SELECT l_orderkey, COUNT(*) AS n_except
      |           FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
      |SELECT COALESCE(i.l_orderkey, e.l_orderkey) AS l_orderkey,
      |  COALESCE(n_inter, 0) AS n_inter, COALESCE(n_except, 0) AS n_except
      |FROM i FULL JOIN e ON i.l_orderkey = e.l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // q34: analytic window functions — first/nth value, ntile, percent_rank.
  def q34(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0) // keep output modest
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        first_value(col("o_orderkey")).over(w).as("top_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  private val q34Sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  first_value(o_orderkey) OVER w AS top_order,
      |  nth_value(o_orderkey, 2) OVER w AS second_order,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank
      |FROM orders WHERE o_orderkey % 10 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // q35: time-RANGE window frame — trailing 10-minute per-user activity
  // (count + exact decimal sum), the event-time cousin of q08's
  // rows-frame running sum. Range frames include all peer rows with the
  // same ordering value, identically in both engines.
  def q35(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("_ms"))
      .rangeBetween(-600000L, 0L)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("_ms").as("ms"),
        count(lit(1)).over(w).as("n_10m"),
        sum(col("value").cast(D)).over(w).cast("double").as("sum_10m"))
      .orderBy(col("user_id"), col("ms"), col("event_id"))
  }

  private val q35Sql =
    """SELECT event_id, user_id, epoch_ms(ts) AS ms,
      |  COUNT(*) OVER w AS n_10m,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |             RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ms, event_id""".stripMargin

  // ------------------------------------------------------------------
  // q36: correlated EXISTS / NOT EXISTS through the SQL text path —
  // customers with at least one large order and no small ones (planned
  // as a semi join + anti join, no subquery re-execution per row).
  def q36(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c_custkey, c_name
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders_v o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 40000)
        |ORDER BY c_custkey""".stripMargin)
  }

  private val q36Sql =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 40000)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // q37: time-series gap fill / resample — hourly buckets per event_type
  // over the full span, missing hours materialized from a generated
  // sequence and forward-filled (last-observation-carried-forward) with
  // an IGNORE NULLS window. The grid is (types × hours): both sides are
  // tiny derivates (distinct types, one min/max row), so the only
  // corpus-sized work is the first aggregation — the right shape when
  // the raw series is 100 TB but the resampled grid is bounded by
  // cardinality × time range.
  def q37(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_type"), expr("_ms DIV 3600000").as("hour"), col("value"))
    // One corpus pass: the hourly aggregate is the only scan of events;
    // the time bounds and the type list derive from the (small) aggregate
    // itself — localCheckpoint materializes it once instead of Spark
    // re-running the scan+aggregate for each of its three consumers.
    val agg = ev.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("_sum"))
      .localCheckpoint()
    val bounds = agg.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = agg.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("_sum"), ignoreNulls = true).over(w).as("filled_sum"),
        col("n").isNull.as("is_gap"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val q37Sql =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour, value FROM events),
      |agg AS (SELECT event_type, hour, COUNT(*) AS n,
      |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
      |        FROM ev GROUP BY 1, 2),
      |bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM ev),
      |grid AS (SELECT event_type, g.h AS hour
      |         FROM (SELECT DISTINCT event_type FROM ev), bounds,
      |              UNNEST(generate_series(h0, h1)) AS g(h))
      |SELECT g.event_type, g.hour,
      |  COALESCE(a.n, 0) AS n_events,
      |  last_value(a.s IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
      |  a.n IS NULL AS is_gap
      |FROM grid g LEFT JOIN agg a USING (event_type, hour)
      |ORDER BY event_type, hour""".stripMargin

  // ------------------------------------------------------------------
  // q38: UNPIVOT (wide → long melt) — per-priority order metrics turned
  // into (priority, metric, value) rows via Dataset.unpivot; the value
  // columns share exact-decimal-derived doubles so the melt is lossless.
  def q38(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        dsum(col("o_totalprice")).as("sum_total"),
        min(col("o_totalprice")).as("min_total"),
        max(col("o_totalprice")).as("max_total"))
    agg.unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("sum_total"), col("min_total"), col("max_total")),
        "metric", "value")
      .orderBy(col("o_orderpriority"), col("metric"))
  }

  private val q38Sql =
    """WITH agg AS (
      |  SELECT o_orderpriority,
      |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
      |    MIN(o_totalprice) AS min_total,
      |    MAX(o_totalprice) AS max_total
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM agg
      |UNION ALL SELECT o_orderpriority, 'sum_total', sum_total FROM agg
      |UNION ALL SELECT o_orderpriority, 'min_total', min_total FROM agg
      |UNION ALL SELECT o_orderpriority, 'max_total', max_total FROM agg
      |ORDER BY o_orderpriority, metric""".stripMargin

  // ------------------------------------------------------------------
  // q39: approximate quantiles (GK sketch) next to the exact answer —
  // like q31, the approximate value itself is implementation-defined, so
  // the oracle checks the exact percentiles plus a within-tolerance flag
  // for the sketch (rank error 1/accuracy = 0.1% ⇒ 2% value tolerance is
  // comfortably loose and stable).
  def q39(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50_exact"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90_exact"),
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)).as("_a50"),
        approx_percentile(col("l_extendedprice"), lit(0.9), lit(1000)).as("_a90"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("p50_exact"), col("p90_exact"), col("n"),
        (abs(col("_a50") - col("p50_exact")) <= col("p50_exact") * 0.02).as("p50_within_2pct"),
        (abs(col("_a90") - col("p90_exact")) <= col("p90_exact") * 0.02).as("p90_within_2pct"))
      .orderBy(col("l_returnflag"))

  private val q39Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
      |  COUNT(*) AS n,
      |  true AS p50_within_2pct, true AS p90_within_2pct
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // q40: table profiling — per-column quality stats (nulls, distincts,
  // min/max) in ONE pass over the table: every stat is an aggregate
  // column of a single groupBy-less aggregation (Spark computes all of
  // them in one partial+final pair, no per-column scans), then the wide
  // 1-row result is melted to (column, stat) rows. The schema-driven
  // profile every ingest pipeline runs before accepting a drop.
  def q40(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
      "o_orderpriority", "o_orderstatus")
    val o = t(s, dir, "orders")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n_nonnull"),
        countDistinct(col(c)).as(s"${c}__n_distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = o.agg(count(lit(1)).as("_rows"), aggs: _*)
    val melted = cols.map { c =>
      struct(lit(c).as("column"),
        (col("_rows") - col(s"${c}__n_nonnull")).as("n_nulls"),
        col(s"${c}__n_distinct").as("n_distinct"),
        col(s"${c}__min").as("v_min"), col(s"${c}__max").as("v_max"))
    }
    wide.select(explode(array(melted: _*)).as("p"))
      .select(col("p.column").as("column"), col("p.n_nulls").as("n_nulls"),
        col("p.n_distinct").as("n_distinct"),
        col("p.v_min").as("v_min"), col("p.v_max").as("v_max"))
      .orderBy(col("column"))
  }

  private val q40Sql = {
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
      "o_orderpriority", "o_orderstatus")
    val selects = cols.map { c =>
      s"""SELECT '$c' AS "column", COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS v_min, CAST(MAX($c) AS VARCHAR) AS v_max
         |FROM orders""".stripMargin
    }
    selects.mkString("", "\nUNION ALL ", "\nORDER BY \"column\"")
  }

  // ------------------------------------------------------------------
  // q41: FULL OUTER join — the reconciliation shape (two daily rollups
  // where each side has days the other lacks: orders exist on days with
  // no shipments and vice versa). Both inputs aggregate BEFORE the join
  // (map-side combined, date-grain cardinality), so the full-outer
  // shuffle moves day-rows, not fact rows — at 100 TB the join input is
  // a few thousand rows per side regardless of corpus size.
  def q41(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val l = t(s, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_ships"))
    o.join(l, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_ships"), lit(0L)).as("n_ships"),
        when(col("n_orders").isNull, "ship_only")
          .when(col("n_ships").isNull, "order_only")
          .otherwise("both").as("side"))
      .orderBy(col("day"))
  }

  private val q41Sql =
    """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n_orders
      |           FROM orders GROUP BY 1),
      |l AS (SELECT strftime(l_shipdate, '%Y-%m-%d') AS day, count(*) AS n_ships
      |      FROM lineitem GROUP BY 1)
      |SELECT COALESCE(o.day, l.day) AS day,
      |  COALESCE(n_orders, 0) AS n_orders,
      |  COALESCE(n_ships, 0) AS n_ships,
      |  CASE WHEN o.day IS NULL THEN 'ship_only'
      |       WHEN l.day IS NULL THEN 'order_only'
      |       ELSE 'both' END AS side
      |FROM o FULL OUTER JOIN l ON o.day = l.day
      |ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q42: conversion funnel — signup → first subsequent purchase, the
  // product-analytics sequencing query. Phase 1 aggregates first-signup
  // per user (map-side combined); phase 2 joins purchases back on the
  // user key and takes the first purchase at-or-after the signup; the
  // summary is 1-row aggregates crossed (1×1 products, whitelisted in
  // PlanQualitySpec). All times are exact epoch-millis integers and the
  // mean delay is an integer DIV — bit-portable. At 100 TB both phases
  // shuffle on user_id only; the funnel never materializes per-pair
  // event combinations.
  def q42(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("_ms")).as("t_signup"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(su, Seq("user_id"))
      .filter(col("_ms") >= col("t_signup"))
      .groupBy(col("user_id"), col("t_signup"))
      .agg(min(col("_ms")).as("t_purchase"))
    ev.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(su.agg(count(lit(1)).as("n_signups")))
      .crossJoin(conv.agg(
        count(lit(1)).as("n_converted"),
        expr("CAST(sum(t_purchase - t_signup) AS BIGINT) DIV count(1)").as("avg_delay_ms")))
  }

  private val q42Sql =
    """WITH su AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS t_signup
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |conv AS (
      |  SELECT e.user_id, su.t_signup, min(epoch_ms(e.ts)) AS t_purchase
      |  FROM events e JOIN su USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= su.t_signup
      |  GROUP BY 1, 2)
      |SELECT
      |  (SELECT count(DISTINCT user_id) FROM events) AS n_users,
      |  (SELECT count(*) FROM su) AS n_signups,
      |  (SELECT count(*) FROM conv) AS n_converted,
      |  (SELECT CAST(sum(t_purchase - t_signup) AS BIGINT) // count(*) FROM conv) AS avg_delay_ms""".stripMargin

  // ------------------------------------------------------------------
  // q43: retention cohorts — the day-N retention triangle (cohort =
  // signup day, cell = distinct users from that cohort active N days
  // later). Day arithmetic is exact integer epoch-day division on both
  // engines. Shape: the activity set is deduped to (user, day) BEFORE
  // the cohort join (map-side combined distinct), so the join moves one
  // row per user-day, not one per event; both phases shuffle on
  // user_id. The standard growth-analytics rollup at any scale.
  def q43(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val day = expr("CAST(_ms DIV 86400000 AS BIGINT)")
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(day).as("cohort_day"))
    val act = ev.select(col("user_id"), day.as("act_day")).distinct()
    su.join(act, Seq("user_id"))
      .filter(col("act_day") >= col("cohort_day"))
      .groupBy(col("cohort_day"), (col("act_day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  private val q43Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) // 86400000 AS day FROM events),
      |su AS (SELECT user_id, min(day) AS cohort_day
      |       FROM e WHERE event_type = 'signup' GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, day AS act_day FROM e)
      |SELECT cohort_day, act_day - cohort_day AS day_offset,
      |  count(DISTINCT user_id) AS n_active
      |FROM su JOIN act USING (user_id)
      |WHERE act_day >= cohort_day
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q44: statistical anomaly detection — days whose event-value total
  // sits more than 2 population-σ from that event type's daily mean.
  // The z-test runs ENTIRELY in exact integer arithmetic: with cents
  // totals x_i, S = Σx, Q = Σx², |x−μ| > 2σ ⟺ (n·x − S)² > 4·(n·Q − S²),
  // both sides exact DECIMAL(38,0) products — no float mean/stddev, so
  // the flag is bit-identical cross-engine (a double stddev pipeline
  // diverges in the last ulp and flips borderline flags). Shape: one
  // (type, day) rollup (map-side combined), a per-type 1-row stats
  // aggregate broadcast back — the daily-grain table never reshuffles.
  def q44(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val daily = ev.groupBy(col("event_type"),
        expr("CAST(_ms DIV 86400000 AS BIGINT)").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("q"))
    // all products in Decimal(38,0): n·q and s² overflow BIGINT
    val d38 = DecimalType(38, 0)
    def dd(c: Column) = c.cast(d38)
    val dev = dd(col("n_days")) * dd(col("cents")) - dd(col("s"))
    val varTerm = dd(col("n_days")) * dd(col("q")) - dd(col("s")) * dd(col("s"))
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("cents"), col("n_days"),
        (dev * dev > varTerm * lit(4).cast(d38)).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  private val q44Sql =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, count(*) AS n_days,
      |    CAST(sum(cents) AS BIGINT) AS s,
      |    CAST(sum(cents * cents) AS BIGINT) AS q
      |  FROM daily GROUP BY 1)
      |SELECT event_type, day, cents, n_days,
      |  (CAST(n_days AS HUGEINT) * CAST(cents AS HUGEINT) - CAST(s AS HUGEINT))
      |    * (CAST(n_days AS HUGEINT) * CAST(cents AS HUGEINT) - CAST(s AS HUGEINT))
      |  > 4 * (CAST(n_days AS HUGEINT) * CAST(q AS HUGEINT)
      |         - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS is_anomaly
      |FROM daily JOIN stats USING (event_type)
      |ORDER BY event_type, day""".stripMargin

  // ------------------------------------------------------------------
  // q45: interval-OVERLAP join (both sides are ranges — distinct from
  // q21's point-in-range): each lineitem's 14-day delivery window
  // [ship, ship+14] against the quarterly 7-day promo windows derived
  // from the data itself. No equi key exists, so the right plan is a
  // BroadcastNestedLoopJoin with the TINY promo dim broadcast (≈ a few
  // dozen rows however big the fact side) and the range predicate
  // evaluated in codegen — at 100 TB the fact table is scanned once and
  // never shuffled. Date arithmetic is calendar-exact on both engines.
  def q45(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_shipdate").cast("date").as("ship_start"),
        date_add(col("l_shipdate").cast("date"), 14).as("ship_end"))
    val promos = t(s, dir, "lineitem")
      .select(trunc(col("l_shipdate").cast("date"), "quarter").as("p_start"))
      .distinct()
      .select(col("p_start"), date_add(col("p_start"), 6).as("p_end"))
    li.join(broadcast(promos),
        col("ship_start") <= col("p_end") && col("p_start") <= col("ship_end"))
      .groupBy(date_format(col("p_start"), "yyyy-MM-dd").as("promo_week"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("promo_week"))
  }

  private val q45Sql =
    """WITH li AS (
      |  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_start,
      |    CAST(l_shipdate AS DATE) + 14 AS ship_end
      |  FROM lineitem),
      |promos AS (
      |  SELECT p_start, p_start + 6 AS p_end FROM (
      |    SELECT DISTINCT CAST(date_trunc('quarter', l_shipdate) AS DATE) AS p_start
      |    FROM lineitem))
      |SELECT strftime(p_start, '%Y-%m-%d') AS promo_week,
      |  count(*) AS n_lines,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM li JOIN promos ON ship_start <= p_end AND p_start <= ship_end
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q46: TYPED JSON parsing — from_json with an explicit schema turns
  // the props payload into a struct column (schema-on-read, codegen
  // field access), where q17 demonstrated string-path extraction. The
  // parse happens once in the scan projection; everything downstream
  // is ordinary typed column algebra.
  def q46(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    ev.select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
          .getField("k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))
  }

  private val q46Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  count(DISTINCT k) AS n_distinct_k
      |FROM (SELECT event_type,
      |        CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q47: native TIMESTAMP_NTZ semantics — the regenerated fixture stores
  // ts as timestamp[us], which Spark reads as TIMESTAMP_NTZ; operate on
  // the timestamp column directly (to_date / hour), no _ms arithmetic.
  // If the fixture ever reverts to raw INT64 nanos, rebuild an NTZ column
  // from _ms so the query keeps exercising the same type end-to-end.
  def q47(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val ntz = ev.schema("ts").dataType match {
      case TimestampNTZType => col("ts")
      case _                => timestamp_millis(col("_ms")).cast(TimestampNTZType)
    }
    ev.withColumn("_t", ntz)
      .groupBy(to_date(col("_t")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        max(hour(col("_t"))).cast("long").as("max_hour"))
      .orderBy(col("day"), col("event_type"))
  }

  private val q47Sql =
    """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(max(EXTRACT(hour FROM ts)) AS BIGINT) AS max_hour
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // ------------------------------------------------------------------
  // q48: ranking-statistics window functions — ntile / percent_rank /
  // cume_dist, the distribution-rank family the surface did not yet
  // exercise. The ORDER BY is a total order (price, orderkey,
  // linenumber), so every rank statistic is deterministic; percent_rank
  // and cume_dist are single correctly-rounded IEEE divisions of exact
  // integers, hence bit-identical cross-engine.
  //
  // SCALE SHAPE (r9 verdict item 1): a naive
  // `Window.partitionBy(l_returnflag)` has THREE distinct partition
  // values, so at 100× each WindowExec task sorts a third of the table.
  // Instead this is the two-phase distributed rank (the
  // Sampling.scala:217 prefix-sum idiom applied to ranking): shard the
  // order space by a fixed price grid — shard(x) <= shard(y) whenever
  // x sorts before y, so per-shard row_numbers plus a broadcast
  // cumulative shard-offset table compose to the EXACT global rank.
  // ntile / percent_rank / cume_dist are then closed-form functions of
  // (rank, n): the order key is unique, so rank == row_number,
  // percent_rank = (rank-1)/(n-1), cume_dist = rank/n, and ntile's
  // first (n mod k) buckets take ceil(n/k) rows. No window partition
  // ever holds more than one (flag, price-grid-cell) slice; the oracle
  // runs the plain window functions, proving the derivation bit-exact.
  private val Q48ShardWidth = 512.0 // price units per rank shard

  def q48(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("_shard", floor(col("l_extendedprice") / lit(Q48ShardWidth)))
    // Phase 1: rank within each (flag, grid-cell) shard — bounded tasks.
    val wIn = Window.partitionBy(col("l_returnflag"), col("_shard"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val inShard = base.withColumn("_rn_in", row_number().over(wIn).cast("long"))
    // Phase 2: cumulative offsets over the tiny (flag, shard) count
    // table — shard-count-sized, never row-sized — plus the per-flag
    // total, broadcast back.
    val wSh = Window.partitionBy(col("l_returnflag")).orderBy(col("_shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = base.groupBy(col("l_returnflag"), col("_shard"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_offset", coalesce(sum(col("_cnt")).over(wSh), lit(0L)))
      .withColumn("_n", sum(col("_cnt")).over(Window.partitionBy(col("l_returnflag"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("l_returnflag"), col("_shard"), col("_offset"), col("_n"))
    inShard
      .join(broadcast(offsets), Seq("l_returnflag", "_shard"))
      .withColumn("_rank", col("_offset") + col("_rn_in"))
      // ntile(10) closed form: rem = n mod 10 leading buckets hold
      // qsz+1 = n DIV 10 + 1 rows each; the cut point is rem*(qsz+1).
      .withColumn("_qsz", expr("_n DIV 10"))
      .withColumn("_rem", col("_n") % 10)
      .withColumn("_cut", col("_rem") * (col("_qsz") + lit(1L)))
      .withColumn("tile",
        when(col("_rank") <= col("_cut"),
          expr("(_rank - 1) DIV (_qsz + 1) + 1")
        ).otherwise(
          // reachable only when _qsz >= 1 (rank > cut = n when qsz = 0);
          // the greatest() keeps the dead branch ANSI-safe
          expr("_rem + (_rank - _cut - 1) DIV greatest(_qsz, 1L) + 1")
        ).cast("long"))
      .withColumn("pr",
        when(col("_n") === 1, lit(0.0))
          .otherwise((col("_rank") - 1).cast("double") / (col("_n") - 1).cast("double")))
      .withColumn("cd", col("_rank").cast("double") / col("_n").cast("double"))
      .groupBy(col("l_returnflag"), col("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).cast("double").as("lo"),
        max(col("l_extendedprice")).cast("double").as("hi"),
        min(col("pr")).as("pr_lo"),
        max(col("cd")).as("cd_hi"))
      .orderBy(col("l_returnflag"), col("tile"))
  }

  private val q48Sql =
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    ntile(10) OVER w AS tile,
      |    percent_rank() OVER w AS pr,
      |    cume_dist() OVER w AS cd
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_returnflag
      |               ORDER BY l_extendedprice, l_orderkey, l_linenumber))
      |SELECT l_returnflag, CAST(tile AS BIGINT) AS tile,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(l_extendedprice) AS DOUBLE) AS lo,
      |  CAST(max(l_extendedprice) AS DOUBLE) AS hi,
      |  min(pr) AS pr_lo, max(cd) AS cd_hi
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q48_window_stats" -> (q48 _),
    "q47_ntz_native" -> (q47 _),
    "q46_json_typed" -> (q46 _),
    "q45_interval_overlap" -> (q45 _),
    "q44_anomaly_days" -> (q44 _),
    "q43_retention" -> (q43 _),
    "q42_funnel" -> (q42 _),
    "q41_full_outer" -> (q41 _),
    "q40_profile" -> (q40 _),
    "q37_gap_fill" -> (q37 _),
    "q38_unpivot" -> (q38 _),
    "q39_approx_quantiles" -> (q39 _),
    "q35_range_frame" -> (q35 _),
    "q36_exists_subquery" -> (q36 _),
    "q32_grouping_sets" -> (q32 _),
    "q33_setops_all" -> (q33 _),
    "q34_window_analytic" -> (q34 _),
    "q29_sql_scalar_subquery" -> (q29 _),
    "q49_lateral_topn" -> (q49 _),
    "q50_recursive_chain" -> (q50 _),
    "q30_topk_custom_operator" -> (q30 _),
    "q31_approx_distinct" -> (q31 _),
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_join_broadcast" -> (q03 _),
    "q04_join_shuffle" -> (q04 _),
    "q05_semi_join" -> (q05 _),
    "q06_anti_join" -> (q06 _),
    "q07_topk_per_group" -> (q07 _),
    "q08_window_running" -> (q08 _),
    "q09_lag_lead" -> (q09 _),
    "q10_rollup" -> (q10 _),
    "q11_cube" -> (q11 _),
    "q12_count_distinct" -> (q12 _),
    "q13_topk_global" -> (q13 _),
    "q14_setops" -> (q14 _),
    "q15_string_funcs" -> (q15 _),
    "q16_date_funcs" -> (q16 _),
    "q17_json" -> (q17 _),
    "q18_array_funcs" -> (q18 _),
    "q19_conditional_agg" -> (q19 _),
    "q20_pivot" -> (q20 _),
    "q21_range_join" -> (q21 _),
    "q22_asof_join" -> (q22 _),
    "q23_dedup_deterministic" -> (q23 _),
    "q24_correlated_agg" -> (q24 _),
    "q25_sessionization" -> (q25 _),
    "q26_percentiles" -> (q26 _),
    "q27_histogram" -> (q27 _),
    "q28_argmax" -> (q28 _)
  )

  val oracle: Map[String, String] = Map(
    "q48_window_stats" -> q48Sql,
    "q47_ntz_native" -> q47Sql,
    "q46_json_typed" -> q46Sql,
    "q45_interval_overlap" -> q45Sql,
    "q44_anomaly_days" -> q44Sql,
    "q43_retention" -> q43Sql,
    "q42_funnel" -> q42Sql,
    "q41_full_outer" -> q41Sql,
    "q40_profile" -> q40Sql,
    "q37_gap_fill" -> q37Sql,
    "q38_unpivot" -> q38Sql,
    "q39_approx_quantiles" -> q39Sql,
    "q35_range_frame" -> q35Sql,
    "q36_exists_subquery" -> q36Sql,
    "q31_approx_distinct" -> q31Sql,
    "q32_grouping_sets" -> q32Sql,
    "q33_setops_all" -> q33Sql,
    "q34_window_analytic" -> q34Sql,
    "q29_sql_scalar_subquery" -> q29Sql,
    "q49_lateral_topn" -> q49Sql,
    "q50_recursive_chain" -> q50Sql,
    "q30_topk_custom_operator" -> q07Sql, // identical semantics to q07

    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join_broadcast" -> q03Sql,
    "q04_join_shuffle" -> q04Sql,
    "q05_semi_join" -> q05Sql,
    "q06_anti_join" -> q06Sql,
    "q07_topk_per_group" -> q07Sql,
    "q08_window_running" -> q08Sql,
    "q09_lag_lead" -> q09Sql,
    "q10_rollup" -> q10Sql,
    "q11_cube" -> q11Sql,
    "q12_count_distinct" -> q12Sql,
    "q13_topk_global" -> q13Sql,
    "q14_setops" -> q14Sql,
    "q15_string_funcs" -> q15Sql,
    "q16_date_funcs" -> q16Sql,
    "q17_json" -> q17Sql,
    "q18_array_funcs" -> q18Sql,
    "q19_conditional_agg" -> q19Sql,
    "q20_pivot" -> q20Sql,
    "q21_range_join" -> q21Sql,
    "q22_asof_join" -> q22Sql,
    "q23_dedup_deterministic" -> q23Sql,
    "q24_correlated_agg" -> q24Sql,
    "q25_sessionization" -> q25Sql,
    "q26_percentiles" -> q26Sql,
    "q27_histogram" -> q27Sql,
    "q28_argmax" -> q28Sql
  )
}
