package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession

/** Randomized differential testing of the engine against DuckDB: a
  * seeded generator builds N random scan→filter→group→aggregate→sort
  * pipelines over `lineitem` (every ~4th spec: time-keyed
  * filter/group/join pipelines over `events` through both the `_ms`
  * and native-NTZ ts derivations; ~1/5 of the rest: ranking/frame/
  * analytic WINDOW pipelines with total-order OVER clauses) as BOTH a
  * DataFrame program and the
  * equivalent ANSI SQL, dumps each result + an `oracle_sql.json`, and
  * the standard `tools/check_oracle.py` then grades every pair exactly
  * like the driver grades the curated queries. Where the curated suite
  * proves the operators a human thought to write, the fuzz sweep
  * samples the composition space between them — filter/group/agg
  * combinations nobody hand-picked — with the same bit-exact bar
  * (Decimal(18,2) money sums, BIGINT counts, total-order sorts).
  *
  * Usage: runMain graft.tools.FuzzDump [sfDir] [outDir] [nQueries] [seed]
  * then:  python3 tools/check_oracle.py <sfDir> <outDir>
  */
object FuzzDump {

  private val D = DecimalType(18, 2)

  /** One random query = (DataFrame builder, equivalent DuckDB SQL). */
  case class Spec(name: String, df: DataFrame => DataFrame, sql: String)

  /** Filter palette: (Column predicate, SQL predicate) pairs that are
    * value-identical cross-engine (exact literals, no float math). */
  private def filters(rng: Random): (Column, String) = {
    val choices: Seq[(Column, String)] = Seq(
      (col("l_quantity") > 25, "l_quantity > 25"),
      (col("l_quantity") <= 10, "l_quantity <= 10"),
      (col("l_returnflag") === "R", "l_returnflag = 'R'"),
      (col("l_returnflag") =!= "A", "l_returnflag <> 'A'"),
      (col("l_linestatus") === "F", "l_linestatus = 'F'"),
      (col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
        "l_shipdate < TIMESTAMP '1997-01-01'"),
      (col("l_shipdate") >= lit("1995-06-15").cast("timestamp"),
        "l_shipdate >= TIMESTAMP '1995-06-15'"),
      (col("l_orderkey") % 7 === 0, "l_orderkey % 7 = 0"),
      (col("l_partkey") > col("l_suppkey"), "l_partkey > l_suppkey"))
    val n = 1 + rng.nextInt(2)
    val picked = rng.shuffle(choices).take(n)
    (picked.map(_._1).reduce(_ && _), picked.map(_._2).mkString("(", ") AND (", ")"))
  }

  /** Group-key palette (deterministic derivations only). */
  private def groupKeys(rng: Random): Seq[(Column, String, String)] = {
    val all = Seq(
      (col("l_returnflag"), "l_returnflag", "l_returnflag"),
      (col("l_linestatus"), "l_linestatus", "l_linestatus"),
      (year(col("l_shipdate")).cast("long").as("ship_year"),
        "CAST(year(l_shipdate) AS BIGINT)", "ship_year"),
      ((col("l_orderkey") % 5).as("k5"), "l_orderkey % 5", "k5"))
    rng.shuffle(all).take(1 + rng.nextInt(2))
  }

  /** Aggregate palette — every output engineered for exact equality. */
  private def aggs(rng: Random): Seq[(Column, String)] = {
    val all: Seq[(Column, String)] = Seq(
      (count(lit(1)).as("n"), "count(*) AS n"),
      (sum(col("l_extendedprice").cast(D)).cast("double").as("rev"),
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev"),
      (sum(col("l_quantity").cast(D)).cast("double").as("qty"),
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty"),
      (min(col("l_quantity")).cast("double").as("min_q"),
        "CAST(MIN(l_quantity) AS DOUBLE) AS min_q"),
      (max(col("l_extendedprice")).cast("double").as("max_p"),
        "CAST(MAX(l_extendedprice) AS DOUBLE) AS max_p"),
      (countDistinct(col("l_orderkey")).as("n_orders"),
        "count(DISTINCT l_orderkey) AS n_orders"))
    rng.shuffle(all).take(1 + rng.nextInt(3))
  }

  /** Extra group keys available in the join shape (order-side). */
  private def orderKeys(rng: Random): Seq[(Column, String, String)] = {
    val all = Seq(
      (col("o_orderpriority"), "o_orderpriority", "o_orderpriority"),
      (col("o_orderstatus"), "o_orderstatus", "o_orderstatus"))
    rng.shuffle(all).take(1)
  }

  /** Optional HAVING over count(*) — applied post-agg on both engines. */
  private def having(rng: Random): Option[(Column, String)] =
    if (rng.nextBoolean()) Some((col("n") > 5L, "HAVING count(*) > 5")) else None

  // ---- events-table grammar ------------------------------------------
  // Time-keyed filters/groups/joins over BOTH time derivations — the
  // epoch-ms long `_ms` (Relational.eventsMs, schema-adaptive to the
  // fixture's ts encoding) and the native wall-clock NTZ `_t` (the q47
  // path). The events surface is the proven fixture-regen hot spot
  // (round 7 lost 17 queries to a ts re-encoding); fuzzing it samples
  // the drift class the curated q25/q37/q47 only spot-check.

  private def eventFilters(rng: Random): (Column, String) = {
    val choices: Seq[(Column, String)] = Seq(
      (col("_ms") % 2 === 0, "epoch_ms(ts) % 2 = 0"),
      (expr("_ms DIV 86400000 % 3") === 0, "(epoch_ms(ts) // 86400000) % 3 = 0"),
      (col("user_id") % 7 === 0, "user_id % 7 = 0"),
      (hour(col("_t")) < 12, "EXTRACT(hour FROM ts) < 12"),
      (minute(col("_t")) >= 30, "EXTRACT(minute FROM ts) >= 30"),
      (col("event_type") =!= "click", "event_type <> 'click'"))
    val n = 1 + rng.nextInt(2)
    val picked = rng.shuffle(choices).take(n)
    (picked.map(_._1).reduce(_ && _), picked.map(_._2).mkString("(", ") AND (", ")"))
  }

  private def eventKeys(rng: Random, dayJoin: Boolean): Seq[(Column, String, String)] = {
    val dayKey =
      if (dayJoin) (col("day"), "day", "day") // pre-derived join key column
      else (to_date(col("_t")).as("day"), "CAST(ts AS DATE)", "day")
    val all = Seq(
      (col("event_type"), "event_type", "event_type"),
      ((col("user_id") % 5).as("u5"), "user_id % 5", "u5"),
      dayKey,
      (hour(col("_t")).cast("long").as("hr"), "CAST(EXTRACT(hour FROM ts) AS BIGINT)", "hr"))
    rng.shuffle(all).take(1 + rng.nextInt(2))
  }

  private def eventAggs(rng: Random, dayJoin: Boolean): Seq[(Column, String)] = {
    val base: Seq[(Column, String)] = Seq(
      (countDistinct(col("user_id")).as("n_users"), "count(DISTINCT user_id) AS n_users"),
      (min(col("_ms")).as("min_ms"), "min(epoch_ms(ts)) AS min_ms"),
      (max(col("_ms")).as("max_ms"), "max(epoch_ms(ts)) AS max_ms"),
      (countDistinct(col("event_id")).as("n_ev"), "count(DISTINCT event_id) AS n_ev"))
    val joinOnly: Seq[(Column, String)] =
      if (dayJoin) Seq((max(col("day_n")).as("max_day_n"), "max(day_n) AS max_day_n"))
      else Seq.empty
    rng.shuffle(base ++ joinOnly).take(1 + rng.nextInt(3))
  }

  /** An events-shaped spec: the Spark side goes through the SAME
    * schema-adaptive accessor the curated queries use
    * ([[graft.queries.Relational.events]] for `_ms`, the q47 NTZ
    * derivation for `_t`), the DuckDB side reads `ts` raw — so any
    * fixture re-encoding that breaks the accessor breaks these specs
    * loudly instead of shipping wrong epoch arithmetic. */
  private def eventSpec(i: Int, rng: Random, sfDir: String): Spec = {
    import org.apache.spark.sql.types.{TimestampNTZType => NTZ}
    val dayJoin = rng.nextBoolean()
    val (fCol, fSql) = eventFilters(rng)
    val keys = eventKeys(rng, dayJoin)
    val as = (count(lit(1)).as("n"), "count(*) AS n") +: eventAggs(rng, dayJoin)
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      val s = li.sparkSession
      val ev0 = graft.queries.Relational.events(s, sfDir)
      val ntz = ev0.schema("ts").dataType match {
        case NTZ => col("ts")
        case _   => timestamp_millis(col("_ms")).cast(NTZ)
      }
      val ev = ev0.withColumn("_t", ntz)
      val src =
        if (dayJoin) {
          val withDay = ev.withColumn("day", to_date(col("_t")))
          val daily = withDay.groupBy(col("day")).agg(count(lit(1)).as("day_n"))
          withDay.join(daily, Seq("day"))
        } else ev
      src.filter(fCol)
        .groupBy(keys.map(_._1): _*)
        .agg(as.head._1, as.tail.map(_._1): _*)
        .orderBy(keys.map(k => col(k._3)): _*)
    }
    val from =
      if (dayJoin)
        """(SELECT *, CAST(ts AS DATE) AS day FROM events) e
          |  JOIN (SELECT CAST(ts AS DATE) AS day, count(*) AS day_n
          |        FROM events GROUP BY 1) d USING (day)""".stripMargin
      else "events"
    val sql =
      s"""SELECT ${keys.map(k => s"${k._2} AS ${k._3}").mkString(", ")},
         |  ${as.map(_._2).mkString(",\n  ")}
         |FROM $from
         |WHERE $fSql
         |GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}
         |ORDER BY ${keys.indices.map(_ + 1).mkString(", ")}""".stripMargin
    Spec(name, df, sql)
  }

  // ---- window-function grammar ---------------------------------------
  // Ranking/frame/analytic windows over lineitem with a TOTAL order in
  // every OVER clause ((l_extendedprice DESC, l_orderkey, l_linenumber)
  // — (orderkey, linenumber) is the table's primary key, so ranks,
  // frames, and lag values are all deterministic and the default RANGE
  // frame equals ROWS on both engines (no peer ties). Samples the
  // window composition space the curated q07/q08/q09/q34/q35 only
  // spot-check.

  private def windowSpec(i: Int, rng: Random): Spec = {
    import org.apache.spark.sql.expressions.Window
    val (fCol, fSql) = filters(rng)
    val (pCol, pSql) = rng.shuffle(Seq[(Column, String)](
      (col("l_returnflag"), "l_returnflag"),
      (col("l_linestatus"), "l_linestatus"),
      ((col("l_orderkey") % 5), "l_orderkey % 5"))).head
    val w = Window.partitionBy(col("pk"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val over = "OVER (PARTITION BY pk ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)"
    // (Column, output alias, SQL expression) — alias shared verbatim
    val palette: Seq[(Column, String, String)] = Seq(
      (rank().over(w).cast("long"), "rnk", s"CAST(rank() $over AS BIGINT)"),
      (dense_rank().over(w).cast("long"), "drnk", s"CAST(dense_rank() $over AS BIGINT)"),
      (sum(col("l_quantity").cast(D)).over(w).cast("double"), "run_qty",
        s"CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) $over AS DOUBLE)"),
      (lag(col("l_extendedprice"), 1).over(w).cast("double"), "prev_p",
        s"CAST(lag(l_extendedprice, 1) $over AS DOUBLE)"),
      (count(lit(1)).over(Window.partitionBy(col("pk"))), "n_part",
        "CAST(count(*) OVER (PARTITION BY pk) AS BIGINT)"))
    val fns = rng.shuffle(palette).take(1 + rng.nextInt(2))
    val keep = 3 + rng.nextInt(5) // rn <= 3..7
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      val base = li.filter(fCol).withColumn("pk", pCol)
        .withColumn("rn", row_number().over(w).cast("long"))
      val withFns = fns.foldLeft(base) { case (d, (c, alias, _)) =>
        d.withColumn(alias, c)
      }
      withFns.filter(col("rn") <= keep)
        .select(Seq(col("pk"), col("l_orderkey"), col("l_linenumber"), col("rn")) ++
          fns.map(f => col(f._2)): _*)
        .orderBy(col("pk"), col("rn"))
    }
    val sql =
      s"""SELECT pk, l_orderkey, l_linenumber, rn, ${fns.map(_._2).mkString(", ")}
         |FROM (
         |  SELECT pk, l_orderkey, l_linenumber,
         |    CAST(row_number() $over AS BIGINT) AS rn,
         |    ${fns.map(f => s"${f._3} AS ${f._2}").mkString(",\n    ")}
         |  FROM (SELECT *, $pSql AS pk FROM lineitem WHERE $fSql))
         |WHERE rn <= $keep
         |ORDER BY pk, rn""".stripMargin
    Spec(name, df, sql)
  }

  // ---- set-op / grouping-set / full-outer grammar ---------------------
  // (VERDICT r9 item 6) rollup/cube super-aggregates with their NULL-key
  // rows, INTERSECT/EXCEPT [ALL] multiset semantics, and FULL OUTER
  // joins with one-sided keys — the q10/q11/q14/q32/q33/q41 shape
  // classes, previously only spot-checked by the curated suite. Same
  // exactness conventions: NULLS FIRST on every nullable sort key
  // (rollup/cube super-rows), BIGINT counts, COALESCE'd outer keys.

  private def groupingSpec(i: Int, rng: Random): Spec = {
    val (fCol, fSql) = filters(rng)
    val keys = rng.shuffle(Seq(
      (col("l_returnflag"), "l_returnflag", "l_returnflag"),
      (col("l_linestatus"), "l_linestatus", "l_linestatus"),
      (year(col("l_shipdate")).cast("long").as("ship_year"),
        "CAST(year(l_shipdate) AS BIGINT)", "ship_year"),
      ((col("l_orderkey") % 5).as("k5"), "l_orderkey % 5", "k5"))).take(2)
    val cube = rng.nextBoolean()
    val as = Seq[(Column, String)](
      (count(lit(1)).as("n"), "count(*) AS n"),
      (sum(col("l_quantity").cast(D)).cast("double").as("qty"),
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty"),
      (grouping_id().cast("long").as("gid"),
        s"CAST(GROUPING(${keys.map(_._2).mkString(", ")}) AS BIGINT) AS gid"))
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      val filtered = li.filter(fCol)
      val grouped =
        if (cube) filtered.cube(keys.map(_._1): _*)
        else filtered.rollup(keys.map(_._1): _*)
      grouped.agg(as.head._1, as.tail.map(_._1): _*)
        .orderBy(col("gid") +: keys.map(k => col(k._3).asc_nulls_first): _*)
    }
    val mode = if (cube) "CUBE" else "ROLLUP"
    val sql =
      s"""SELECT ${keys.map(k => s"${k._2} AS ${k._3}").mkString(", ")},
         |  ${as.map(_._2).mkString(",\n  ")}
         |FROM lineitem WHERE $fSql
         |GROUP BY $mode (${keys.map(_._2).mkString(", ")})
         |ORDER BY gid, ${keys.map(k => s"${k._3} NULLS FIRST").mkString(", ")}""".stripMargin
    Spec(name, df, sql)
  }

  private def setopSpec(i: Int, rng: Random): Spec = {
    val (fa, faSql) = filters(rng)
    val (fb, fbSql) = filters(rng)
    // (operator, Spark combiner, SQL keyword) — ALL variants keep
    // multiset multiplicity, plain variants deduplicate first
    val ops: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      ("INTERSECT ALL", _ intersectAll _),
      ("EXCEPT ALL", _ exceptAll _),
      ("INTERSECT", _ intersect _),
      ("EXCEPT", _ except _))
    val (kw, combine) = ops(rng.nextInt(ops.size))
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      val a = li.filter(fa).select(col("l_orderkey"))
      val b = li.filter(fb).select(col("l_orderkey"))
      combine(a, b)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_orderkey"))
    }
    val sql =
      s"""WITH a AS (SELECT l_orderkey FROM lineitem WHERE $faSql),
         |     b AS (SELECT l_orderkey FROM lineitem WHERE $fbSql)
         |SELECT l_orderkey, count(*) AS n
         |FROM (SELECT * FROM a $kw SELECT * FROM b)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    Spec(name, df, sql)
  }

  private def fullOuterSpec(i: Int, rng: Random, sfDir: String): Spec = {
    // year-keyed aggregates filtered to OVERLAPPING BUT DISTINCT year
    // ranges, so the full outer join is guaranteed rows that exist on
    // only one side (the null-key class q41 exercises)
    val cut = 1994 + rng.nextInt(3)
    val (fCol, fSql) = filters(rng)
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      val l = li.filter(fCol && year(col("l_shipdate")) >= cut)
        .groupBy(year(col("l_shipdate")).cast("long").as("ly"))
        .agg(count(lit(1)).as("n_ship"))
      val o = li.sparkSession.read.parquet(s"$sfDir/orders.parquet")
        .filter(year(col("o_orderdate")) <= cut + 1)
        .groupBy(year(col("o_orderdate")).cast("long").as("oy"))
        .agg(count(lit(1)).as("n_ord"))
      l.join(o, col("ly") === col("oy"), "full_outer")
        .select(coalesce(col("ly"), col("oy")).as("y"),
          coalesce(col("n_ship"), lit(0L)).as("n_ship"),
          coalesce(col("n_ord"), lit(0L)).as("n_ord"),
          when(col("ly").isNull, "order_only")
            .when(col("oy").isNull, "ship_only")
            .otherwise("both").as("side"))
        .orderBy(col("y"))
    }
    val sql =
      s"""WITH l AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS ly, count(*) AS n_ship
         |           FROM lineitem WHERE ($fSql) AND year(l_shipdate) >= $cut GROUP BY 1),
         |     o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS oy, count(*) AS n_ord
         |           FROM orders WHERE year(o_orderdate) <= ${cut + 1} GROUP BY 1)
         |SELECT COALESCE(ly, oy) AS y,
         |  COALESCE(n_ship, 0) AS n_ship,
         |  COALESCE(n_ord, 0) AS n_ord,
         |  CASE WHEN ly IS NULL THEN 'order_only'
         |       WHEN oy IS NULL THEN 'ship_only'
         |       ELSE 'both' END AS side
         |FROM l FULL OUTER JOIN o ON ly = oy
         |ORDER BY 1""".stripMargin
    Spec(name, df, sql)
  }

  // ---- time-shape grammar (VERDICT r10 item 5) -------------------------
  // RANGE window frames, interval-overlap joins and as-of joins — the
  // q35/q45/q22 shape classes, previously only spot-checked by one
  // curated query each. Same exactness conventions throughout: exact
  // Decimal(18,2) money sums cast to DOUBLE at the edge, BIGINT counts,
  // total-order result sorts, calendar-exact date arithmetic.

  /** Randomized RANGE frame over events: trailing/leading value windows
    * of varied widths and bound forms over both partition-key choices.
    * RANGE (unlike ROWS) aggregates all PEERS of the current ordering
    * value, so frame contents are order-independent and exact. */
  private def rangeFrameSpec(i: Int, rng: Random, sfDir: String): Spec = {
    import org.apache.spark.sql.expressions.Window
    val widthS = Seq(60L, 300L, 600L, 1800L, 3600L)(rng.nextInt(5))
    val w = widthS * 1000L
    // bound forms: trailing-inclusive, trailing-exclusive, leading
    val (lo, hi, boundSql) = rng.nextInt(3) match {
      case 0 => (-w, 0L, s"RANGE BETWEEN $w PRECEDING AND CURRENT ROW")
      case 1 => (-w, -1L, s"RANGE BETWEEN $w PRECEDING AND 1 PRECEDING")
      case _ => (0L, w, s"RANGE BETWEEN CURRENT ROW AND $w FOLLOWING")
    }
    val (pCol, pSql) = rng.shuffle(Seq[(Column, String)](
      (col("user_id"), "user_id"),
      (col("user_id") % 7, "user_id % 7"))).head
    val (fCol, fSql) = eventFilters(rng)
    val name = f"fuzz_$i%02d"
    val over = s"OVER (PARTITION BY pk ORDER BY epoch_ms(ts) $boundSql)"
    type WS = org.apache.spark.sql.expressions.WindowSpec
    val fns: Seq[(WS => Column, String, String)] = {
      val all = Seq[(WS => Column, String, String)](
        ((wS: WS) => count(lit(1)).over(wS), "n_w", s"COUNT(*) $over AS n_w"),
        ((wS: WS) => coalesce(sum(col("value").cast(D)).over(wS).cast("double"), lit(0.0)),
          "sum_w", s"COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) $over AS DOUBLE), 0.0) AS sum_w"),
        ((wS: WS) => coalesce(min(col("event_id")).over(wS), lit(-1L)),
          "min_id_w", s"COALESCE(MIN(event_id) $over, -1) AS min_id_w"))
      rng.shuffle(all).take(1 + rng.nextInt(2))
    }
    val df = (li: DataFrame) => {
      val s = li.sparkSession
      val ev = graft.queries.Relational.events(s, sfDir)
        .withColumn("_t", timestamp_millis(col("_ms"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
      val wS = Window.partitionBy(col("pk")).orderBy(col("_ms")).rangeBetween(lo, hi)
      val base = ev.filter(fCol).withColumn("pk", pCol)
      fns.foldLeft(base) { case (d, (c, alias, _)) => d.withColumn(alias, c(wS)) }
        .select(Seq(col("pk"), col("event_id"), col("_ms").as("ms")) ++ fns.map(f => col(f._2)): _*)
        .orderBy(col("pk"), col("ms"), col("event_id"))
    }
    val sql =
      s"""SELECT pk, event_id, epoch_ms(ts) AS ms,
         |  ${fns.map(_._3).mkString(",\n  ")}
         |FROM (SELECT *, $pSql AS pk FROM events WHERE $fSql)
         |ORDER BY pk, ms, event_id""".stripMargin
    Spec(name, df, sql)
  }

  /** Randomized interval-overlap join (q45's shape): fact delivery
    * windows of varied width against promo windows derived at varied
    * calendar grains — the broadcast-nested-loop range join with a
    * bounded dim side, never a shuffled fact. */
  private def intervalOverlapSpec(i: Int, rng: Random, sfDir: String): Spec = {
    val d1 = Seq(7, 14, 21)(rng.nextInt(3))
    val d2 = Seq(3, 6, 13)(rng.nextInt(3))
    val (grain, truncSql) = rng.shuffle(Seq(
      ("quarter", "date_trunc('quarter', l_shipdate)"),
      ("month", "date_trunc('month', l_shipdate)"))).head
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      val facts = li.select(col("l_orderkey"),
        col("l_shipdate").cast("date").as("ship_start"),
        date_add(col("l_shipdate").cast("date"), d1).as("ship_end"))
      val promos = li
        .select(trunc(col("l_shipdate").cast("date"), grain).as("p_start"))
        .distinct()
        .select(col("p_start"), date_add(col("p_start"), d2).as("p_end"))
      facts.join(broadcast(promos),
          col("ship_start") <= col("p_end") && col("p_start") <= col("ship_end"))
        .groupBy(date_format(col("p_start"), "yyyy-MM-dd").as("promo_start"))
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("promo_start"))
    }
    val sql =
      s"""WITH li AS (
         |  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_start,
         |    CAST(l_shipdate AS DATE) + $d1 AS ship_end
         |  FROM lineitem),
         |promos AS (
         |  SELECT p_start, p_start + $d2 AS p_end FROM (
         |    SELECT DISTINCT CAST($truncSql AS DATE) AS p_start FROM lineitem))
         |SELECT strftime(p_start, '%Y-%m-%d') AS promo_start,
         |  count(*) AS n_lines,
         |  count(DISTINCT l_orderkey) AS n_orders
         |FROM li JOIN promos ON ship_start <= p_end AND p_start <= ship_end
         |GROUP BY 1 ORDER BY 1""".stripMargin
    Spec(name, df, sql)
  }

  /** Randomized as-of join (q22's union + running-window shape): for
    * each anchor event, the nearest source event of another type at or
    * before (or, flipped, at or after) it — O(C+P) per user with one
    * user_id exchange, where the naive join+argmax explodes pairs. */
  private def asofSpec(i: Int, rng: Random, sfDir: String): Spec = {
    import org.apache.spark.sql.expressions.Window
    val types = Seq("click", "view", "signup", "error", "purchase")
    val srcT = types(rng.nextInt(4)) // source: anything but purchase
    val anchorT = rng.shuffle(types.filterNot(_ == srcT)).head
    val forward = rng.nextBoolean() // false: latest prior; true: earliest later
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      val s = li.sparkSession
      val e = graft.queries.Relational.events(s, sfDir)
        .filter(col("event_type").isin(srcT, anchorT))
        .select(col("user_id"), col("event_id"), col("_ms"),
          when(col("event_type") === srcT, 0).otherwise(1).as("_kind"))
      // same-ms ties: source sorts before anchor when looking back,
      // after it when looking forward, matching the <= / >= predicate
      val wBase = Window.partitionBy(col("user_id"))
      val (w, best) =
        if (!forward)
          (wBase.orderBy(col("_ms"), col("_kind"), col("event_id"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow),
           max(when(col("_kind") === 0, col("_ms") * 1000000L + col("event_id"))))
        else
          (wBase.orderBy(col("_ms"), col("_kind").desc, col("event_id"))
             .rowsBetween(Window.currentRow, Window.unboundedFollowing),
           min(when(col("_kind") === 0, col("_ms") * 1000000L + col("event_id"))))
      e.withColumn("_best", best.over(w))
        .filter(col("_kind") === 1 && col("_best").isNotNull)
        .select(col("user_id"), col("event_id").as("anchor_id"),
          (col("_best") % 1000000L).as("src_id"),
          expr("_best DIV 1000000").as("src_ms"))
        .orderBy(col("user_id"), col("anchor_id"))
    }
    val cmp = if (forward) ">=" else "<="
    val pick = if (forward) "MIN" else "MAX"
    val sql =
      s"""SELECT p.user_id AS user_id, p.event_id AS anchor_id,
         |  $pick(epoch_ms(c.ts) * 1000000 + c.event_id) % 1000000 AS src_id,
         |  $pick(epoch_ms(c.ts) * 1000000 + c.event_id) // 1000000 AS src_ms
         |FROM events p JOIN events c
         |  ON c.user_id = p.user_id AND c.event_type = '$srcT'
         | AND epoch_ms(c.ts) $cmp epoch_ms(p.ts)
         |WHERE p.event_type = '$anchorT'
         |GROUP BY p.user_id, p.event_id
         |ORDER BY user_id, anchor_id""".stripMargin
    Spec(name, df, sql)
  }

  // ---- correlated-subquery grammar (VERDICT r11 item 5) ----------------
  // Scalar-agg-in-WHERE, scalar-agg-in-SELECT, EXISTS / NOT EXISTS (equi
  // and NON-equi correlation) — the q24/q29/q36 shape classes, where the
  // engines take entirely different paths (Catalyst's DecorrelateInnerQuery
  // rewrite vs DuckDB's flatten-dependent-join) and semantics can drift
  // silently: empty-group COUNT (0, not NULL), empty-group SUM (NULL),
  // NULL comparison filtering. Spark side runs the SAME SQL text through
  // spark.sql() — deliberately, because the surface under test is Spark's
  // decorrelation of the correlated form, not a hand-decorrelated join.
  // The text is dialect-shared: TIMESTAMP literals, %, <>, year(), exact
  // Decimal(18,2) money with DOUBLE at the edge, BIGINT counts.

  // ---- array-algebra grammar (round 12) ---------------------------------
  // Higher-order array functions over the documents token arrays — the
  // dialect pair where names AND semantics diverge the most (Spark
  // size/slice/sort_array/filter/exists vs DuckDB len/list slicing/
  // list_sort/list_filter), so each shape carries a hand-matched SQL per
  // engine instead of a shared text. Randomized: slice width, predicate
  // letter/length, grouping column. All outputs BIGINT-cast (Spark size()
  // is INT32, DuckDB len() is BIGINT — dtype drift fails the compare).

  private def arraySpec(i: Int, rng: Random, sfDir: String): Spec = {
    val name = f"fuzz_$i%02d"
    val k = 2 + rng.nextInt(3)                    // slice width 2..4
    val minLen = 4 + rng.nextInt(4)               // length predicate 4..7
    val letter = ('a' + rng.nextInt(26)).toChar
    val grp = if (rng.nextBoolean()) "lang" else "source"
    val sparkToks = "split(trim(lower(text)), '\\\\s+')"
    val duckToks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    val (sparkSql, duckSql) = rng.nextInt(4) match {
      case 0 => // per-doc position/predicate algebra
        (s"""WITH t AS (SELECT doc_id, $sparkToks AS a FROM documents)
            |SELECT doc_id, CAST(size(a) AS BIGINT) AS n_tok,
            |  CAST(size(filter(a, x -> length(x) >= $minLen)) AS BIGINT) AS n_long,
            |  element_at(a, 1) AS first_tok,
            |  element_at(a, CAST(size(a) AS INT)) AS last_tok
            |FROM t ORDER BY doc_id""".stripMargin,
         s"""WITH t AS (SELECT doc_id, $duckToks AS a FROM documents)
            |SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tok,
            |  CAST(len(list_filter(a, x -> length(x) >= $minLen)) AS BIGINT) AS n_long,
            |  a[1] AS first_tok, a[len(a)] AS last_tok
            |FROM t ORDER BY doc_id""".stripMargin)
      case 1 => // sorted-slice fingerprint histogram (binary collation both)
        (s"""WITH t AS (SELECT doc_id, $sparkToks AS a FROM documents)
            |SELECT array_join(slice(sort_array(a), 1, $k), ' ') AS fp,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM t GROUP BY 1 ORDER BY fp""".stripMargin,
         s"""WITH t AS (SELECT doc_id, $duckToks AS a FROM documents)
            |SELECT array_to_string(list_sort(a)[:$k], ' ') AS fp,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM t GROUP BY 1 ORDER BY fp""".stripMargin)
      case 2 => // existential predicate rolled up per group
        (s"""WITH t AS (SELECT $grp, $sparkToks AS a FROM documents)
            |SELECT $grp,
            |  CAST(sum(CASE WHEN exists(a, x -> x LIKE '$letter%') THEN 1 ELSE 0 END) AS BIGINT) AS n_has,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
         s"""WITH t AS (SELECT $grp, $duckToks AS a FROM documents)
            |SELECT $grp,
            |  CAST(sum(CASE WHEN len(list_filter(a, x -> x LIKE '$letter%')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_has,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)
      case _ => // array aggregation: distinct first-tokens, sorted, sliced
        (s"""WITH t AS (SELECT $grp, element_at($sparkToks, 1) AS ft FROM documents)
            |SELECT $grp,
            |  array_join(slice(sort_array(collect_set(ft)), 1, $k), '|') AS toks,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
         s"""WITH t AS (SELECT $grp, ($duckToks)[1] AS ft FROM documents)
            |SELECT $grp,
            |  array_to_string(list_sort(list(DISTINCT ft))[:$k], '|') AS toks,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)
    }
    val df = (li: DataFrame) => {
      val s = li.sparkSession
      s.read.parquet(s"$sfDir/documents.parquet")
        .createOrReplaceTempView("documents")
      s.sql(sparkSql)
    }
    Spec(name, df, duckSql)
  }

  private def subquerySpec(i: Int, rng: Random, sfDir: String): Spec = {
    val name = f"fuzz_$i%02d"
    val (_, innerF) = filters(rng) // SQL side is dialect-shared
    val outerF = rng.shuffle(Seq(
      "o_orderstatus = 'F'",
      "o_orderkey % 3 = 0",
      "o_orderpriority <> '1-URGENT'",
      "year(o_orderdate) >= 1996")).head
    val sql = rng.nextInt(4) match {
      case 0 =>
        // correlated COUNT in WHERE: empty groups are 0 (never NULL) in
        // both engines — the comparison sees every outer row
        val (op, k) = rng.shuffle(Seq((">", 2), (">=", 4), ("=", 0), ("=", 1))).head
        s"""SELECT o_orderkey, o_orderstatus,
           |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM orders o
           |WHERE ($outerF)
           |  AND (SELECT count(*) FROM lineitem l
           |       WHERE l.l_orderkey = o.o_orderkey AND ($innerF)) $op $k
           |ORDER BY o_orderkey""".stripMargin
      case 1 =>
        // correlated SUM projected in the SELECT list: empty groups are
        // NULL in both engines; NULLS FIRST pinned for the sort column
        s"""SELECT o_orderkey,
           |  (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           |   FROM lineitem l
           |   WHERE l.l_orderkey = o.o_orderkey AND ($innerF)) AS sub_qty
           |FROM orders o
           |WHERE ($outerF)
           |ORDER BY o_orderkey""".stripMargin
      case 2 =>
        // [NOT] EXISTS with equi correlation, aggregated readout
        val neg = if (rng.nextBoolean()) "NOT " else ""
        s"""SELECT o_orderpriority, count(*) AS n,
           |  count(DISTINCT o_orderstatus) AS n_status
           |FROM orders o
           |WHERE ($outerF)
           |  AND ${neg}EXISTS (SELECT 1 FROM lineitem l
           |    WHERE l.l_orderkey = o.o_orderkey AND ($innerF))
           |GROUP BY 1 ORDER BY 1""".stripMargin
      case _ =>
        // EXISTS with an extra NON-equi correlated predicate — the
        // decorrelation corner (outer column under an inequality)
        val frac = Seq(20, 50, 100)(rng.nextInt(3))
        val neg = if (rng.nextBoolean()) "NOT " else ""
        s"""SELECT o_orderstatus, count(*) AS n
           |FROM orders o
           |WHERE ($outerF)
           |  AND ${neg}EXISTS (SELECT 1 FROM lineitem l
           |    WHERE l.l_orderkey = o.o_orderkey AND ($innerF)
           |      AND CAST(l_extendedprice AS DECIMAL(18,2)) >
           |          CAST(o_totalprice AS DECIMAL(18,2)) / $frac)
           |GROUP BY 1 ORDER BY 1""".stripMargin
    }
    val df = (li: DataFrame) => {
      val s = li.sparkSession
      li.createOrReplaceTempView("lineitem")
      s.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("orders")
      s.sql(sql)
    }
    Spec(name, df, sql)
  }

  /** Split-invariance sweep over the streaming parity maintainers
    * (StreamParity rollup/CMS/qhist/HLL): the SAME oracle SQL as the
    * graded `stream_*` queries, but the input sliced into a random
    * number of micro-batches (2..8) under a random nonzero bucket salt.
    * The registrability theorem for these queries is that the final
    * state is invariant under ANY slicing — this family tests the
    * theorem the way the SQL families test the engine: every sampled
    * layout runs a REAL StreamingQuery and must hash-match DuckDB. The
    * order-controlled twins (window/sliding/session) are excluded by
    * construction: their results are functions of the one contractual
    * mtime-ordered schedule, so alternate slicings have a DIFFERENT
    * correct answer and the invariance property doesn't apply. */
  private def streamSpec(i: Int, rng: Random, sfDir: String): Spec = {
    import graft.streaming.StreamParity
    val nb = 2 + rng.nextInt(7)
    val salt = rng.nextLong() | 1L // force nonzero: always a re-mixed layout
    val tag = f"_fz$i%02d"
    val name = f"fuzz_stream_$i%02d"
    i % 4 match {
      case 0 => Spec(name,
        li => StreamParity.streamRollupParityN(li.sparkSession, sfDir, nb, salt, tag),
        StreamParity.streamRollupParitySql)
      case 1 => Spec(name,
        li => StreamParity.streamCmsParityN(li.sparkSession, sfDir, nb, salt, tag),
        StreamParity.streamCmsParitySql)
      case 2 => Spec(name,
        li => StreamParity.streamQhistParityN(li.sparkSession, sfDir, nb, salt, tag),
        StreamParity.streamQhistParitySql)
      case _ => Spec(name,
        li => StreamParity.streamHllParityN(li.sparkSession, sfDir, nb, salt, tag),
        StreamParity.streamHllParitySql)
      // stream_dedup_parity deliberately NOT here: this family's own
      // sweep (seed 5417) refuted the candidate claim that its DISTINCT
      // oracle is slicing-independent — no-re-emission IS layout-free,
      // but the late filter drops ORIGINALS whose ts falls behind the
      // watermark a salted slicing lets race ahead (8/10 pass, the two
      // dedup variants read 2572/10000 rows). Dedup's oracle is only
      // valid under the time-ordered layout the graded query uses.
    }
  }

  /** Schedule sweep over the ORDER-CONTROLLED watermark twins
    * (StreamParity window/sliding/session) — the round-13 verdict's top
    * item: the SPARK-42376 two-watermark model those oracles encode was
    * verified at exactly ONE schedule point per query (NumBatches=4, one
    * bucketing each). Here the batch count (2..8) and the row-to-batch
    * assignment rule (dense mod / affine re-mix / event-time ntile) are
    * randomized, each layout landed via landOrdered and executed as a
    * REAL StreamingQuery, and the result hash-matched against the
    * SCHEDULE-AWARE oracle built for that exact (nb, slicing) point —
    * a model error anywhere off the graded point fails the sweep.
    * Session varies only N: its gaps-and-islands oracle is valid for any
    * time-ordered slicing but refutable under hash layouts (the dedup
    * precedent), so the slicing axis would test a claim nobody makes. */
  private def streamOrdSpec(i: Int, rng: Random, sfDir: String): Spec = {
    import graft.streaming.StreamParity
    import graft.streaming.StreamParity.{SliceAffine, SliceHashMod, SliceTime, Slicing}
    val nb = 2 + rng.nextInt(7)
    val slicing: Slicing = rng.nextInt(3) match {
      case 0 => SliceHashMod
      case 1 => SliceAffine(1L + (rng.nextLong() & 0x7fffffffffffffffL) % 999983L)
      case _ => SliceTime
    }
    val tag = f"_fzo$i%02d"
    val name = f"fuzz_streamord_$i%02d"
    // Eviction-twin axis (funnel/totals/scd2): batch count 6..20, feed
    // sparsity event_id % m (m 1..5), retention 0.5/1/2 days — every
    // point a different eviction SCHEDULE the oracle must replay
    // exactly. The measured timeout model (StreamTimeoutSpec) is what's
    // under test here, the way the slicing axis tests SPARK-42376.
    val enb = 6 + rng.nextInt(15)
    val mod = 1L + rng.nextInt(5)
    val ret = Seq(43200000L, 86400000L, 172800000L)(rng.nextInt(3))
    // MG axis: batch count and the affine token-to-batch multiplier —
    // every point a different decrement SCHEDULE the simulation oracle
    // must replay exactly (r15: the last StreamOps operator graded)
    val mgA = 1L + (rng.nextLong() & 0x7fffffffffffffffL) % 999983L
    i % 7 match {
      case 0 => Spec(name,
        li => StreamParity.streamWindowParityN(li.sparkSession, sfDir, nb, slicing, tag),
        StreamParity.streamWindowParityOracleSql(nb, slicing))
      case 1 => Spec(name,
        li => StreamParity.streamSlidingParityN(li.sparkSession, sfDir, nb, slicing, tag),
        StreamParity.streamSlidingParityOracleSql(nb, slicing))
      case 2 => Spec(name,
        li => StreamParity.streamSessionParityN(li.sparkSession, sfDir, nb, tag),
        StreamParity.streamSessionParitySql)
      case 3 => Spec(name,
        li => StreamParity.streamFunnelParityN(li.sparkSession, sfDir, enb, mod, ret, tag),
        StreamParity.streamFunnelParityOracleSql(enb, mod, ret))
      case 4 => Spec(name,
        li => StreamParity.streamTotalsParityN(li.sparkSession, sfDir, enb, mod, ret, tag),
        StreamParity.streamTotalsParityOracleSql(enb, mod, ret))
      case 5 => Spec(name,
        li => StreamParity.streamScd2ParityN(li.sparkSession, sfDir, enb, mod, ret, tag),
        StreamParity.streamScd2ParityOracleSql(enb, mod, ret))
      case _ => Spec(name,
        li => StreamParity.streamMgParityN(li.sparkSession, sfDir, nb, mgA, tag),
        StreamParity.streamMgParityOracleSql(nb, mgA))
    }
  }

  def spec(i: Int, seed: Long, sfDir: String = "/root/testdata/sf0.01",
      family: Option[String] = None): Spec = {
    val rng = new Random(seed + i)
    // burn one draw before the shape selector: java.util.Random's FIRST
    // draw is heavily correlated across sequential seeds (measured 0/30
    // events specs without the burn, ~10/30 with it — the low seed bits
    // need an LCG step to reach the top bits nextInt(4) samples)
    rng.nextLong()
    // focused sweeps: force every spec into one grammar family so a
    // 30-query run gives ~10 draws per shape instead of the mixed
    // selector's long-tail trickle
    family match {
      case Some("time") =>
        return rng.nextInt(3) match {
          case 0 => rangeFrameSpec(i, rng, sfDir)
          case 1 => intervalOverlapSpec(i, rng, sfDir)
          case _ => asofSpec(i, rng, sfDir)
        }
      case Some("subquery") =>
        return subquerySpec(i, rng, sfDir)
      case Some("arrays") =>
        return arraySpec(i, rng, sfDir)
      case Some("stream") =>
        return streamSpec(i, rng, sfDir)
      case Some("streamord") =>
        return streamOrdSpec(i, rng, sfDir)
      case Some(other) if other.nonEmpty =>
        throw new IllegalArgumentException(s"unknown fuzz family: $other")
      case _ => ()
    }
    // every ~4th spec draws from the events grammar, ~1/5 of the rest
    // from the window grammar, ~1/4 of the rest from the set-op/
    // grouping-set/full-outer trio, ~1/4 of what remains from the
    // time-shape trio (RANGE frame / interval overlap / as-of), the
    // remainder from the relational (lineitem/orders) grammar
    if (rng.nextInt(4) == 1) return eventSpec(i, rng, sfDir)
    if (rng.nextInt(5) == 2) return windowSpec(i, rng)
    if (rng.nextInt(4) == 3) {
      return rng.nextInt(3) match {
        case 0 => groupingSpec(i, rng)
        case 1 => setopSpec(i, rng)
        case _ => fullOuterSpec(i, rng, sfDir)
      }
    }
    if (rng.nextInt(4) == 2) {
      return rng.nextInt(3) match {
        case 0 => rangeFrameSpec(i, rng, sfDir)
        case 1 => intervalOverlapSpec(i, rng, sfDir)
        case _ => asofSpec(i, rng, sfDir)
      }
    }
    // ~1/4 of what remains: the correlated-subquery grammar
    if (rng.nextInt(4) == 3) return subquerySpec(i, rng, sfDir)
    val (fCol, fSql) = filters(rng)
    val joinShape = rng.nextInt(3) == 0 // every ~3rd spec joins orders
    val keys = if (joinShape) groupKeys(rng) ++ orderKeys(rng) else groupKeys(rng)
    // HAVING needs count(*) present; always include it first
    val as = (count(lit(1)).as("n"), "count(*) AS n") +: aggs(rng).filter(_._2 != "count(*) AS n")
    val hv = if (joinShape) having(rng) else None
    val name = f"fuzz_$i%02d"
    val df = (li: DataFrame) => {
      // sfDir is captured at spec-build time: a spec built for one scale
      // dir always reads orders from THAT dir, regardless of what other
      // specs are built later (reproducibility for a differential harness).
      val src =
        if (joinShape)
          li.join(li.sparkSession.read.parquet(s"$sfDir/orders.parquet"),
            col("l_orderkey") === col("o_orderkey"))
        else li
      val grouped = src.filter(fCol)
        .groupBy(keys.map(_._1): _*)
        .agg(as.head._1, as.tail.map(_._1): _*)
      hv.map(h => grouped.filter(h._1)).getOrElse(grouped)
        .orderBy(keys.map(k => col(k._3)): _*)
    }
    val from =
      if (joinShape) "lineitem JOIN orders ON l_orderkey = o_orderkey" else "lineitem"
    val sql =
      s"""SELECT ${keys.map(k => s"${k._2} AS ${k._3}").mkString(", ")},
         |  ${as.map(_._2).mkString(",\n  ")}
         |FROM $from
         |WHERE $fSql
         |GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}
         |${hv.map(_._2).getOrElse("")}
         |ORDER BY ${keys.indices.map(_ + 1).mkString(", ")}""".stripMargin
    Spec(name, df, sql)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_fuzz"
    val n = if (args.length > 2) args(2).toInt else 20
    val seed = if (args.length > 3) args(3).toLong else 42L
    val family = if (args.length > 4) Some(args(4)) else None
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    locally {
      val (fs, p) = graft.etl.WarehouseFs.resolve(spark, outDir)
      graft.etl.WarehouseFs.mkdirs(fs, p)
    }
    val specs = (0 until n).map(spec(_, seed, sfDir, family))
    specs.foreach { s =>
      s.df(li).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${s.name}")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = specs.map(s => s"${q(s.name)}: ${q(s.sql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"FUZZ wrote $n query results + oracle_sql.json to $outDir (seed=$seed)")
    spark.stop()
  }
}
