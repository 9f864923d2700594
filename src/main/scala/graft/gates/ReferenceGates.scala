package graft.gates

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.DateTimeFunctions.yearWeek
import graft.functions.TextFunctions._
import graft.gates.Shared.t
import graft.ops.{Calendar, Quality, Returns}

/** The reference's own SQL surface: its weekly and running compound
  * returns over the events analog, key uniqueness, calendar and TPC-H-
  * shaped joins. With it, the broader SQL surface that is free in Spark
  * and oracle-gated anyway: set operations, outer, semi and anti joins,
  * rollup, cube and grouping sets, pivots, window frames and scalar
  * functions. */
object ReferenceGates {

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Register `df` under a per-invocation unique temp-view name and
    * return the name. SQL-surface queries interpolate it, so two
    * concurrent runs sharing one SparkSession (e.g. two SFs at once)
    * never clobber each other's views. */
  private def uniqueView(df: DataFrame, base: String): String = {
    val name = s"${base}_${viewSeq.incrementAndGet()}"
    df.createOrReplaceTempView(name)
    name
  }

  /** events → market-returns analog used by the compound-return queries:
    * user_id ≡ fund, event_type ≡ return kind, date(ts) ≡ market date,
    * value/1000 ≡ daily return (keeps ln(1+r) well-conditioned). */
  private def dailyReturns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      col("user_id").as("fund_id"),
      col("event_type").as("rtype"),
      to_date(col("ts")).as("mdate"),
      (col("value") / 1000.0).as("r"))

  private val dailyReturnsSql =
    """SELECT event_id, user_id AS fund_id, event_type AS rtype,
      |       CAST(ts AS DATE) AS mdate, value/1000.0 AS r FROM events""".stripMargin

  /** q155's market calendar: `fixtures/market_calendar_2024.csv` in the
    * checkout these classes were loaded from, the nearest directory above
    * their class directory (or jar) that has it; else the same relative
    * path under the working directory, which q155 then names as missing. */
  private val marketCalendar: String = {
    val rel = Paths.get("fixtures", "market_calendar_2024.csv")
    val classes = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve(rel)).find(Files.isRegularFile(_))
      .getOrElse(rel.toAbsolutePath).toString
  }

  val all: Seq[Gate] = Seq(

    // S6/J1/P3/F1/F2/F3/A3/O1: the reference's weekly compounded return
    // (ipynb cells 12-13) over the events analog. Calendar dim join is
    // explicitly broadcast.
    Gate("q01_weekly_compound", (s, dir) => {
      val daily = Calendar.filterWorkingDays(dailyReturns(s, dir), "mdate")
      Returns.weeklyReturns(daily, "fund_id", "rtype", "mdate", "r")
        .withColumn("weekly_return", round(col("weekly_return"), 6))
        .orderBy("fund_id", "rtype", "year_week")
    },
      s"""WITH daily AS ($dailyReturnsSql)
         |SELECT fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week,
         |       ROUND(EXP(SUM(LN(1 + r))) - 1, 6) AS weekly_return
         |FROM daily WHERE isodow(mdate) <= 5
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // W1: intra-week running compound (ipynb cells 14-15).
    Gate("q02_running_compound", (s, dir) => {
      val daily = Calendar.filterWorkingDays(dailyReturns(s, dir), "mdate")
      Returns.withRunningCompound(daily, "fund_id", "rtype", "mdate", "r")
        .select(col("event_id"), col("fund_id"), col("rtype"), col("mdate"),
          col("year_week"),
          round(col("daily_compound_evolution"), 6).as("compound_evolution"))
        .orderBy("event_id")
    },
      s"""WITH daily AS ($dailyReturnsSql)
         |SELECT event_id, fund_id, rtype, mdate,
         |       strftime(mdate, '%Y-%W') AS year_week,
         |       ROUND(EXP(SUM(LN(1 + r)) OVER (
         |         PARTITION BY fund_id, rtype, strftime(mdate, '%Y-%W')
         |         ORDER BY mdate)) - 1, 6) AS compound_evolution
         |FROM daily WHERE isodow(mdate) <= 5
         |ORDER BY event_id""".stripMargin),

    // A1/A2: business-key uniqueness probe (ipynb cells 10-11).
    Gate("q03_key_uniqueness", (s, dir) =>
      Quality.keyViolations(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, COUNT(1) AS cnt
        |FROM lineitem GROUP BY 1, 2 HAVING COUNT(1) > 1
        |ORDER BY 1, 2""".stripMargin),

    // A5/J1/O1/O2: grouped avg over a 3-table star join; dims broadcast.
    Gate("q04_grouped_avg_topn", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(round(avg(col("o_totalprice")), 4).as("avg_price"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name", "yr")
        .limit(10)
    },
      """SELECT n_name, year(o_orderdate) AS yr,
        |       ROUND(AVG(o_totalprice), 4) AS avg_price,
        |       COUNT(1) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 10""".stripMargin),

    // P1/P2: projection + string-equality filter (pushed to the scan).
    Gate("q05_filter_project", (s, dir) =>
      t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin),

    // A4: scalar count.
    Gate("q06_count", (s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt")),
      "SELECT COUNT(1) AS cnt FROM lineitem"),

    // U1: union of homogeneous projections.
    Gate("q07_union", (s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("value"))
      val b = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      a.unionByName(b).orderBy("event_id")
    },
      """SELECT event_id, user_id, value FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),

    // J2: group aggregate joined back onto detail rows (ipynb cell 12).
    Gate("q08_agg_join_back", (s, dir) => {
      // r16 (r15 verdict item 6): this shape is agg → broadcast
      // join-back → sort, and every strategy decision is STATIC (the
      // build side is the aggregate of the same frame — broadcast by
      // size estimate; a broadcast join cannot skew; coalescing saves
      // nothing the 4 serialized stage materializations don't cost
      // several times over), so adaptive re-planning is pure
      // scheduling overhead here: 0.96 → 0.66 s warm medians
      // (BASELINE.md "Round-16: q08 — the AQE stage-materialization
      // cut"). NOT applied class-wide — the same A/B measured
      // q207 0.78→0.90 and q193 0.42→0.73 WORSE, so only this
      // verdict-named gate takes it, on a child session so nothing
      // leaks (`GraftSession.child`, which also reuses the classes an
      // earlier run compiled), with the AQE plan one conf away
      // (row-identical, same oracle).
      val s2 =
        if (s.conf.get("spark.graft.q08.adaptive", "false").toBoolean) s
        else GraftSession.child(s, "spark.sql.adaptive.enabled" -> "false")
      val daily = dailyReturns(s2, dir).withColumn("year_week", yearWeek(col("mdate")))
      Returns.attachGroupAgg(daily, Seq("fund_id", "rtype", "year_week"),
          round(sum(col("r")), 9), "weekly_sum")
        .select(col("event_id"), col("fund_id"), col("rtype"),
          col("year_week"), col("weekly_sum"))
        .orderBy("event_id")
    },
      s"""WITH daily AS (
         |  SELECT event_id, fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week, r
         |  FROM ($dailyReturnsSql)
         |), weekly AS (
         |  SELECT fund_id, rtype, year_week, ROUND(SUM(r), 9) AS weekly_sum
         |  FROM daily GROUP BY 1, 2, 3
         |)
         |SELECT d.event_id, d.fund_id, d.rtype, d.year_week, w.weekly_sum
         |FROM daily d
         |JOIN weekly w ON d.fund_id = w.fund_id AND d.rtype = w.rtype
         |             AND d.year_week = w.year_week
         |ORDER BY d.event_id""".stripMargin),

    // P4/P5: bulk column rename.
    Gate("q09_rename_project", (s, dir) =>
      t(s, dir, "lineitem")
        .withColumnsRenamed(Map(
          "l_orderkey" -> "order_key",
          "l_linenumber" -> "line_number",
          "l_quantity" -> "quantity"))
        .select(col("order_key"), col("line_number"), col("quantity"))
        .orderBy("order_key", "line_number", "quantity"),
      """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        |       l_quantity AS quantity
        |FROM lineitem ORDER BY 1, 2, 3""".stripMargin),

    // A1/A2 over events: grouped count+avg with a HAVING filter.
    Gate("q10_having_avg", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(avg(col("value")), 6).as("avg_value"))
        .where(col("n_events") > 10)
        .orderBy("user_id"),
      """SELECT user_id, COUNT(1) AS n_events, ROUND(AVG(value), 6) AS avg_value
        |FROM events GROUP BY 1 HAVING COUNT(1) > 10 ORDER BY 1""".stripMargin),

    // O1/O2: global sort + limit (plans as TakeOrderedAndProject).
    Gate("q11_sort_limit", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20),
      """SELECT l_extendedprice, l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin),

    // F1: the %Y-%W week key alone, cross-checked against DuckDB strftime.
    Gate("q12_week_key", (s, dir) =>
      t(s, dir, "events")
        .select(to_date(col("ts")).as("mdate")).distinct()
        .select(col("mdate"), yearWeek(col("mdate")).as("year_week"))
        .orderBy("mdate"),
      """SELECT DISTINCT CAST(ts AS DATE) AS mdate,
        |       strftime(CAST(ts AS DATE), '%Y-%W') AS year_week
        |FROM events ORDER BY 1""".stripMargin),

    // Exact interpolated percentiles per group.
    Gate("q26_percentiles", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))
        .orderBy("event_type"),
      """SELECT event_type,
        |       ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |       ROUND(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ROLLUP hierarchy totals (grouping-set aggregation).
    Gate("q27_rollup", (s, dir) =>
      t(s, dir, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first),
      """SELECT event_type, COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin),

    // Ranking + lag windows per entity.
    Gate("q28_ranking", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
        |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |       LAG(value, 1) OVER w AS prev_value,
        |       LEAD(value, 1) OVER w AS next_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // Set operations: INTERSECT / EXCEPT between event-day projections.
    Gate("q33_setops", (s, dir) => {
      val ev = t(s, dir, "events")
      val clickDays = ev.where(col("event_type") === "click")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val buyDays = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val both = clickDays.intersect(buyDays).withColumn("kind", lit("both"))
      val clickOnly = clickDays.except(buyDays).withColumn("kind", lit("click_only"))
      both.unionByName(clickOnly).orderBy("kind", "user_id", "d")
    },
      """WITH clicks AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'click'
        |), buys AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT user_id, d, 'both' AS kind FROM clicks INTERSECT SELECT user_id, d, 'both' FROM buys
        |UNION ALL
        |(SELECT user_id, d, 'click_only' AS kind FROM clicks EXCEPT SELECT user_id, d, 'click_only' FROM buys)
        |ORDER BY kind, user_id, d""".stripMargin),

    // Correlated scalar subquery (SQL surface; Catalyst decorrelates to
    // an aggregate + left outer join, COUNT-bug handled — never a
    // per-row subquery execution).
    Gate("q34_correlated", (s, dir) => {
      val cv = uniqueView(t(s, dir, "customer"), "graft_customer")
      val ov = uniqueView(t(s, dir, "orders"), "graft_orders")
      s.sql(
        s"""SELECT c_custkey, c_name,
           |       (SELECT COUNT(1) FROM $ov o
           |        WHERE o.o_custkey = c.c_custkey) AS n_orders
           |FROM $cv c ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey, c_name,
        |       (SELECT COUNT(1) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin),

    // Anti join: customers with no urgent orders (non-empty at all SFs).
    Gate("q29_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),

    // Left outer join: every customer, with urgent-order aggregates or
    // nulls (the agg side is small after grouping -> broadcastable).
    Gate("q35_left_outer", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_urgent"),
          round(sum(col("o_totalprice")), 4).as("urgent_total"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("n_urgent"),
          col("urgent_total"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, n_urgent, urgent_total
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(1) AS n_urgent,
        |         ROUND(SUM(o_totalprice), 4) AS urgent_total
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
        |) u ON c_custkey = u.o_custkey
        |ORDER BY c_custkey""".stripMargin),

    // Full outer join on (user_id, day): click-days vs purchase-days;
    // using-column join coalesces the keys on both engines.
    Gate("q36_full_outer", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_clicks"))
      val buys = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_buys"))
      clicks.join(buys, Seq("user_id", "d"), "full")
        .select(col("user_id"), col("d"), col("n_clicks"), col("n_buys"))
        .orderBy("user_id", "d")
    },
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(1) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), buys AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(1) AS n_buys
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT user_id, d, n_clicks, n_buys
        |FROM clicks FULL OUTER JOIN buys USING (user_id, d)
        |ORDER BY user_id, d""".stripMargin),

    // Semi join (EXISTS): customers with at least one urgent order —
    // the complement of q29's anti join.
    Gate("q37_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),

    // CUBE over two dimensions: all 4 grouping combinations in one
    // shuffle (Expand + single hash agg — not 4 scans).
    Gate("q38_cube", (s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"), year(col("ts")).as("yr"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first, col("yr").asc_nulls_first),
      """SELECT event_type, year(ts) AS yr, COUNT(1) AS n,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY CUBE(event_type, year(ts))
        |ORDER BY event_type ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin),

    // Explicit GROUPING SETS (the general grouping-set surface beyond
    // ROLLUP/CUBE): per-type, per-cohort, and grand total.
    Gate("q39_grouping_sets", (s, dir) => {
      val ev = uniqueView(t(s, dir, "events"), "graft_events")
      s.sql(
        s"""SELECT event_type, user_id % 10 AS cohort,
           |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
           |FROM $ev
           |GROUP BY GROUPING SETS ((event_type), (cohort), ())
           |ORDER BY event_type ASC NULLS FIRST, cohort ASC NULLS FIRST""".stripMargin)
    },
      """SELECT event_type, user_id % 10 AS cohort,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (cohort), ())
        |ORDER BY event_type ASC NULLS FIRST, cohort ASC NULLS FIRST""".stripMargin),

    // Pivot: event types to columns (explicit value list, so the plan
    // is a single groupBy — no distinct-scan to discover columns).
    Gate("q40_pivot", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 4))
        .orderBy("user_id"),
      """SELECT user_id,
        |  ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        |  ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
        |  ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        |  ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        |  ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 4) AS view
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin),

    // Lateral explode with position: tokenized documents re-flattened
    // (generator runs inside whole-stage codegen; no shuffle).
    Gate("q41_explode_pos", (s, dir) =>
      t(s, dir, "documents")
        .where(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos"),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 50
        |), ex AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
        |    i -> {'pos': i, 'token': w[i]})) AS u
        |  FROM toks
        |)
        |SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token AS token
        |FROM ex ORDER BY doc_id, pos""".stripMargin),

    // Explicit window frames: ROWS-bounded trailing sum, running max,
    // and a forward-looking average in one window spec family.
    Gate("q42_window_frames", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
          col("event_id"), col("user_id"),
          round(sum(col("value")).over(w.rowsBetween(-3, 0)), 4).as("sum_last4"),
          round(max(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 4).as("run_max"),
          round(avg(col("value")).over(w.rowsBetween(0, 2)), 6).as("avg_next3"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS sum_last4,
        |  ROUND(MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_max,
        |  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING), 6) AS avg_next3
        |FROM events ORDER BY event_id""".stripMargin),

    // String function pack over customer attributes.
    Gate("q43_string_pack", (s, dir) =>
      t(s, dir, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("name_u"),
          lower(col("c_mktsegment")).as("seg_l"),
          substring(col("c_name"), 1, 8).as("name_pfx"),
          concat_ws("|", col("c_name"), col("c_mktsegment")).as("nm_seg"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("cust_num"),
          regexp_replace(col("c_name"), "[0-9]", "x").as("name_mask"),
          length(col("c_name")).cast("long").as("name_len"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, upper(c_name) AS name_u, lower(c_mktsegment) AS seg_l,
        |  substr(c_name, 1, 8) AS name_pfx,
        |  concat_ws('|', c_name, c_mktsegment) AS nm_seg,
        |  regexp_extract(c_name, '([0-9]+)$', 1) AS cust_num,
        |  regexp_replace(c_name, '[0-9]', 'x', 'g') AS name_mask,
        |  length(c_name) AS name_len,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Date/time function pack over order dates.
    Gate("q44_date_pack", (s, dir) =>
      t(s, dir, "orders").select(
          col("o_orderkey"),
          trunc(col("o_orderdate"), "month").as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").as("days_since"),
          add_months(col("o_orderdate"), 3).as("plus3m"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  last_day(o_orderdate) AS month_end,
        |  date_diff('day', DATE '1992-01-01', o_orderdate) AS days_since,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  quarter(o_orderdate) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Conditional aggregation: filtered counts/sums/shares in one pass.
    Gate("q45_conditional_agg", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(when(col("value") > 900, 1)).as("n_big"),
          round(sum(when(col("event_type") === "click", col("value"))), 4)
            .as("click_sum"),
          round(avg(when(col("event_type") === "purchase", 1.0).otherwise(0.0)), 6)
            .as("buy_share"))
        .orderBy("user_id"),
      """SELECT user_id,
        |  COUNT(CASE WHEN value > 900 THEN 1 END) AS n_big,
        |  ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS click_sum,
        |  ROUND(AVG(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END), 6) AS buy_share
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin),

    // Statistical aggregates: sample stddev/variance, correlation and
    // covariance (all partial-aggregable — map-side combine applies).
    Gate("q46_stats_agg", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(stddev_samp(col("value")), 4).as("sd"),
          round(var_samp(col("value")), 2).as("vr"),
          round(corr(col("value"), col("user_id").cast("double")), 6).as("cor"),
          round(covar_samp(col("value"), col("user_id").cast("double")), 2).as("cov"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  ROUND(stddev_samp(value), 4) AS sd,
        |  ROUND(var_samp(value), 2) AS vr,
        |  ROUND(corr(value, CAST(user_id AS DOUBLE)), 6) AS cor,
        |  ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 2) AS cov
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Rank-family window navigation: ntile, percent_rank, cume_dist,
    // first/nth value.
    Gate("q47_window_nav", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
          col("event_id"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 9).as("pr"),
          round(cume_dist().over(w), 9).as("cd"),
          first(col("value")).over(w).as("first_v"),
          nth_value(col("value"), 2).over(w).as("second_v"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(percent_rank() OVER w, 9) AS pr,
        |  ROUND(cume_dist() OVER w, 9) AS cd,
        |  first_value(value) OVER w AS first_v,
        |  nth_value(value, 2) OVER w AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // JSON extraction from the props column + grouped rollup on the
    // extracted key (scalar JSON path, codegen'd — no UDF).
    Gate("q48_json_extract", (s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("k"),
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin),

    // Ordered string aggregation per user (array_sort on (event_id,
    // type) structs -> deterministic csv, matching DuckDB's ORDER BY
    // string_agg).
    Gate("q49_string_agg", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("event_id"), col("event_type")))),
            x => x.getField("event_type")), ",").as("types_csv"))
        .orderBy("user_id"),
      """SELECT user_id,
        |       string_agg(event_type, ',' ORDER BY event_id) AS types_csv
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin),

    // Multi-column exact COUNT(DISTINCT) per group.
    Gate("q50_count_distinct", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("u_users"),
          countDistinct(to_date(col("ts"))).as("u_days"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      """SELECT event_type, COUNT(DISTINCT user_id) AS u_users,
        |       COUNT(DISTINCT CAST(ts AS DATE)) AS u_days, COUNT(1) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Linear-regression aggregates per group (all partial-aggregable);
    // x is day-offset so the normal equations stay well-conditioned
    // and both engines agree to the rounded digits.
    Gate("q54_regression", (s, dir) => {
      val x = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
        .cast("double")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(regr_slope(col("value"), x), 6).as("slope"),
          round(regr_intercept(col("value"), x), 4).as("icept"),
          round(regr_r2(col("value"), x), 9).as("r2"),
          regr_count(col("value"), x).as("n"))
        .orderBy("event_type")
    },
      """SELECT event_type,
        |  ROUND(regr_slope(value, x), 6) AS slope,
        |  ROUND(regr_intercept(value, x), 4) AS icept,
        |  ROUND(regr_r2(value, x), 9) AS r2,
        |  regr_count(value, x) AS n
        |FROM (SELECT event_type, value,
        |        CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x
        |      FROM events)
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Bitwise and boolean aggregates per group.
    Gate("q55_bitbool_aggs", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("user_id")).as("bxor"),
          bool_and(col("value") > 10).as("all_gt10"),
          bool_or(col("value") > 990).as("any_gt990"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  bit_and(user_id) AS band, bit_or(user_id) AS bor,
        |  bit_xor(user_id) AS bxor,
        |  bool_and(value > 10) AS all_gt10,
        |  bool_or(value > 990) AS any_gt990
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Null-handling scalar pack: coalesce/nullif/greatest/least.
    Gate("q56_null_scalars", (s, dir) =>
      t(s, dir, "lineitem").selectExpr(
          "l_orderkey", "l_linenumber",
          "greatest(l_quantity, l_discount * 100) AS g",
          "least(l_quantity, l_extendedprice / 1000) AS l",
          "coalesce(nullif(l_returnflag, 'N'), 'none') AS rf")
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber,
        |  greatest(l_quantity, l_discount * 100) AS g,
        |  least(l_quantity, l_extendedprice / 1000) AS l,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS rf
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Bounded-heap top-k per group (the custom mergeable Aggregator):
    // top-3 events per user by value, gated against DuckDB's
    // window-rank formulation — proves the O(k)-state operator exact.
    Gate("q57_topk_per_group", (s, dir) =>
      graft.ops.TopK.topKPerGroup(t(s, dir, "events"),
          Seq("user_id"), "value", "event_id", 3)
        .orderBy("user_id", "rank"),
      """SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT user_id, event_id, value,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY value DESC, event_id) AS rn
        |      FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rank""".stripMargin),

    // The one-shuffle window rewrite of q08's agg-join-back (the
    // rewrite the reference notebook itself discovers in cell 14),
    // gated against DuckDB's windowed SQL form.
    Gate("q59_group_attach_window", (s, dir) => {
      val daily = dailyReturns(s, dir).withColumn("year_week", yearWeek(col("mdate")))
      graft.ops.Returns.attachGroupAggWindowed(daily,
          Seq("fund_id", "rtype", "year_week"), c => sum(c), "r", "weekly_sum")
        .withColumn("weekly_sum", round(col("weekly_sum"), 9))
        .select(col("event_id"), col("fund_id"), col("rtype"),
          col("year_week"), col("weekly_sum"))
        .orderBy("event_id")
    },
      s"""WITH daily AS (
         |  SELECT event_id, fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week, r
         |  FROM ($dailyReturnsSql)
         |)
         |SELECT event_id, fund_id, rtype, year_week,
         |  ROUND(SUM(r) OVER (PARTITION BY fund_id, rtype, year_week), 9)
         |    AS weekly_sum
         |FROM daily ORDER BY event_id""".stripMargin),

    // Recursive CTE (Spark 4 WITH RECURSIVE): the date-spine pattern —
    // generate the full day range between min and max event dates
    // recursively, then left-join daily counts so gap days surface as
    // zeros instead of silently missing rows.
    Gate("q61_recursive_spine", (s, dir) => {
      val ev = uniqueView(t(s, dir, "events"), "graft_events")
      s.sql(
        s"""WITH RECURSIVE bounds AS (
           |  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
           |  FROM $ev
           |), spine(d, hi) AS (
           |  -- carry hi THROUGH the recursion: referencing the bounds
           |  -- CTE inside the recursive step would rescan the events
           |  -- aggregate once per iteration
           |  SELECT lo, hi FROM bounds
           |  UNION ALL
           |  SELECT CAST(d + INTERVAL 1 DAY AS DATE), hi FROM spine
           |  WHERE d < hi
           |), daily AS (
           |  SELECT CAST(ts AS DATE) AS d2, COUNT(1) AS n
           |  FROM $ev GROUP BY 1
           |)
           |SELECT d, COALESCE(n, 0) AS n
           |FROM spine LEFT JOIN daily ON d = d2
           |ORDER BY d""".stripMargin)
    },
      """WITH RECURSIVE bounds AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
        |  FROM events
        |), spine(d, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT CAST(d + INTERVAL 1 DAY AS DATE), hi FROM spine
        |  WHERE d < hi
        |), daily AS (
        |  SELECT CAST(ts AS DATE) AS d2, COUNT(1) AS n
        |  FROM events GROUP BY 1
        |)
        |SELECT d, COALESCE(n, 0) AS n
        |FROM spine LEFT JOIN daily ON d = d2
        |ORDER BY d""".stripMargin),

    // Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    // multiplicities preserved, unlike q33's set-semantics forms.
    Gate("q63_setops_all", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      clicks.intersectAll(views).withColumn("kind", lit("both"))
        .unionByName(clicks.exceptAll(views).withColumn("kind", lit("click_only")))
        .orderBy("kind", "user_id", "d")
    },
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'view'
        |)
        |SELECT user_id, d, 'both' AS kind FROM clicks
        |INTERSECT ALL SELECT user_id, d, 'both' FROM views
        |UNION ALL
        |(SELECT user_id, d, 'click_only' AS kind FROM clicks
        | EXCEPT ALL SELECT user_id, d, 'click_only' FROM views)
        |ORDER BY kind, user_id, d""".stripMargin),

    // Correlated LATERAL subquery: top-2 customers by balance PER
    // nation, expressed as a lateral per-row subquery (Catalyst
    // decorrelates to a ranked join — never a per-row execution).
    Gate("q62_lateral", (s, dir) => {
      val nv = uniqueView(t(s, dir, "nation"), "graft_nation")
      val cv = uniqueView(t(s, dir, "customer"), "graft_customer")
      s.sql(
        s"""SELECT n_name, c.c_name, c.c_acctbal
           |FROM $nv, LATERAL (
           |  SELECT c_name, c_acctbal FROM $cv
           |  WHERE c_nationkey = n_nationkey
           |  ORDER BY c_acctbal DESC, c_name LIMIT 2
           |) AS c
           |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)
    },
      """SELECT n_name, c.c_name, c.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2
        |) AS c
        |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin),

    // Semi-structured VARIANT path (Spark 4 parse_json/variant_get —
    // the engine-native binary JSON encoding, not string re-parsing
    // per access): extract + filter on a variant field.
    Gate("q60_variant", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "long").as("k"))
        .where(col("k") % 7 === 0)
        .orderBy("event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
        |ORDER BY event_id""".stripMargin),

    // Time-RANGE window frame: rolling 1-hour trailing sum per user
    // (RANGE bounds on epoch micros — peers with equal ts aggregate
    // identically in both engines, unlike ROWS frames).
    Gate("q58_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
        .withColumn("roll_1h", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("roll_1h"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS roll_1h
        |FROM events ORDER BY event_id""".stripMargin),

    // UNPIVOT (wide -> long): lineitem measures melt into
    // (metric, value) rows - the native unpivot API, no union-of-selects.
    Gate("q109_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 97 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity").cast("double").as("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      """WITH src AS (
        |  SELECT * FROM lineitem WHERE l_orderkey % 97 = 0
        |)
        |SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |         CAST(l_quantity AS DOUBLE) AS value FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
        |)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),

    // Array higher-order-function pack: filter/transform/sort/slice
    // lambdas stay narrow per-row expressions (no explode round-trip).
    Gate("q102_hof_pack", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("__w"))
        .select(col("doc_id"),
          size(filter(col("__w"), w => length(w) > 4)).as("n_long"),
          concat_ws(",", slice(array_sort(array_distinct(
            transform(filter(col("__w"), w => length(w) > 4), w => upper(w)))),
            1, 5)).as("top5_long"),
          size(filter(col("__w"), w => w.rlike("^[0-9]+$"))).as("n_numeric"),
          round(aggregate(transform(col("__w"),
              w => length(w).cast("double")),
            lit(0.0), (acc, x) => acc + x,
            acc => acc / size(col("__w"))), 6).as("mean_len"))
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT)
        |    AS n_long,
        |  array_to_string(list_slice(list_sort(list_distinct(
        |    list_transform(list_filter(w, x -> length(x) > 4),
        |      x -> upper(x)))), 1, 5), ',') AS top5_long,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$')))
        |    AS BIGINT) AS n_numeric,
        |  ROUND(list_reduce(list_transform(w,
        |      x -> CAST(length(x) AS DOUBLE)), (a, b) -> a + b)
        |    / len(w), 6) AS mean_len
        |FROM t ORDER BY doc_id""".stripMargin),

    // The reference's ACTUAL calendar business case (its notebook loads
    // a real market calendar whose holiday flags drive the working-day
    // filter — not the Mon–Fri reconstruction): q01's weekly compound
    // against a LOADED CSV calendar with two planted mid-week holidays
    // (Mon 2024-01-15, Wed 2024-01-24). Returns on holiday dates must
    // drop out of their week's compound on both engines; the oracle
    // reads the SAME CSV. Exercises Calendar.load's real-CSV path
    // (schema normalization + preserved holiday flags) end-to-end.
    Gate("q155_holiday_calendar", (s, dir) => {
      if (!Files.isRegularFile(Paths.get(marketCalendar)))
        throw new java.io.FileNotFoundException(
          s"q155 market calendar fixture missing: $marketCalendar")
      val cal = Calendar.load(s, marketCalendar)
      val daily = Calendar.filterWorkingDays(dailyReturns(s, dir), "mdate", cal)
      Returns.weeklyReturns(daily, "fund_id", "rtype", "mdate", "r")
        .withColumn("weekly_return", round(col("weekly_return"), 6))
        .orderBy("fund_id", "rtype", "year_week")
    },
      s"""WITH cal AS (
         |  SELECT * FROM read_csv('$marketCalendar',
         |                         header = true)
         |), daily AS ($dailyReturnsSql)
         |SELECT fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week,
         |       ROUND(EXP(SUM(LN(1 + r))) - 1, 6) AS weekly_return
         |FROM daily JOIN cal ON daily.mdate = cal."date"
         |WHERE cal.is_working_day
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q5-shaped star join (local-supplier revenue by nation for
    // one region-year): the canonical OLAP plan — filters pushed to
    // the scans, dimensions broadcast, one fact-side shuffle pair.
    Gate("q227_star_join", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA"
          && to_date(col("o_orderdate")) >= lit("1996-01-01").cast("date")
          && to_date(col("o_orderdate")) < lit("1997-01-01").cast("date"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name")),
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin),

    // TPC-H Q10-shaped returned-item report: top-20 customers by
    // revenue lost to returns in a quarter — the classic
    // TakeOrderedAndProject plan over a fact-side shuffle pair with a
    // broadcast nation dim.
    Gate("q231_returned_topn", (s, dir) =>
      t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(to_date(col("o_orderdate")) >= lit("1996-01-01").cast("date")
          && to_date(col("o_orderdate")) < lit("1996-07-01").cast("date"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      """SELECT c_custkey, c_name, n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q18 shape (large-volume orders): the HAVING-subquery
    // join-back - aggregate the fact, filter the aggregate, then
    // rejoin the fact+dims; the per-orderkey agg and the
    // orders-lineitem join share their shuffle key.
    Gate("q246_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 200)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """WITH big AS (
        |  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 200
        |)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
        |  sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
  )
}
