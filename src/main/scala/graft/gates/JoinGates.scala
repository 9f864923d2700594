package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, GraftSession}
import graft.gates.Shared.t

/** Temporal, range and skew-aware joins: the as-of joins (backward,
  * forward, nearest, native and broadcast), range and interval-overlap
  * joins in operator and optimizer-rule form, salted skew joins and the
  * bloom semi-join. */
object JoinGates {

  val all: Seq[Gate] = Seq(

    // As-of join: each event priced at the latest per-user "rate"
    // update at or before its timestamp (rates = first event per
    // user-day). One shuffle + window — never a range cross-product;
    // DuckDB verifies with its native ASOF JOIN operator.
    Gate("q31_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"), col("value").as("rate"))
      graft.ops.AsOf.joinAsOf(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    },
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |ORDER BY e.event_id""".stripMargin),

    // Bucketed range join: events inside per-user 2-hour windows. The
    // range predicate becomes an equi-join on (user_id, time bucket) +
    // an exact residual filter — never the BroadcastNestedLoop plan a
    // bare inequality join would produce (the 100 TB trap).
    Gate("q52_range_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val wins = ev.withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_id").as("win_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) + lit(2L * 3600 * 1000000)).as("w_end"))
      val pts = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("pt"))
      graft.ops.RangeJoin.pointInInterval(pts, wins, Seq("user_id"),
          "pt", "w_start", "w_end", bucketWidth = 2L * 3600 * 1000000)
        .select(col("win_id"), col("event_id"))
        .orderBy("win_id", "event_id")
    },
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS w_start,
        |         epoch_us(ts) + 7200000000 AS w_end
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT w.win_id, e.event_id
        |FROM events e JOIN wins w
        |  ON e.user_id = w.user_id AND epoch_us(e.ts) >= w.w_start
        | AND epoch_us(e.ts) <= w.w_end
        |ORDER BY 1, 2""".stripMargin),

    // Bucketed interval-overlap join: overlapping per-user 20-hour
    // windows; each pair emitted from exactly one bucket (the later
    // start's) so no dedup shuffle is needed.
    Gate("q53_interval_overlap", (s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val len = 20L * 3600 * 1000000
      val wins = ev.withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_id").as("win_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + lit(len)).as("e"))
      val a = wins.select(col("user_id"), col("win_id").as("win_a"),
        col("s").as("sa"), col("e").as("ea"))
      val b = wins.select(col("user_id"), col("win_id").as("win_b"),
        col("s").as("sb"), col("e").as("eb"))
      graft.ops.RangeJoin.intervalOverlap(a, b, Seq("user_id"),
          "sa", "ea", "sb", "eb", bucketWidth = len)
        .where(col("win_a") < col("win_b"))
        .select(col("win_a"), col("win_b"))
        .orderBy("win_a", "win_b")
    },
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 72000000000 AS e
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT a.win_id AS win_a, b.win_id AS win_b
        |FROM wins a JOIN wins b
        |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
        | AND a.win_id < b.win_id
        |ORDER BY 1, 2""".stripMargin),

    // Forward as-of join: each event matched to the EARLIEST rate
    // update at or after its timestamp (left semantics — unmatched
    // events keep null). DuckDB verifies with ASOF LEFT JOIN >=.
    Gate("q51_asof_forward", (s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"), col("value").as("rate"))
      graft.ops.AsOf.joinAsOf(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"),
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    },
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF LEFT JOIN rates r ON e.user_id = r.user_id AND r.upd_ts >= e.ts
        |ORDER BY e.event_id""".stripMargin),

    // As-of NEAREST: closer of the backward/forward effective rows,
    // ties to backward — completes the q31/q51 direction matrix. Same
    // one-shuffle union+window shape; DuckDB cross-validates with two
    // ASOF joins + an interval comparison (a different algorithm).
    Gate("q111_asof_nearest", (s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"), col("value").as("rate"))
      graft.ops.AsOf.joinAsOf(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"),
          direction = "nearest")
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    },
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |), b AS (
        |  SELECT e.event_id, e.user_id, e.ts, r.upd_ts AS bts, r.rate AS brate
        |  FROM events e
        |  ASOF LEFT JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |), f AS (
        |  SELECT e.event_id, r.upd_ts AS fts, r.rate AS frate
        |  FROM events e
        |  ASOF LEFT JOIN rates r ON e.user_id = r.user_id AND r.upd_ts >= e.ts
        |)
        |SELECT b.event_id, b.user_id,
        |  CASE WHEN bts IS NOT NULL AND fts IS NOT NULL THEN
        |         CASE WHEN (ts - bts) <= (fts - ts) THEN brate ELSE frate END
        |       WHEN bts IS NOT NULL THEN brate ELSE frate END AS rate
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin),

    // Salted two-phase aggregation over a pathologically hot key set
    // (3 return flags across all of lineitem): each key splits over 32
    // content-derived salt buckets before the final re-aggregation, so
    // no single reducer owns a whole hot key — gated equal to the
    // plain one-phase GROUP BY it replaces.
    Gate("q117_skew_salted", (s, dir) =>
      graft.ops.Skew.saltedAgg(t(s, dir, "lineitem"), Seq("l_returnflag"),
          col("l_orderkey"), buckets = 32,
          Map(
            "n" -> (((c: org.apache.spark.sql.Column) => count(c),
              (c: org.apache.spark.sql.Column) => sum(c))),
            "sum_qty" -> (((c: org.apache.spark.sql.Column) => sum(c),
              (c: org.apache.spark.sql.Column) => sum(c)))),
          "l_quantity")
        .select(col("l_returnflag"), col("n"),
          round(col("sum_qty"), 4).as("sum_qty"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, COUNT(1) AS n,
        |       ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // The q52 range join expressed as PLAIN declarative SQL — no
    // RangeJoin call: the BucketedRangeJoin optimizer rule rewrites
    // the inequality join into the bucketed equi-join automatically
    // (width conf = the window length). Runs in a child session so
    // the rule's width conf cannot leak into other queries' plans;
    // RangeJoinSpec asserts the rewritten plan shape (Generate +
    // hash join, no nested loop).
    Gate("q143_rule_range_join", (s, dir) => {
      val s2 = GraftSession.child(s,
        graft.rules.BucketedRangeJoin.WidthConf -> (2L * 3600 * 1000000).toString)
      GraftExtensions.register(s2)
      t(s2, dir, "events").createOrReplaceTempView("rr_events")
      s2.sql(
        """WITH wins AS (
          |  SELECT user_id, event_id AS win_id, unix_micros(ts) AS w_start,
          |         unix_micros(ts) + 7200000000 AS w_end
          |  FROM (SELECT user_id, ts, event_id,
          |          ROW_NUMBER() OVER (PARTITION BY user_id, to_date(ts)
          |                             ORDER BY ts, event_id) AS rn
          |        FROM rr_events) WHERE rn = 1
          |)
          |SELECT w.win_id, e.event_id
          |FROM rr_events e JOIN wins w
          |  ON e.user_id = w.user_id AND unix_micros(e.ts) >= w.w_start
          | AND unix_micros(e.ts) <= w.w_end
          |ORDER BY 1, 2""".stripMargin)
    },
      // identical computation to q52's oracle: the gate proves the
      // rule-rewritten plain-SQL join returns the same rows
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS w_start,
        |         epoch_us(ts) + 7200000000 AS w_end
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT w.win_id, e.event_id
        |FROM events e JOIN wins w
        |  ON e.user_id = w.user_id AND epoch_us(e.ts) >= w.w_start
        | AND epoch_us(e.ts) <= w.w_end
        |ORDER BY 1, 2""".stripMargin),

    // The q53 interval-overlap join as PLAIN SQL, auto-rewritten by
    // BucketedRangeJoin's overlap pattern (both sides explode onto
    // covering buckets; each pair emits only from the later start's
    // bucket — no dedup shuffle).
    Gate("q144_rule_interval_overlap", (s, dir) => {
      val s2 = GraftSession.child(s,
        graft.rules.BucketedRangeJoin.WidthConf -> (20L * 3600 * 1000000).toString)
      GraftExtensions.register(s2)
      t(s2, dir, "events").createOrReplaceTempView("ro_events")
      s2.sql(
        """WITH wins AS (
          |  SELECT user_id, event_id AS win_id, unix_micros(ts) AS s,
          |         unix_micros(ts) + 72000000000 AS e
          |  FROM (SELECT user_id, ts, event_id,
          |          ROW_NUMBER() OVER (PARTITION BY user_id, to_date(ts)
          |                             ORDER BY ts, event_id) AS rn
          |        FROM ro_events) WHERE rn = 1
          |)
          |SELECT a.win_id AS win_a, b.win_id AS win_b
          |FROM wins a JOIN wins b
          |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
          | AND a.win_id < b.win_id
          |ORDER BY 1, 2""".stripMargin)
    },
      // identical computation to q53's oracle: the overlap rewrite must
      // return the same pairs as the explicit bucketed operator
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 72000000000 AS e
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT a.win_id AS win_a, b.win_id AS win_b
        |FROM wins a JOIN wins b
        |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
        | AND a.win_id < b.win_id
        |ORDER BY 1, 2""".stripMargin),

    // Hot-key join under MANUAL salting: every lineitem row hits one of
    // THREE join keys (l_returnflag) — the maximal-skew shape where a
    // plain shuffle join puts a third of the fact on one reducer.
    // Skew.saltedJoin splits each hot key across 8 content-derived
    // salt buckets and replicates the (broadcast-small) dim per
    // bucket; the oracle is the PLAIN join — salting must be invisible
    // in the result. Integer-valued weights/quantities keep the sum
    // exact in double, so the gate is order-independent. (The AQE
    // runtime skew-split alternative is plan-asserted in
    // PlanQualitySpec on the same shape.)
    Gate("q152_skew_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").as("qty"), col("l_orderkey"))
      val dim = s.createDataFrame(Seq(("A", 2L), ("N", 3L), ("R", 5L)))
        .toDF("flag", "weight")
      graft.ops.Skew.saltedJoin(li, dim, "flag", buckets = 8,
          saltOn = col("l_orderkey"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"),
          sum(col("qty") * col("weight")).as("weighted"))
        .orderBy("flag")
    },
      """WITH dim(flag, weight) AS (VALUES ('A', 2), ('N', 3), ('R', 5))
        |SELECT l.l_returnflag AS flag, COUNT(1) AS n,
        |  SUM(l.l_quantity * d.weight) AS weighted
        |FROM lineitem l JOIN dim d ON l.l_returnflag = d.flag
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bloom-reduced EXACT semi-join (semi-join reduction): lineitem
    // rows for urgent-1995 orders. The 64Kbit filter over the build
    // keys screens the fact side in a NARROW pre-filter (no probe
    // shuffle for the dropped rows); the exact LEFT SEMI join then
    // removes the bounded false positives, so the result is
    // indistinguishable from the plain semi-join the oracle runs.
    // The scale story: at large-large joins the bloom's bits travel
    // as a literal while the dropped fact bytes never cross the wire.
    Gate("q185_bloom_semijoin", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1995)
      graft.ops.Approx.bloomReducedSemiJoin(li, "l_orderkey", urgent,
          "o_orderkey", numBits = 1 << 16, numHashes = 5)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      // the bloom pre-filter must be invisible in the result: plain
      // semi-join semantics
      """SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND year(o_orderdate) = 1995)
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // NATIVE as-of join — q31's exact semantics through the custom
    // LogicalPlan + Strategy + SortMergeAsOfJoinExec instead of the
    // union-window formulation: one shuffle per side, merge scan with
    // ONE retained right row of state per key. Same DuckDB ASOF JOIN
    // oracle; the two formulations must be indistinguishable.
    Gate("q193_asof_native", (s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"),
          col("value").as("rate"))
      graft.ops.AsOf.joinAsOfNative(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    },
      // q31's oracle verbatim — the native physical operator must be
      // indistinguishable from the composed form
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |ORDER BY e.event_id""".stripMargin),

    // BROADCAST as-of join — q31's semantics a third way: the rates
    // side packs into per-key sorted history arrays and broadcasts;
    // each fact row binary-searches (AsOfPick, codegen'd) inside the
    // scan stage. The fact side is never shuffled or sorted — the
    // 100 TB plan when the right side is a small reference table.
    // Same DuckDB ASOF JOIN oracle as q31/q193.
    Gate("q200_asof_broadcast", (s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"),
          col("value").as("rate"))
      graft.ops.AsOf.joinAsOfBroadcast(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    },
      // q31's oracle verbatim — broadcast + binary-search formulation
      // must be indistinguishable from the composed and native forms
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |ORDER BY e.event_id""".stripMargin)
  )
}
