package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for every left row, the right row
  * "effective at" the left timestamp within the same entity keys — the
  * time-series join the reference's market-data domain implies
  * (prices/rates effective at trade time).
  *
  * Spark-first formulation (no custom SparkPlan needed): union both
  * sides tagged, one window pass per entity ordered by
  * (ts, side-tag), and `last(struct, ignoreNulls)` carries the latest
  * right row forward onto each left row. Cost: ONE shuffle on the
  * entity keys + one sort per direction — same as any window; never a
  * range cross-product, which is the scale trap for this operator.
  *
  * The carried value is a single STRUCT of (right ts, payload...), so a
  * left row always receives one atomic right row — carrying columns
  * independently would let `ignoreNulls` mix payload values from
  * different right rows when some payload columns are null.
  *
  * Options (mirroring the DuckDB/pandas ASOF surface):
  *  - `direction`: "backward" (default; latest rightTs <= leftTs),
  *    "forward" (earliest rightTs >= leftTs), "nearest" (closer of the
  *    two, ties to backward). Both bounds inclusive.
  *  - `tolerance`: optional max distance (an interval Column for
  *    timestamp keys, numeric for numeric keys); matches farther than
  *    this yield nulls.
  *  - `rightTieBreak`: right-side column deciding which row wins among
  *    right rows sharing the same (keys, ts) — the GREATEST value wins,
  *    in either direction. Without it, equal-ts right-row ties are
  *    nondeterministic across partitionings/runs.
  *
  * Columns of `right` other than keys/ts must be disjoint from `left`'s.
  */
object AsOf {

  def joinAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      direction: String = "backward",
      tolerance: Option[Column] = None,
      rightTieBreak: Option[String] = None): DataFrame = {
    require(payload.nonEmpty, "as-of join needs right payload columns")
    require(payload.forall(c => !left.columns.contains(c)),
      s"right payload ${payload.mkString(",")} collides with left columns")
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")

    // right rows become (keys, ts, __tie, __r = struct(__rts, payload...));
    // left rows carry __r = null
    val rStruct = struct(
      (col(rightTs).as("__rts") +: payload.map(col)): _*)
    val rAligned = right.select(
      keys.map(col) ++ Seq(col(rightTs).as(leftTs),
        rightTieBreak.map(col).getOrElse(lit(0)).as("__tie"),
        rStruct.as("__r")): _*)
      .withColumn("__k", lit(0))
    val lTagged = left
      .withColumn("__tie", lit(null).cast(rAligned.schema("__tie").dataType))
      .withColumn("__r", lit(null).cast(rAligned.schema("__r").dataType))
      .withColumn("__k", lit(1))
    val u = lTagged.unionByName(rAligned, allowMissingColumns = true)

    // At equal ts the side-tag orders right (0) before left (1) →
    // inclusive bounds; among equal-ts right rows the tie column orders
    // last-wins = greatest-tie-wins in both directions.
    def carry(descTs: Boolean): Column = {
      val ord =
        if (descTs) Seq(col(leftTs).desc, col("__k"), col("__tie"))
        else Seq(col(leftTs), col("__k"), col("__tie"))
      val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      last(col("__r"), ignoreNulls = true).over(w)
    }

    def within(diff: Column): Column =
      tolerance.map(t => diff <= t).getOrElse(lit(true))

    val withPick = direction match {
      case "backward" =>
        u.withColumn("__b", carry(descTs = false))
          .withColumn("__pick",
            when(col("__b").isNotNull
              && within(col(leftTs) - col("__b.__rts")), col("__b")))
      case "forward" =>
        u.withColumn("__f", carry(descTs = true))
          .withColumn("__pick",
            when(col("__f").isNotNull
              && within(col("__f.__rts") - col(leftTs)), col("__f")))
      case "nearest" =>
        // two sorted window passes over ONE hash exchange (same
        // partitioning; Catalyst reuses the shuffle, adds a re-sort)
        val bValid = col("__b").isNotNull &&
          within(col(leftTs) - col("__b.__rts"))
        val fValid = col("__f").isNotNull &&
          within(col("__f.__rts") - col(leftTs))
        u.withColumn("__b", carry(descTs = false))
          .withColumn("__f", carry(descTs = true))
          .withColumn("__pick",
            when(bValid && fValid,
              when(col(leftTs) - col("__b.__rts")
                <= col("__f.__rts") - col(leftTs), col("__b"))
                .otherwise(col("__f")))
              .when(bValid, col("__b"))
              .when(fValid, col("__f")))
    }
    val unpacked = payload.foldLeft(withPick) { (df, c) =>
      df.withColumn(c, col(s"__pick.$c"))
    }
    unpacked.where(col("__k") === 1)
      .drop("__k", "__tie", "__r", "__b", "__f", "__pick")
  }

  /** NATIVE backward as-of join — plans
    * [[graft.plans.SortMergeAsOfJoinExec]] (custom LogicalPlan +
    * Strategy + SparkPlan) instead of the union-window formulation:
    * each side shuffles once on its own keys, sorts by (keys, ts),
    * and a merge scan holds exactly ONE right row of state per key.
    * Prefer this when the right payload is wide (the composed form
    * carries it as structs through the union's sort) or when either
    * side is already bucketed/sorted on the keys (EnsureRequirements
    * then skips the exchange entirely). Backward + inclusive +
    * LEFT-outer only; the composed [[joinAsOf]] keeps the full
    * direction/tolerance surface. Right-side column names must be
    * disjoint from the left's (like [[joinAsOf]]). The strategy that
    * plans it is one of graft's extensions, so `left` must come from a
    * session [[graft.GraftSession]] built or opened. */
  def joinAsOfNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      rightTieBreak: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = left.sparkSession
    require(graft.GraftExtensions.registeredOn(spark),
      "joinAsOfNative needs graft's AsOfJoinStrategy: build the session " +
        "with GraftSession.create or open it with GraftSession.child")
    val lp = Bridge.analyzedPlan(left)
    // fresh exprIds on the right so self-joins (left and right derived
    // from one source) cannot alias the same attributes — the dedup
    // the analyzer does for Join, done here at construction
    val rp = Bridge.analyzedPlan(
      right.select(right.columns.map(c => col(c).as(c)).toIndexedSeq: _*))
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${p.output}"))
    val node = graft.plans.AsOfJoin(lp, rp,
      keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, leftTs), attr(rp, rightTs),
      rightTieBreak.map(attr(rp, _)).toSeq,
      payload.map(attr(rp, _)))
    Bridge.ofRows(spark, node)
  }

  /** BROADCAST backward as-of join — ZERO shuffle (and zero sort) of
    * the left/fact side, the right plan for the 100 TB case where the
    * right side is a small reference table (rates, calendars, config
    * history): the right side packs into one sorted history array per
    * key (`sort_array(collect_list(struct(ts, payload...)))` — a
    * small-side-only shuffle), broadcasts, and each fact row resolves
    * its match with a codegen'd O(log n) binary search
    * ([[graft.expressions.AsOfPick]]) inside the scan's
    * WholeStageCodegen stage. Compare [[joinAsOfNative]] (one shuffle
    * per side — right side too big to broadcast) and [[joinAsOf]]
    * (full direction/tolerance surface).
    *
    * Semantics: backward, inclusive, LEFT-outer — identical to
    * [[joinAsOfNative]]; among equal-ts right rows the greatest
    * (ts, payload...) struct wins (supply unique (keys, ts) on the
    * right for deterministic results, as with any as-of form).
    * NULL right timestamps are dropped (they can never be effective);
    * payload names must be disjoint from the left's columns. Memory:
    * each key's FULL history lives in one broadcast row — this is the
    * small-dimension path by contract. */
  def joinAsOfBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "need at least one payload column")
    val hist = right.where(col(rightTs).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(rightTs).as("__t") +: payload.map(col): _*))).as("__hist"))
    val picked = left.join(broadcast(hist), keys, "left")
      .withColumn("__pick",
        graft.expressions.AsOfPick(col("__hist"), col(leftTs)))
    payload.foldLeft(picked) { (d, c) =>
      d.withColumn(c, col("__pick").getField(c))
    }.drop("__hist", "__pick")
  }
}
