package graft

import org.apache.spark.sql.functions._

import graft.etl.Mv

class MvSpec extends SparkSpec {
  import spark.implicits._

  private def factDir(): String = {
    val dir = graft.etl.Scratch.dir("mvfact")
    (1 to 5000).map(i => (s"g${i % 7}", i.toLong, i * 0.5))
      .toDF("g", "k", "v").write.mode("overwrite").parquet(dir)
    dir
  }

  private def aggOf(dir: String) =
    spark.read.parquet(dir).groupBy("g")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))

  test("a registered aggregate is substituted: plan reads the MV, not the fact") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    // the SAME aggregation, rebuilt independently, with post-processing
    val q = aggOf(dir).where(col("n") > 0).orderBy("g")
    // optimizedPlan prints relations without paths; the executed plan's
    // FileScan shows the location — and the Aggregate must be GONE
    assert(!q.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"rewrite did not fire:\n${q.queryExecution.optimizedPlan}")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains(new java.io.File(mvPath).getName),
      s"MV not scanned:\n$physical")
    assert(!physical.contains(new java.io.File(dir).getName),
      s"fact table still scanned:\n$physical")
    val got = q.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getLong(2)))
    val want = (1 to 5000).map(i => (s"g${i % 7}", i * 0.5))
      .groupBy(_._1).map { case (g, xs) =>
        (g, xs.map(_._2).sum, xs.size.toLong) }.toSeq.sortBy(_._1)
    got.zip(want).foreach { case ((gg, gs, gn), (wg, ws, wn)) =>
      assert(gg == wg && gn == wn && math.abs(gs - ws) < 1e-6)
    }
    Mv.clear()
  }

  test("a structurally different aggregate does NOT match") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    // different aggregate list -> different fingerprint -> no rewrite
    val other = spark.read.parquet(dir).groupBy("g")
      .agg(max("v").as("mv"), count(lit(1)).as("n"))
    val plan = other.queryExecution.optimizedPlan.toString
    assert(plan.contains("Aggregate"), plan)
    // different source files -> no rewrite either
    val dir2 = factDir()
    val p2 = aggOf(dir2).queryExecution.optimizedPlan.toString
    assert(p2.contains("Aggregate"), p2)
    // a PRE-aggregation filter changes the subtree -> no rewrite
    // (reading the MV there would silently include the filtered rows)
    val filtered = spark.read.parquet(dir).where(col("k") > 100L)
      .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    val p3 = filtered.queryExecution.optimizedPlan.toString
    assert(p3.contains("Aggregate"), p3)
    assert(filtered.agg(sum("n")).head().getLong(0) == 4900L)
    Mv.clear()
  }

  test("entries self-evict when the backing files are swept") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    graft.etl.Scratch.remove(mvPath)
    Mv.prune()
    val plan = aggOf(dir).queryExecution.optimizedPlan.toString
    assert(plan.contains("Aggregate"), plan)
    // and the un-rewritten query still answers from the fact table
    assert(aggOf(dir).count() == 7)
    Mv.clear()
  }

  test("files appended to the SAME base directory defeat the rewrite (staleness guard)") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    // sanity: before the append, the rewrite fires
    assert(!aggOf(dir).queryExecution.optimizedPlan.toString
      .contains("Aggregate"))
    // append rows IN PLACE — same root path, new files: the snapshot
    // fingerprint must miss, and the query must see the new rows
    Seq(("g9", 9999L, 1.25)).toDF("g", "k", "v")
      .write.mode("append").parquet(dir)
    val q = aggOf(dir)
    assert(q.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"stale MV served after same-dir append:\n${q.queryExecution.optimizedPlan}")
    assert(q.count() == 8) // g0..g6 plus the appended g9
    Mv.clear()
  }

  test("registrations are session-scoped: a sibling session does not rewrite") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    val s2 = GraftSession.child(spark)
    val q2 = s2.read.parquet(dir).groupBy("g")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    assert(q2.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"MV leaked across sessions:\n${q2.queryExecution.optimizedPlan}")
    // while the registering session still rewrites
    assert(!aggOf(dir).queryExecution.optimizedPlan.toString
      .contains("Aggregate"))
    Mv.clear()
  }

  test("MaintainedMv: incremental refresh re-points the rewrite after a base append") {
    import graft.etl.MaintainedMv
    GraftExtensions.register(spark)
    Mv.clear()
    val base = graft.etl.Scratch.dir("mmvbase")
    val state = graft.etl.Scratch.dir("mmvstate")
    val mv = graft.etl.Scratch.dir("mmvmv")
    (1 to 1000).map(i => (s"g${i % 3}", i * 1.0)).toDF("g", "v")
      .write.mode("overwrite").parquet(base)
    MaintainedMv.create(spark, base, Seq("g"), "v", state, mv, nBuckets = 4)
    val q1 = MaintainedMv.viewOf(spark, base, Seq("g"), "v")
    assert(!q1.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"rewrite did not fire after create:\n${q1.queryExecution.optimizedPlan}")
    assert(q1.agg(sum("n")).head().getLong(0) == 1000L)
    // ingest a delta: the state absorbs it incrementally and the
    // NEW base snapshot's fingerprint takes over
    MaintainedMv.ingestAndRefresh(spark, base,
      Seq(("g0", 10000.0), ("g3", 1.5)).toDF("g", "v"),
      Seq("g"), "v", state, mv, nBuckets = 4)
    val q2 = MaintainedMv.viewOf(spark, base, Seq("g"), "v")
    assert(!q2.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"rewrite did not fire after refresh:\n${q2.queryExecution.optimizedPlan}")
    val rows = q2.orderBy("g").collect()
    assert(rows.length == 4) // g3 arrived with the delta
    assert(rows.map(_.getLong(1)).sum == 1002L)
    val g0 = rows(0)
    assert(g0.getDouble(4) == 10000.0, s"delta max not absorbed: $g0")
    // and the physical read is the MV parquet, not the base
    val physical = q2.queryExecution.executedPlan.toString
    assert(physical.contains(new java.io.File(mv).getName), physical)
    assert(!physical.contains(new java.io.File(base).getName), physical)
    Mv.clear()
  }

  test("a reordered / column-subset projection over the view shape still matches") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    // SELECT n, g FROM (registered shape): the optimizer collapses the
    // projection into the Aggregate (reordered subset of outputs) —
    // the rewrite must still fire, with columns remapped
    val q = aggOf(dir).select("n", "g").orderBy("g")
    assert(!q.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"projection-over-view did not rewrite:\n${q.queryExecution.optimizedPlan}")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains(new java.io.File(mvPath).getName), physical)
    assert(!physical.contains(new java.io.File(dir).getName), physical)
    val got = q.collect().map(r => (r.getLong(0), r.getString(1)))
    val want = (1 to 5000).groupBy(i => s"g${i % 7}").toSeq
      .map { case (g, xs) => (xs.size.toLong, g) }.sortBy(_._2)
    assert(got.toSeq == want, s"remapped values wrong: ${got.toSeq}")
    // dropping a grouping column from the output also matches
    val q2 = aggOf(dir).select("sv")
    assert(!q2.queryExecution.optimizedPlan.toString.contains("Aggregate"))
    assert(math.abs(q2.agg(sum("sv")).head().getDouble(0) -
      (1 to 5000).map(_ * 0.5).sum) < 1e-6)
    // but an expression OVER an aggregate output needs re-computation
    // of nothing — still served? No: collapsed expr over agg misses
    // by design (would need expression remap, not column remap)
    val q3 = aggOf(dir).select((col("n") * 2).as("n2"))
    assert(q3.collect().map(_.getLong(0)).sorted.sameElements(
      (1 to 5000).groupBy(i => i % 7).map(_._2.size.toLong * 2).toArray.sorted))
    Mv.clear()
  }

  test("filters differing only in string LITERALS containing #digits do not match") {
    // regression for the renderByName regex bug: a toString-level
    // #\d+ strip made `g = 'g#1'` and `g = 'g#999'` render identical,
    // so the projected tier could serve a materialization built under
    // a DIFFERENT filter — the exact silent wrong answer the
    // freshness contract forbids
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = graft.etl.Scratch.dir("mvlit")
    (1 to 1000).map(i => (s"g#${i % 5}", i.toLong, i * 0.5))
      .toDF("g", "k", "v").write.mode("overwrite").parquet(dir)
    def aggFor(lit0: String) = spark.read.parquet(dir)
      .where(col("g") === lit0)
      .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggFor("g#1"), mvPath)
    // same shape, different literal: must MISS (and compute correctly)
    val q = aggFor("g#2").select("n", "g")
    assert(q.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"literal-differing filter matched the view:\n" +
        q.queryExecution.optimizedPlan)
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 200L)
    // the view's own literal still hits through the projected tier
    val hit = aggFor("g#1").select("n", "g")
    assert(!hit.queryExecution.optimizedPlan.toString.contains("Aggregate"))
    assert(hit.collect().head.getLong(0) == 200L)
    Mv.clear()
  }

  test("self-join of the base table never takes the projected tier") {
    // both join sides match the view's relation; name-normalized
    // comparison cannot tell them apart, so the ambiguity guard must
    // refuse (relations.size != 1) and the result must stay correct
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    val l = spark.read.parquet(dir)
    val r = spark.read.parquet(dir)
      .select(col("g").as("g2"), col("v").as("v2"))
    val q = l.join(r, col("g") === col("g2"))
      .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    assert(q.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"self-join matched the single-relation view:\n" +
        q.queryExecution.optimizedPlan)
    // n per group = rows^2 / groups... each group g has ~714 rows; the
    // join blows counts up to rows_g^2, never the view's rows_g
    val n = q.where(col("g") === "g0").head().getLong(2)
    val rowsG0 = (1 to 5000).count(_ % 7 == 0).toLong
    assert(n == rowsG0 * rowsG0, s"self-join result wrong: $n")
    Mv.clear()
  }

  test("project-over-project nesting: computed columns match only when identical") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    // view: computed projection (v*2 as w) under the aggregate
    def viewAgg = spark.read.parquet(dir)
      .select(col("g"), (col("v") * 2).as("w"))
      .groupBy("g").agg(sum("w").as("sw"), count(lit(1)).as("n"))
    Mv.register(viewAgg, mvPath)
    // nested projects that COLLAPSE to the same computed column: hit
    // (the candidate must READ sw — a count-only subset lets column
    // pruning drop the computed column and the shapes legitimately
    // differ, a conservative miss)
    val same = spark.read.parquet(dir)
      .select(col("g"), col("v"))
      .select(col("g"), (col("v") * 2).as("w"))
      .groupBy("g").agg(sum("w").as("sw"), count(lit(1)).as("n"))
      .select("sw", "g")
    assert(!same.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"collapsed-identical projection missed:\n" +
        same.queryExecution.optimizedPlan)
    assert(math.abs(same.collect().map(_.getDouble(0)).sum -
      (1 to 5000).map(_ * 1.0).sum) < 1e-6)
    // a DIFFERENT computed column (v*3) must miss even though the
    // aggregate list renders the same shape over 'w'
    val diff = spark.read.parquet(dir)
      .select(col("g"), (col("v") * 3).as("w"))
      .groupBy("g").agg(sum("w").as("sw"), count(lit(1)).as("n"))
      .select("sw", "g")
    assert(diff.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"different computed projection matched:\n" +
        diff.queryExecution.optimizedPlan)
    val swDiff = spark.read.parquet(dir)
      .select(col("g"), (col("v") * 3).as("w"))
      .groupBy("g").agg(sum("w").as("sw")).agg(sum("sw")).head().getDouble(0)
    assert(math.abs(swDiff - (1 to 5000).map(_ * 1.5).sum) < 1e-6)
    Mv.clear()
  }

  test("aggregate aliased to a grouping column's name remaps by expression, not name") {
    // `sum(v) as g` with grouping col g ALSO in the output: positional
    // remap must bind each output to its own expression's column —
    // a name-keyed remap would serve the grouping column twice
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    // candidate: the view shape reordered, with sv renamed to shadow
    // nothing — then the tricky one: output ONLY sum(v), aliased "g"
    val q = spark.read.parquet(dir).groupBy("g")
      .agg(sum("v").as("g2"))
      .select(col("g2").as("g"))
    val rewritten =
      !q.queryExecution.optimizedPlan.toString.contains("Aggregate")
    // whether served from the view (sum(v) IS among its outputs) or
    // recomputed, the VALUES must be the sums, not the group names
    val got = q.collect().map(_.getDouble(0)).sorted
    val want = (1 to 5000).groupBy(i => s"g${i % 7}")
      .map(_._2.map(_ * 0.5).sum).toArray.sorted
    assert(got.length == want.length &&
      got.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-6 },
      s"aliased-to-grouping-name output wrong (rewritten=$rewritten): " +
        got.mkString(","))
    Mv.clear()
  }

  test("duplicate output expressions remap each occurrence correctly") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val mvPath = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), mvPath)
    // SELECT n AS a, n AS b, g: both aliases point at the same view
    // column; the remap must serve both (same index twice is correct)
    val q = aggOf(dir).select(col("n").as("a"), col("n").as("b"), col("g"))
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).sortBy(_._3)
    val want = (1 to 5000).groupBy(i => s"g${i % 7}").toSeq
      .map { case (g, xs) => (xs.size.toLong, xs.size.toLong, g) }
      .sortBy(_._3)
    assert(rows.toSeq == want, s"duplicate-output remap wrong: ${rows.toSeq}")
    Mv.clear()
  }

  test("re-registering the same shape repoints to the new materialization") {
    GraftExtensions.register(spark)
    Mv.clear()
    val dir = factDir()
    val p1 = graft.etl.Scratch.dir("mv")
    val p2 = graft.etl.Scratch.dir("mv")
    Mv.register(aggOf(dir), p1)
    Mv.register(aggOf(dir), p2) // must not route its own write via p1
    val physical = aggOf(dir).queryExecution.executedPlan.toString
    assert(physical.contains(new java.io.File(p2).getName), physical)
    assert(!physical.contains(new java.io.File(p1).getName), physical)
    assert(aggOf(dir).count() == 7)
    Mv.clear()
  }
}
