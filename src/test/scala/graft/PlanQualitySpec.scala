package graft

import org.apache.spark.sql.functions._

/** Plan-shape gate over the whole driver-contract query surface: the
  * properties that decide whether a plan survives 100x data, asserted
  * on every query's executed plan at sf0.001.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  // Brute-force verification primitives that INTENTIONALLY pair a
  // bounded/broadcast side against the corpus (documented in
  // ops.Similarity): the only places a nested-loop join is the plan.
  private val nestedLoopByDesign = Set(
    "q17_ann_cosine",       // bounded query set x corpus
    "q24_embedding_neardup",// all-pairs exact verify primitive
    "q25_ann_ivf",          // 1-row broadcast centroid array + probe set
    "q71_tfidf_keywords",   // 1-row broadcast corpus-count scalar attach
    "q74_bm25",             // 1-row broadcast corpus-stats (N, avgdl) attach
    "q75_semantic_dedup",   // 1-row broadcast centroid array (assignCells)
    "q78_lm_perplexity",    // 1-row broadcast vocab-size scalar attach
    "q79_kmeans",           // 1-row broadcast centroid array (assignment fold)
    "q92_length_deciles",   // 1-row broadcast quantile-cut array attach
    "q94_sparse_cosine",    // 1-row broadcast corpus-count scalar attach
    "q101_histogram",       // 1-row broadcast min/max scalar attach
    "q112_hybrid_rrf",      // 1-row broadcast corpus-stats attach (both legs)
    "q119_pmi",             // 1-row broadcast token/pair-total attach
    "q122_decayed_sum",     // 1-row broadcast reference-instant attach
    "q129_pq_topk",         // bounded query-LUT broadcast x codes (ADC scan)
    "q132_dsir_weights",    // 1-row broadcast corpus-totals attach
    "q134_mixture_sample",  // 1-row broadcast feasible-total attach
    "q136_proto_prune",     // 1-row broadcast centroid array (assignTo fold)
    "q137_hard_negatives",  // bounded anchor batch x corpus (cosineTopK shape)
    "q139_mmr_rerank",      // bounded query set x corpus (pool retrieval)
    "q141_silhouette",      // 1-row broadcast centroid array (two-min fold)
    "q146_label_agreement", // 1-row broadcast chance-agreement attach (κ)
    "q159_hybrid_persisted",// q112's corpus-stats attach over the persisted index
    "q181_kmv_sketch",      // one-row-per-group sketch pairing (5x5 inequality)
    "q185_bloom_semijoin",  // 1-row broadcast bloom-words map attach (r15 single-plan build)
    "q188_cooccurrence",    // 1-row broadcast basket-total attach
    "q198_cuped",           // 1-row broadcast pooled theta/pre-mean attach
    "q201_target_encode",   // 1-row broadcast global-mean attach
    "q207_kneser_ney",      // 1-row broadcast type-total attach (T, V)
    "q210_cusum",           // 1-row broadcast k/h moment attach
    "q224_chi2",            // alphabet-sized marginal cross product (+ 1-row N)
    "q240_brier",           // 1-row broadcast base-rate/total attach
    "q249_rfm",             // three 1-row broadcast quantile-cut array attaches
    "q254_growth_accounting") // 1-row broadcast max-week attach (churn cap)

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!planOf(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("nested-loop joins appear only in the documented brute-force primitives") {
    SparkEntry.queries.keys.filterNot(nestedLoopByDesign).foreach { name =>
      if (name == "q30_stream_window") () // streaming harness, no batch plan claim
      else assert(!planOf(name).contains("BroadcastNestedLoop"),
        s"$name plans a BroadcastNestedLoopJoin")
    }
  }

  test("selective scans push their filters into the parquet reader") {
    // q05: c_mktsegment = 'BUILDING' must reach the scan
    val p = planOf("q05_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(c_mktsegment,BUILDING"), p)
  }

  test("dimension joins broadcast the small side (no fact-side shuffle)") {
    for (name <- Seq("q01_weekly_compound", "q04_grouped_avg_topn",
        "q35_left_outer", "q227_star_join"))
      assert(planOf(name).contains("BroadcastHashJoin"),
        s"$name does not broadcast its dimension side")
  }

  test("global sort+limit plans as TakeOrderedAndProject, not a full sort") {
    assert(planOf("q11_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("per-group top-k never windows the fact table") {
    // TopK.topKPerGroup is a bounded-heap UDAF: k rows per group per
    // partition reach the shuffle via partial aggregation — stronger
    // than a window + rank<=k filter (even with WindowGroupLimit
    // pushdown, the window still sorts within partitions)
    val p = planOf("q57_topk_per_group")
    assert(!p.contains("Window ["), s"q57 must not plan a window\n$p")
    assert(p.contains("partial_topkbyscore") ||
      p.contains("ObjectHashAggregate"), s"q57 must partial-aggregate\n$p")
  }

  test("single-pass aggregations keep partial (map-side) aggregation") {
    // q06 count and q10 grouped agg must show partial_ then final agg
    assert(planOf("q06_count").contains("partial_count"))
    assert(planOf("q10_having_avg").contains("partial_count"))
    // OHLC bars: the min_by/max_by endpoints must also partial-agg
    assert(planOf("q104_ohlc_bars").contains("partial_min_by"))
  }

  test("global percentile rank joins the value table back by broadcast") {
    // percentileRanks must NOT plan a per-row global-order window over
    // the full frame; the join back from the reduced distinct-value
    // frame is a broadcast hash join
    val docs = graft.etl.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val plan = graft.ops.Binning.percentileRanks(docs, "n_chars")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // quantize-first path: the band stats attach by broadcast and the
    // rank table joins back by broadcast — never a per-row global sort
    val qplan = graft.ops.Binning.percentileRanks(docs, "n_chars", Some(64))
      .queryExecution.executedPlan.toString
    assert(qplan.contains("BroadcastHashJoin"), qplan)
    assert(!qplan.contains("CartesianProduct"), qplan)
  }

  // Queries whose plan deliberately carries an ORDER-without-PARTITION
  // window: each ranks a frame that is BOUNDED by construction
  // (distinct values, a vocabulary, aggregated pairs, a codebook), so
  // the single-partition sort is metadata-scale — the documented
  // exception, not the full-fact-table failure mode this gate exists
  // to catch (the q170 distributed rank is the pattern for the
  // unbounded case).
  private val globalWindowByDesign = Set(
    "q100_percentile_rank", // rank over the reduced DISTINCT-value frame
    "q113_interleave",      // deterministic interleave over per-source ranks
    "q119_pmi",             // ranking the aggregated pair table
    "q123_ks_drift",        // global CDF over aggregated distinct values
    "q129_pq_topk",         // codebook ids over the sampled training set
    "q66_token_shards",     // shard ids over the vocabulary table
    "q81_vocab",            // vocabulary ranks (bounded by |vocab|)
    "q82_bpe_pairs",        // merge-pair ranks (bounded by |pair vocab|)
    "q196_epoch_shuffle",   // block offsets over the <=256-row count frame
    "q218_zipf_fit",        // ranks over the top-N vocabulary frame
    "q219_kaplan_meier",    // suffix/product over the DISTINCT-duration frame
    "q221_roc_auc",         // cumulative tp/fp over the DISTINCT-score frame
    "q223_logrank",         // suffix risk sets over the DISTINCT-duration frame
    "q228_heaps_fit",       // block offsets over the 256-docs-per-row frame
    "q239_km_greenwood",    // same DISTINCT-duration frame as q219
    "q208_suffix_ranks",    // dense-pass bucket offsets over the <=256-row frame
    "q248_heavy_hitters",   // final rank over the LIMIT-k candidate frame
    "q253_event_paths")     // final rank over the LIMIT-k path frame

  test("every by-name exemption and headline gate is a registered gate") {
    // an exempted name that no longer exists is a loosened gate nobody sees
    val named = nestedLoopByDesign ++ globalWindowByDesign ++ Bench.headline
    val unknown = named.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not a registered gate: ${unknown.toSeq.sorted}")
  }

  test("order-without-partition windows appear only over bounded-by-design frames") {
    // a Window line prints [funcs], [partition], [order]; the
    // no-partition form has two groups with the second an ordering
    // spec — the single-partition global sort that dies at 100 TB on
    // an unbounded frame
    def hasGlobalWindow(plan: String): Boolean =
      plan.split("\n").filter(_.contains("Window [")).exists { l =>
        val rest = l.substring(l.indexOf("Window [") + "Window ".length)
        val groups = new scala.collection.mutable.ArrayBuffer[String]()
        var depth = 0
        val sb = new StringBuilder
        rest.foreach { c =>
          if (c == '[') { depth += 1; if (depth == 1) sb.clear() else sb += c }
          else if (c == ']') {
            depth -= 1
            if (depth == 0) groups += sb.toString else sb += c
          } else if (depth >= 1) sb += c
        }
        groups.size == 2 &&
          (groups(1).contains(" ASC") || groups(1).contains(" DESC"))
      }
    SparkEntry.queries.keys.filterNot(globalWindowByDesign).foreach { name =>
      assert(!hasGlobalWindow(planOf(name)),
        s"$name plans an order-without-partition window over an " +
          "unbounded frame")
    }
  }

  test("q185's nested-loop exemption broadcasts a provably ONE-ROW build side") {
    // the r15 verdict's tightening: the by-name exemption above must
    // not be able to hide a regression to a fat cross join — walk the
    // executed plan and require every BroadcastNestedLoopJoin's build
    // side to contain a GLOBAL (grouping-key-less) aggregate, which
    // emits exactly one row at ANY scale (stronger than a runtime
    // row-count check on test data)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val df = SparkEntry.queries("q185_bloom_semijoin")(spark, dir)
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case r: ReusedExchangeExec => Seq(r) // child is a reference, not a subtree
      case o => o +: o.children.flatMap(flatten)
    }
    val nljs = flatten(df.queryExecution.executedPlan)
      .collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(nljs.nonEmpty, "q185 no longer plans its one-row stat attach")
    nljs.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case _ => j.right
      }
      val oneRow = flatten(build).exists {
        case h: HashAggregateExec => h.groupingExpressions.isEmpty
        case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
        case s: SortAggregateExec => s.groupingExpressions.isEmpty
        case _ => false
      }
      assert(oneRow,
        s"q185 BNLJ build side is not a global (one-row) aggregate:\n$build")
    }
  }

  test("q08's no-AQE plan is row-identical to the AQE plan (r16 stage cut)") {
    val noAqe = SparkEntry.queries("q08_agg_join_back")(spark, dir)
    assert(!noAqe.queryExecution.executedPlan.toString
      .contains("AdaptiveSparkPlan"), "q08 should plan without AQE by default")
    val aqe = graft.gates.ReferenceGates.q08AggJoinBack(spark, dir)
    assert(aqe.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"))
    val a = noAqe.collect().map(_.toSeq)
    val b = aqe.collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("range join resolves to an equi hash/sort-merge join on the bucket key") {
    val p = planOf("q52_range_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("winsorize/robustOutliers cut joins degrade to shuffled joins at high group cardinality") {
    import spark.implicits._
    // per-group stats frames carry NO broadcast hint: with broadcast
    // unavailable (threshold -1, standing in for "groups exceed the
    // driver's budget") the join must plan as a shuffled hash /
    // sort-merge join — the 100 TB posture — and results must be
    // IDENTICAL to the broadcast-allowed plan
    val hi = (1 to 5000).map(i => (s"g$i", (i % 97).toDouble, i.toLong))
      .toDF("g", "v", "id")
    val want = graft.ops.Binning.winsorize(hi, "g", "v")
      .select("id", "v_w").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val wantOut = graft.ops.Quality.robustOutliers(hi, "g", "v")
      .select("g", "n", "n_outliers").collect().map(_.toSeq).toSet
    val s2 = GraftSession.child(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val hi2 = {
      import s2.implicits._
      (1 to 5000).map(i => (s"g$i", (i % 97).toDouble, i.toLong))
        .toDF("g", "v", "id")
    }
    val win2 = graft.ops.Binning.winsorize(hi2, "g", "v")
    val winPlan = win2.queryExecution.executedPlan.toString
    assert(!winPlan.contains("BroadcastHashJoin"),
      s"winsorize still broadcasts with broadcast disabled:\n$winPlan")
    assert(winPlan.contains("SortMergeJoin") || winPlan.contains("ShuffledHashJoin"),
      winPlan)
    assert(win2.select("id", "v_w").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet == want)
    val out2 = graft.ops.Quality.robustOutliers(hi2, "g", "v")
    val outPlan = out2.queryExecution.executedPlan.toString
    assert(!outPlan.contains("BroadcastHashJoin"), outPlan)
    assert(out2.select("g", "n", "n_outliers").collect().map(_.toSeq).toSet
      == wantOut)
  }

  test("AQE splits the hot-key lineitem shuffle join at sf0.1 (runtime skew path)") {
    // q152's manual-salting twin exercised through AQE's RUNTIME
    // skew-join split instead, on sf0.1 lineitem with the classic
    // hot-default-key shape (every l_partkey >= 100 collapses to key
    // 0 — the "unknown/default id dominates" production skew).
    // Broadcast is disabled so the join must shuffle, and the skew
    // thresholds are lowered to sf0.1 partition sizes, standing in
    // for the 100 TB posture where the hot key exceeds the real
    // 256 MB default. Two findings this test encodes:
    //   - AQE skew detection is RELATIVE (size > factor × median
    //     non-trivial partition): three equally-fat flag partitions
    //     never flag — salting (q152) is the answer for uniform-hot
    //     keys, AQE for imbalanced ones;
    //   - the split regroups MAP-side chunks, so the join shuffle
    //     needs >1 mapper (a single-row-group 15 MB parquet scan is
    //     ONE task at sf0.1 — fan out first; at scale mappers are
    //     plentiful and this is moot);
    //   - the aggregate is on a key DIFFERENT from the join key: a
    //     groupBy on the join key makes the split non-free (it breaks
    //     the reusable partitioning) and AQE declines it without
    //     forceOptimizeSkewedJoin.
    val s2 = GraftSession.child(spark,
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val li = graft.etl.Tables.table(s2, "/root/testdata/sf0.1", "lineitem")
      .select(when(col("l_partkey") < 100, col("l_partkey"))
        .otherwise(lit(0L)).as("k"), col("l_quantity").as("qty"))
      .repartition(16)
    val dim = s2.range(100).select(col("id").as("k"),
      (col("id") % 7).as("weight"))
    val joined = li.join(dim, "k")
      .groupBy(col("qty"))
      .agg(count(lit(1)).as("n"), sum(col("weight")).as("w"))
    val rows = joined.collect().map(r => (r.getDouble(0), r.getLong(1)))
    // every lineitem row lands on a dim key (0..99 all present)
    assert(rows.map(_._2).sum == 600000L, s"unexpected fact count")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not split the skewed join:\n$plan")
  }

  test("inline hybrid materializes the posting pipeline exactly once") {
    // the q112 shape: the compact entries frame ends in an explicit
    // exchange that every downstream consumer (stats/df/norms/
    // candidates) REUSES — without it each consumer re-tokenizes the
    // corpus (4+ full text scans at the 500k-doc decade)
    // assert on the STATIC planner (AQE resolves its reuse at runtime
    // behind opaque stage references): with adaptive off, ReuseExchange
    // must collapse every consumer's copy of the entries exchange
    val s2 = GraftSession.child(spark, "spark.sql.adaptive.enabled" -> "false")
    val plan = SparkEntry.queries("q112_hybrid_rrf")(s2, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"posting-entries exchange is not shared across consumers:\n$plan")
    // column pruning specializes some branches' copies (different
    // output sets cannot share statically; AQE's runtime stage reuse
    // still dedups equal ones), so the static bound is the consumer
    // count, not 1 — the regression this guards is a plan with NO
    // sharing at all plus one where the count explodes
    val evalExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(doc_id")
        && !l.contains("ReusedExchange")).size
    assert(evalExchanges <= 5,
      s"$evalExchanges live posting exchanges (expected <=5):\n$plan")
  }

  test("IVF centroid assignment never shuffles the corpus") {
    // assignCells is a broadcast projection: between the embeddings
    // scan and the cell-assignment projection there must be NO Exchange
    // (the round-1 formulation exploded |corpus| x |centroids| rows
    // through a window shuffle)
    val emb = graft.etl.Tables.table(spark, dir, "embeddings")
    val assigned = graft.ops.Similarity.assignCells(emb, "vec_id", "embedding", 32)
    val plan = assigned.queryExecution.executedPlan.toString
    // shuffle exchanges ("Exchange <partitioning>", not BroadcastExchange)
    // may only be the SinglePartition collect of the tiny centroid table
    // inside the broadcast subtree — the corpus side must reach the
    // assignment projection without any shuffle
    val shuffles = "(?m)(?<!Broadcast)Exchange [^,\\n]+".r.findAllIn(plan).toList
    assert(shuffles.nonEmpty && shuffles.forall(_.contains("SinglePartition")),
      s"corpus-side shuffle in assignment plan: $shuffles\n$plan")
    // and the centroid fold runs ONCE per row, not once per extracted
    // field (cent_id + cdist would each inline a full re-evaluation)
    val folds = "aggregate\\(".r
      .findAllMatchIn(assigned.queryExecution.optimizedPlan.toString).size
    assert(folds == 1, s"centroid fold duplicated $folds times in plan")
  }
}
