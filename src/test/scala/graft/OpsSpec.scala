package graft

import org.apache.spark.sql.functions._

import graft.gates.Gate
import graft.ops.{Calendar, Quality}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("calendar marks Mon-Fri working, Sat/Sun not; 1=Monday") {
    val cal = Calendar.calendar(spark, "2025-01-01", "2025-01-14")
    assert(cal.count() == 14)
    val mon = cal.where($"cal_date" === lit("2025-01-06").cast("date")).head()
    assert(mon.getAs[Long]("day_of_week") == 1L)
    assert(mon.getAs[String]("text_day_of_week") == "Monday")
    assert(mon.getAs[Boolean]("is_working_day"))
    val sat = cal.where($"cal_date" === lit("2025-01-04").cast("date")).head()
    assert(sat.getAs[Long]("day_of_week") == 6L)
    assert(!sat.getAs[Boolean]("is_working_day"))
    assert(cal.where($"is_working_day").count() == 10)
  }

  test("attachGroupAggWindowed equals the join-back form (one shuffle, no join)") {
    val ev = graft.etl.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val joined = graft.ops.Returns.attachGroupAgg(ev,
        Seq("user_id", "event_type"), round(sum($"value"), 9), "grp_sum")
      .select($"event_id", $"grp_sum")
    val windowed = graft.ops.Returns.attachGroupAggWindowed(ev,
        Seq("user_id", "event_type"), c => sum(c), "value", "grp_sum")
      .withColumn("grp_sum", round($"grp_sum", 9))
      .select($"event_id", $"grp_sum")
    assert(windowed.except(joined).isEmpty && joined.except(windowed).isEmpty)
    // and the windowed plan has no Join at all
    val plan = graft.ops.Returns.attachGroupAggWindowed(ev,
      Seq("user_id"), c => sum(c), "value", "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("filterWorkingDays drops weekend fact rows and keeps columns") {
    val fact = Seq(("2025-01-04", 1.0), ("2025-01-06", 2.0))
      .toDF("d", "v").withColumn("d", $"d".cast("date"))
    val kept = Calendar.filterWorkingDays(fact, "d")
    assert(kept.columns.toSeq == Seq("d", "v"))
    assert(kept.select("v").as[Double].collect().toSeq == Seq(2.0))
  }

  test("nullProfile counts nulls per column in one pass") {
    val df = Seq(
      (Some(1), Some("a")), (None, Some("b")), (Some(3), None), (None, None)
    ).toDF("x", "y")
    val prof = Quality.nullProfile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(prof("x") == (2L, 0.5))
    assert(prof("y") == (2L, 0.5))
    // matches the reference's data.csv null density fact when run on it
    // (128/472 DAILY_RETURN nulls — asserted in MarketReturnsSpec)
  }

  test("keyViolations finds duplicate keys; isUniqueKey agrees") {
    val df = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "v")
    val viol = Quality.keyViolations(df, Seq("k")).collect()
    assert(viol.length == 1 && viol.head.getInt(0) == 1
      && viol.head.getLong(1) == 2L)
    assert(!Quality.isUniqueKey(df, Seq("k")))
    assert(Quality.isUniqueKey(df, Seq("k", "v")))
  }

  test("schemaDrift reports missing/unexpected/type-mismatched columns") {
    import org.apache.spark.sql.types._
    val df = Seq((1, "x", 2.0)).toDF("a", "b", "c")
    val expected = StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType),
      StructField("d", StringType)))
    val drift = Quality.schemaDrift(df, expected)
    assert(drift.toSet == Set(
      ("d", "string", "", "missing"),
      ("c", "", "double", "unexpected"),
      ("b", "int", "string", "type_mismatch")))
    assert(Quality.schemaDrift(df, df.schema).isEmpty)
  }

  test("repetitionStats flags repetitive documents, passes clean ones") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog")).toDF("doc_id", "text")
    val stats = Quality.repetitionStats(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // 6x"spam": 4 trigram occurrences, 1 distinct -> dup frac 0.75
    assert(stats(1L).getAs[Double]("top_token_frac") == 1.0)
    assert(math.abs(stats(1L).getAs[Double]("dup_ngram_frac") - 0.75) < 1e-9)
    assert(stats(2L).getAs[Double]("dup_ngram_frac") == 0.0)
    assert(stats(2L).getAs[Double]("top_token_frac") < 0.2)
    // docs shorter than n have zero grams and zero dup fraction
    val short = Quality.repetitionStats(
      Seq((3L, "hi there")).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(short.getAs[Long]("n_grams") == 0L)
    assert(short.getAs[Double]("dup_ngram_frac") == 0.0)
  }

  test("tfidf topKeywords surfaces rare distinctive tokens, zeroes ubiquitous ones") {
    val df = Seq(
      (1L, "common common common zebra zebra quark"),
      (2L, "common words fill this document common"),
      (3L, "common text again nothing special here")).toDF("doc_id", "text")
    val top = graft.ops.Tfidf.topKeywords(df, "doc_id", "text", k = 2).collect()
    val d1 = top.filter(_.getLong(0) == 1L).sortBy(_.getAs[Long]("rank"))
    // zebra (tf=2, df=1) outranks quark (tf=1, df=1); "common" is in
    // every doc so idf = ln(1) = 0 and it never makes the cut
    assert(d1.map(_.getString(1)).toSeq == Seq("zebra", "quark"))
    assert(top.forall(r => r.getString(1) != "common" || r.getAs[Double]("score") == 0.0))
    assert(top.groupBy(_.getLong(0)).values.forall(_.length <= 2))
  }

  test("gopherFlags: each rule rejects its own pathology, clean docs pass") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home now"),
      (2L, "too short"),
      (3L, "pneumonoultramicroscopic supercalifragilistic floccinaucinihilipilification " * 5),
      (4L, ("a b " * 10) + "!!! ### $$$ %%% @@@ &&& *** ((( ))) ^^^"),
      (5L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed eiusmod tempor " * 2))
      .toDF("doc_id", "text")
    val out = graft.ops.Quality.gopherFlags(df, "doc_id", "text",
        minTokens = 10, maxTokens = 100, minMeanWordLen = 2.0,
        maxMeanWordLen = 10.0, maxSymbolRatio = 0.1, minStopwordHits = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"), "clean doc must pass all rules")
    assert(!out(2L).getAs[Boolean]("pass_tokens"), "short doc fails token rule")
    assert(!out(3L).getAs[Boolean]("pass_word_len"), "gibberish fails word-len rule")
    assert(!out(4L).getAs[Boolean]("pass_symbols"), "symbol soup fails symbol rule")
    assert(!out(5L).getAs[Boolean]("pass_stopwords"), "no-function-words doc fails")
    // pass is exactly the conjunction of the four rules
    out.values.foreach { r =>
      assert(r.getAs[Boolean]("pass") ==
        (r.getAs[Boolean]("pass_tokens") && r.getAs[Boolean]("pass_word_len")
          && r.getAs[Boolean]("pass_symbols") && r.getAs[Boolean]("pass_stopwords")))
    }
  }

  test("driver contract: entry returns rows; queries and oracle keys line up") {
    assert(SparkEntry.entry(spark).count() > 0)
    // a Gate declares its builder and its oracle together, so the two
    // maps' keys line up by construction; a name declared twice must
    // fail instead of silently replacing the first declaration
    val g = SparkEntry.gates.head
    val e = intercept[IllegalArgumentException](
      Gate.index(Seq(g, g.copy(oracleSql = "SELECT 1"))))
    assert(e.getMessage.contains(g.name))
  }

  /** What a gate could leave on the session it is handed: its conf
    * entries, temporary views, and extra planner strategies and
    * optimizer rules, one line each. */
  private def sessionState(): Seq[String] =
    spark.conf.getAll.toSeq.map { case (k, v) => s"conf $k=$v" } ++
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .map(t => s"temporary view ${t.name}") ++
      spark.experimental.extraStrategies.map(s => s"strategy $s") ++
      spark.experimental.extraOptimizations.map(r => s"rule ${r.ruleName}")

  test("all queries run on sf0.001 and return rows") {
    val dir = "/root/testdata/sf0.001"
    val changed = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val before = sessionState()
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned no rows")
      val after = sessionState()
      (after.diff(before).map("+ " + _) ++ before.diff(after).map("- " + _))
        .map(c => s"$name: $c")
    }
    assert(changed.isEmpty, s"gates changed the session they were handed: $changed")
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    val oldDf = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val newDf = Seq((2L, "b"), (3L, "CHANGED"), (4L, "d")).toDF("id", "v")
    val got = Quality.snapshotDiff(oldDf, newDf, "id", "v")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "removed"), (3L, "changed"), (4L, "added")))
  }

  test("ksStatistic: 0 for identical samples, 1 for disjoint, hand case exact") {
    import spark.implicits._
    def ks(rows: Seq[(Long, String)]): (Double, Long) = {
      val r = Quality.ksStatistic(rows.toDF("v", "g"), "v", "g", "a", "b")
        .head()
      (r.getDouble(0), r.getLong(1))
    }
    // identical samples -> 0
    val same = (1L to 50L).flatMap(i => Seq((i, "a"), (i, "b")))
    assert(ks(same)._1 == 0.0)
    // fully disjoint supports -> 1 at the boundary (end of a's support)
    val disjoint = (1L to 30L).map((_, "a")) ++ (100L to 129L).map((_, "b"))
    assert(ks(disjoint) == ((1.0, 30L)))
    // hand case: a={1,2,3,4}, b={3,4,5,6} -> max |Fa-Fb| = 0.5 at v=2
    val hand = Seq(1L, 2L, 3L, 4L).map((_, "a")) ++
      Seq(3L, 4L, 5L, 6L).map((_, "b"))
    assert(ks(hand) == ((0.5, 2L)))
  }

  test("ksStatistic excludes NULL values: statistic defined over observed CDF only") {
    import spark.implicits._
    val withNulls = Seq(
      (Some(1L), "a"), (Some(2L), "a"), (Some(3L), "a"), (Some(4L), "a"),
      (None, "a"), (None, "a"), // NULLs must not shift F_a
      (Some(3L), "b"), (Some(4L), "b"), (Some(5L), "b"), (Some(6L), "b"),
      (None, "b")).toDF("v", "g")
    val r = Quality.ksStatistic(withNulls, "v", "g", "a", "b").head()
    assert((r.getDouble(0), r.getLong(1)) == ((0.5, 2L)))
  }

  test("ksStatistic quantize-first reproduces the exact statistic on discrete data") {
    import spark.implicits._
    // discrete values with enough buckets -> every distinct value gets
    // its own band whose representative is the value itself: EXACT
    val hand = (Seq(1L, 2L, 3L, 4L).map((_, "a")) ++
      Seq(3L, 4L, 5L, 6L).map((_, "b"))).toDF("v", "g")
    val exact = Quality.ksStatistic(hand, "v", "g", "a", "b").head()
    val quant = Quality.ksStatistic(hand, "v", "g", "a", "b",
      nBuckets = Some(100)).head()
    assert((exact.getDouble(0), exact.getLong(1)) ==
      ((quant.getDouble(0), quant.getLong(1))))
    // continuous domain: the banded statistic tracks the exact one
    // within one band of probability mass
    val cont = ((1 to 500).map(i => (i * 0.01, "a")) ++
      (1 to 500).map(i => (1.0 + i * 0.01, "b"))).toDF("v", "g")
    val e = Quality.ksStatistic(cont, "v", "g", "a", "b")
      .head().getDouble(0)
    val q = Quality.ksStatistic(cont, "v", "g", "a", "b",
      nBuckets = Some(50)).head().getDouble(0)
    assert(math.abs(e - q) <= 0.05, s"exact $e vs quantized $q")
    // degenerate single-value domain collapses to one band, ks = 0
    val one = Seq((7L, "a"), (7L, "b"), (7L, "a")).toDF("v", "g")
    assert(Quality.ksStatistic(one, "v", "g", "a", "b",
      nBuckets = Some(10)).head().getDouble(0) == 0.0)
  }

  test("categoricalDrift quantize-first equals exact when bands separate the values") {
    import spark.implicits._
    val rows = (Seq.fill(60)((1.0, "a")) ++ Seq.fill(40)((2.0, "a")) ++
      Seq.fill(50)((1.0, "b")) ++ Seq.fill(50)((3.0, "b"))).toDF("cat", "g")
    val exact = Quality.categoricalDrift(rows, "cat", "g", "a", "b").head()
    val quant = Quality.categoricalDrift(rows, "cat", "g", "a", "b",
      nBuckets = Some(50)).head()
    // same partition of rows -> identical chi2 / dof / psi
    assert(exact.getDouble(0) == quant.getDouble(0))
    assert(exact.getLong(1) == quant.getLong(1))
    assert(exact.getDouble(2) == quant.getDouble(2))
  }

  test("categoricalDrift: zero on identical mixes, grows with divergence") {
    import spark.implicits._
    def drift(rows: Seq[(String, String)]): (Double, Long, Double) = {
      val r = Quality.categoricalDrift(rows.toDF("cat", "g"), "cat", "g",
        "a", "b").head()
      (r.getDouble(0), r.getLong(1), r.getDouble(2))
    }
    // identical category mixes -> chi2 = 0, psi = 0
    val same = Seq("x", "x", "y", "z").flatMap(c => Seq((c, "a"), (c, "b")))
    val (c0, dof0, p0) = drift(same)
    assert(c0 == 0.0 && p0 == 0.0 && dof0 == 2)
    // mild vs severe divergence: both metrics strictly increase
    val mild = Seq.fill(60)(("x", "a")) ++ Seq.fill(40)(("y", "a")) ++
      Seq.fill(50)(("x", "b")) ++ Seq.fill(50)(("y", "b"))
    val severe = Seq.fill(95)(("x", "a")) ++ Seq.fill(5)(("y", "a")) ++
      Seq.fill(5)(("x", "b")) ++ Seq.fill(95)(("y", "b"))
    val (cm, _, pm) = drift(mild)
    val (cs, _, ps) = drift(severe)
    assert(cm > 0 && pm > 0)
    assert(cs > cm && ps > pm, s"severe ($cs,$ps) !> mild ($cm,$pm)")
    // a category absent from one group stays finite (smoothing)
    val absent = Seq.fill(10)(("x", "a")) ++ Seq.fill(10)(("y", "b"))
    val (ca2, _, pa2) = drift(absent)
    assert(!ca2.isNaN && !pa2.isNaN && !pa2.isInfinite && pa2 > 0)
  }

  test("snapshotDiff treats NULL payloads as presence, not absence") {
    import spark.implicits._
    // id 1: null -> null (unchanged); id 2: value -> null (changed);
    // id 3: null -> value (changed); id 4: only-new with null payload
    // (added); id 5: only-old with null payload (removed).
    val oldDf = Seq((1L, None), (2L, Some("b")), (3L, None),
        (5L, None): (Long, Option[String]))
      .toDF("id", "v")
    val newDf = Seq((1L, None), (2L, None), (3L, Some("c")),
        (4L, None): (Long, Option[String]))
      .toDF("id", "v")
    val got = Quality.snapshotDiff(oldDf, newDf, "id", "v")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((2L, "changed"), (3L, "changed"),
      (4L, "added"), (5L, "removed")))
  }

  test("jsDivergence: 0 for identical, ln 2 for disjoint distributions") {
    import spark.implicits._
    val same = (Seq.fill(10)(("x", "a")) ++ Seq.fill(5)(("y", "a")) ++
      Seq.fill(10)(("x", "b")) ++ Seq.fill(5)(("y", "b")))
      .toDF("cat", "g")
    val r0 = graft.ops.Quality.jsDivergence(same, "cat", "g", "a", "b")
      .head()
    assert(r0.getDouble(0) == 0.0 && r0.getLong(1) == 2L)
    val disjoint = (Seq.fill(7)(("x", "a")) ++ Seq.fill(9)(("y", "b")))
      .toDF("cat", "g")
    val r1 = graft.ops.Quality.jsDivergence(disjoint, "cat", "g", "a", "b")
      .head()
    assert(math.abs(r1.getDouble(0) - math.log(2)) < 1e-6,
      s"jsd=${r1.getDouble(0)}")
  }

  test("benford extracts first significant digits portably") {
    import spark.implicits._
    // digits: 1.5->1, 19->1, 0.25->2, -2.3->2, 300->3; 0/null dropped
    val df = Seq(Some(1.5), Some(19.0), Some(0.25), Some(-2.3),
      Some(300.0), Some(0.0), None).toDF("v")
    val out = graft.ops.Quality.benford(df, "v")
      .orderBy("digit").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
  }

  test("mutualInformation: 0 when independent, ln 2 when determined") {
    import spark.implicits._
    val indep = (for (x <- Seq("a", "b"); y <- Seq("u", "v");
      _ <- 1 to 25) yield (x, y)).toDF("x", "y")
    assert(graft.ops.Quality.mutualInformation(indep, "x", "y")
      .head().getDouble(0) == 0.0)
    val dep = (Seq.fill(30)(("a", "u")) ++ Seq.fill(30)(("b", "v")))
      .toDF("x", "y")
    val r = graft.ops.Quality.mutualInformation(dep, "x", "y").head()
    assert(math.abs(r.getDouble(0) - math.log(2)) < 1e-6)
    assert(r.getLong(1) == 60L && r.getLong(2) == 2L && r.getLong(3) == 2L)
  }

  test("gini: 0 for equality, hand value for concentration") {
    import spark.implicits._
    val df = Seq(("eq", 1L, 1.0), ("eq", 2L, 1.0), ("eq", 3L, 1.0),
      ("cc", 1L, 0.0), ("cc", 2L, 0.0), ("cc", 3L, 10.0))
      .toDF("g", "id", "v")
    val out = graft.ops.Quality.gini(df, "g", "v", "id")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("eq") == 0.0)
    // (2*(3*10) - 4*10) / (3*10) = 20/30
    assert(math.abs(out("cc") - 20.0 / 30) < 1e-6)
  }

  test("spearman matches the tie-averaged textbook case; exact 1 on monotone") {
    import spark.implicits._
    // x 1..5, y = (5,6,7,8,7): y's two 7s tie-average to rank 3.5
    // -> rho = 8/sqrt(10*9.5) = 0.8207826... (scipy spearmanr value)
    val df = Seq((1.0, 5.0), (2.0, 6.0), (3.0, 7.0), (4.0, 8.0), (5.0, 7.0))
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = graft.ops.Quality.spearman(df, "g", "x", "y").head()
    assert(r.getLong(1) == 5L && r.getDouble(2) == 0.820783)
    val mono = (1 to 9).map(i => ("m", i.toDouble, i * i.toDouble))
      .toDF("g", "x", "y")
    assert(graft.ops.Quality.spearman(mono, "g", "x", "y")
      .head().getDouble(2) == 1.0)
  }

  test("centralMoments matches hand values; constant group yields NULL shape") {
    import spark.implicits._
    // values 1,2,3,6: mu=3, m2=3.5, m3=4.5, m4=24.5
    // skew = 4.5/3.5^1.5 = 0.687243; kurt = 24.5/12.25 - 3 = -1 exactly
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 6.0),
      ("c", 5.0), ("c", 5.0)).toDF("k", "v")
    val out = graft.ops.Quality.centralMoments(df, "k", "v")
      .orderBy("k").collect()
    val c = out(0); val g = out(1)
    assert(g.getLong(1) == 4L && g.getDouble(2) == 3.0
      && g.getDouble(3) == 3.5)
    assert(g.getDouble(4) == BigDecimal(4.5 / math.pow(3.5, 1.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(g.getDouble(5) == -1.0)
    assert(c.getDouble(3) == 0.0 && c.isNullAt(4) && c.isNullAt(5))
  }

  test("chiSquare matches the 2x2 hand case and charges zero observed cells") {
    import spark.implicits._
    // [[10,20],[30,40]]: chi2 = 4/12+4/18+4/28+4/42 = 0.793651, dof 1
    val rows = Seq.fill(10)(("a", "c1")) ++ Seq.fill(20)(("a", "c2")) ++
      Seq.fill(30)(("b", "c1")) ++ Seq.fill(40)(("b", "c2"))
    val r = graft.ops.Quality.chiSquare(rows.toDF("x", "y"), "x", "y").head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 0.793651)
    assert(r.getDouble(3) == 0.089087) // sqrt(0.793651/100)
    // (b,2) never observed: its expected 2.5 must still contribute
    val z = Seq.fill(5)(("a", "1")) ++ Seq.fill(5)(("a", "2")) ++
      Seq.fill(10)(("b", "1"))
    val rz = graft.ops.Quality.chiSquare(z.toDF("x", "y"), "x", "y").head()
    assert(rz.getDouble(2) == 6.666667 && rz.getDouble(3) == 0.57735)
  }

  test("theil: 0 for equality, hand value for a 1-vs-3 split") {
    import spark.implicits._
    val df = Seq(("eq", 2.0), ("eq", 2.0), ("eq", 2.0),
      ("cc", 1.0), ("cc", 3.0)).toDF("g", "v")
    val out = graft.ops.Quality.theil(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out("eq") == ((0.0, 0.0)))
    // mu=2: T = (0.5 ln 0.5 + 1.5 ln 1.5)/2; L = (ln 2 + ln(2/3))/2
    assert(math.abs(out("cc")._1 -
      (0.5 * math.log(0.5) + 1.5 * math.log(1.5)) / 2) < 1e-6)
    assert(math.abs(out("cc")._2 -
      (math.log(2.0) + math.log(2.0 / 3)) / 2) < 1e-6)
    // zero/negative values are excluded, not log-crashed
    val z = Seq(("g", 0.0), ("g", -1.0), ("g", 5.0)).toDF("g", "v")
    assert(graft.ops.Quality.theil(z, "g", "v").head().getLong(1) == 1L)
  }

  test("readability: hand-computed Flesch for a two-word sentence") {
    import spark.implicits._
    // "Hello world." w=2, sentences=1, vowel groups e,o,o = 3
    // flesch = 206.835 - 1.015*2 - 84.6*1.5 = 77.905
    val df = Seq((1L, "Hello world.")).toDF("doc_id", "text")
    val r = graft.ops.Quality.readability(df, "doc_id", "text").head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 77.905)
    // banding: 45 words lands in band 2 with width 20
    val long = Seq((2L, Seq.fill(45)("word").mkString(" ")))
      .toDF("doc_id", "text")
    assert(graft.ops.Quality.readability(long, "doc_id", "text")
      .head().getLong(0) == 2L)
  }
}
