package graft.gates

import org.apache.spark.sql.functions._

import graft.gates.Shared.t

/** Statistics over the tables: outliers, binning and quantiles, drift
  * tests, A/B tests, survival curves, calibration, ROC, correlation,
  * information measures, sketches and data expectations. */
object AnalyticsGates {

  val all: Seq[Gate] = Seq(

    // Median/MAD robust outlier profile per event type: two median
    // passes with the bounded group stats broadcast back between them.
    Gate("q87_robust_outliers", (s, dir) =>
      graft.ops.Quality.robustOutliers(t(s, dir, "events"), "event_type",
          "value", z = 3.0)
        .select(col("event_type"), col("n"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"), col("n_outliers"))
        .orderBy("event_type"),
      """WITH med AS (
        |  SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY 1
        |), mad AS (
        |  SELECT event_type, MEDIAN(ABS(value - med)) AS mad
        |  FROM events JOIN med USING (event_type) GROUP BY 1
        |)
        |SELECT event_type, COUNT(1) AS n,
        |  ROUND(MAX(med), 6) AS med, ROUND(MAX(mad), 6) AS mad,
        |  CAST(SUM(CASE WHEN mad > 0
        |        AND ROUND(ABS(value - med) / (1.4826 * mad), 6) > 3.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Decile binning of documents by length via exact quantile cut
    // points (no global ntile window); per-band profile.
    Gate("q92_length_deciles", (s, dir) =>
      graft.ops.Binning.quantileBins(t(s, dir, "documents"), "n_chars", 10)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy("bin"),
      """WITH c AS (
        |  SELECT list_transform(
        |    quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    x -> ROUND(x, 6)) AS cuts
        |  FROM documents
        |), b AS (
        |  SELECT n_chars,
        |    CAST(len(list_filter((SELECT cuts FROM c), x -> n_chars > x))
        |      AS BIGINT) AS bin
        |  FROM documents
        |)
        |SELECT bin, COUNT(1) AS n, MIN(n_chars) AS min_chars,
        |       MAX(n_chars) AS max_chars, ROUND(AVG(n_chars), 6) AS avg_chars
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exact global cume_dist WITHOUT the single-partition sort window:
    // per-value counts + cumulative window over the reduced distinct-
    // value frame + broadcast join back.
    Gate("q100_percentile_rank", (s, dir) =>
      graft.ops.Binning.percentileRanks(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars")
        .select(col("doc_id"), col("n_chars"), col("cume_dist"))
        .orderBy("doc_id"),
      """SELECT doc_id, n_chars,
        |  ROUND(CUME_DIST() OVER (ORDER BY n_chars), 9) AS cume_dist
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Equi-width 20-band histogram of event values.
    Gate("q101_histogram", (s, dir) =>
      graft.ops.Binning.histogram(t(s, dir, "events"), "value", nBins = 20)
        .orderBy("bin"),
      """WITH s AS (
        |  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
        |), b AS (
        |  SELECT CASE WHEN s.hi = s.lo THEN 0
        |    ELSE LEAST(CAST(floor((value - s.lo) / ((s.hi - s.lo) / 20))
        |               AS BIGINT), 19) END AS bin,
        |    s.lo, s.hi
        |  FROM events, s
        |)
        |SELECT bin,
        |  ROUND(lo + (hi - lo) / 20 * bin, 6) AS lo,
        |  ROUND(lo + (hi - lo) / 20 * (bin + 1), 6) AS hi,
        |  COUNT(1) AS n
        |FROM b GROUP BY bin, lo, hi ORDER BY bin""".stripMargin),

    // Per-group winsorized robust aggregates: values clamp to the
    // group's [p05, p95] band before summing — one bounded quantile
    // agg broadcast back, narrow clamp, no extra shuffle.
    Gate("q118_winsorize", (s, dir) =>
      graft.ops.Binning.winsorize(t(s, dir, "events"), "event_type",
          "value", lo = 0.05, hi = 0.95)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value_w")), 6).as("sum_w"),
          round(avg(col("value_w")), 6).as("mean_w"))
        .orderBy("event_type"),
      """WITH c AS (
        |  SELECT event_type,
        |         ROUND(quantile_cont(value, 0.05), 6) AS lo,
        |         ROUND(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type, COUNT(1) AS n,
        |  ROUND(SUM(LEAST(GREATEST(value, lo), hi)), 6) AS sum_w,
        |  ROUND(AVG(LEAST(GREATEST(value, lo), hi)), 6) AS mean_w
        |FROM events e JOIN c USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Distribution-drift detection: two-sample KS statistic between
    // two document sources over n_chars (per-value counts once, CDFs
    // over the reduced distinct-value frame, 1-row argmax).
    Gate("q123_ks_drift", (s, dir) =>
      graft.ops.Quality.ksStatistic(t(s, dir, "documents"),
        "n_chars", "source", "src0", "src1"),
      """WITH f AS (
        |  SELECT n_chars AS v, source AS g FROM documents
        |  WHERE source IN ('src0', 'src1')
        |), c AS (
        |  SELECT v,
        |    SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
        |  FROM f GROUP BY 1
        |), cum AS (
        |  SELECT v,
        |    ROUND(ABS(SUM(ca) OVER (ORDER BY v) * 1.0 / SUM(ca) OVER ()
        |            - SUM(cb) OVER (ORDER BY v) * 1.0 / SUM(cb) OVER ()),
        |          9) AS d
        |  FROM c
        |)
        |SELECT ROUND(d, 6) AS ks, v AS ks_at
        |FROM cum ORDER BY d DESC, v LIMIT 1""".stripMargin),

    // Categorical drift (chi-squared homogeneity + PSI) of the
    // event-type mix between even and odd user cohorts.
    Gate("q124_categorical_drift", (s, dir) =>
      graft.ops.Quality.categoricalDrift(
        t(s, dir, "events").withColumn("grp",
          when(col("user_id") % 2 === 0, "even").otherwise("odd")),
        "event_type", "grp", "even", "odd"),
      """WITH f AS (
        |  SELECT event_type AS c,
        |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g
        |  FROM events
        |), k AS (
        |  SELECT c,
        |    SUM(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS oa,
        |    SUM(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS ob
        |  FROM f GROUP BY 1
        |), t AS (
        |  SELECT c, oa, ob,
        |    SUM(oa) OVER () AS na, SUM(ob) OVER () AS nb,
        |    COUNT(1) OVER () AS nk
        |  FROM k
        |), s AS (
        |  SELECT
        |    POWER(oa - na * (oa + ob) * 1.0 / (na + nb), 2)
        |      / (na * (oa + ob) * 1.0 / (na + nb))
        |    + POWER(ob - nb * (oa + ob) * 1.0 / (na + nb), 2)
        |      / (nb * (oa + ob) * 1.0 / (na + nb)) AS chi,
        |    ((oa + 0.5) / (na + 0.5 * nk) - (ob + 0.5) / (nb + 0.5 * nk))
        |      * ln(((oa + 0.5) / (na + 0.5 * nk))
        |           / ((ob + 0.5) / (nb + 0.5 * nk))) AS psi,
        |    nk
        |  FROM t
        |)
        |SELECT ROUND(SUM(chi), 6) AS chi2,
        |       CAST(MAX(nk) - 1 AS BIGINT) AS dof,
        |       ROUND(SUM(psi), 6) AS psi
        |FROM s""".stripMargin),

    // KMV sketch set algebra: per-type bottom-64 distinct portable
    // hashes of the user set, then pairwise distinct / union /
    // INTERSECTION estimates — the theta-sketch question HLL cannot
    // answer. Every estimate derives deterministically from the
    // portable md5 hash order, so the oracle recomputes the sketches
    // AND the estimator arithmetic independently in SQL and must
    // match bit-for-bit; the exact pair overlap rides along as the
    // quality reference. The 5x5 sketch pairing is a broadcast
    // inequality join over ONE ROW PER GROUP — the corpus itself is
    // touched once by the bounded sketch aggregation.
    Gate("q181_kmv_sketch", (s, dir) => {
      val k = 64
      val ev = t(s, dir, "events")
      val sk = graft.ops.Kmv.sketches(ev, Seq("event_type"), "user_id",
        k, "kmv")
      val a = sk.select(col("event_type").as("type_a"), col("kmv").as("ka"))
      val b = sk.select(col("event_type").as("type_b"), col("kmv").as("kb"))
      val pairs = a.join(b, col("type_a") < col("type_b"))
      val users = ev.select(col("event_type"), col("user_id")).distinct()
      val interExact = users.select(col("event_type").as("type_a"),
          col("user_id"))
        .join(users.select(col("event_type").as("type_b"), col("user_id")),
          "user_id")
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_inter_exact"))
      pairs.join(interExact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          graft.ops.Kmv.distinctEstimate(col("ka"), k).as("est_a"),
          graft.ops.Kmv.distinctEstimate(col("kb"), k).as("est_b"),
          graft.ops.Kmv.distinctEstimate(
            graft.ops.Kmv.unionSketch(col("ka"), col("kb"), k), k)
            .as("est_union"),
          graft.ops.Kmv.intersectionEstimate(col("ka"), col("kb"), k)
            .as("est_inter"),
          col("n_inter_exact"))
        .orderBy("type_a", "type_b")
    },
      // independent SQL rebuild of the KMV sketches AND the estimator
      // arithmetic ((k-1)*2^48/h_k, rho*est(K)) — estimates must match
      // the Spark side bit-for-bit because both derive from the same
      // portable md5 hash order and the same double-op shapes
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x'||substr(md5('kmv:'||CAST(user_id AS VARCHAR)),1,12))
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL
        |), rk AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
        |  FROM h
        |), sk AS (
        |  SELECT event_type, list(h ORDER BY h) AS kmv
        |  FROM rk WHERE r <= 64 GROUP BY event_type
        |), pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.kmv AS ka, b.kmv AS kb,
        |    list_sort(list_distinct(a.kmv || b.kmv))[1:64] AS ku
        |  FROM sk a JOIN sk b ON a.event_type < b.event_type
        |), est AS (
        |  SELECT type_a, type_b,
        |    CASE WHEN len(ka) < 64 THEN CAST(len(ka) AS DOUBLE)
        |      ELSE CAST(63 AS DOUBLE) * 281474976710656.0
        |           / CAST(ka[64] AS DOUBLE) END AS est_a,
        |    CASE WHEN len(kb) < 64 THEN CAST(len(kb) AS DOUBLE)
        |      ELSE CAST(63 AS DOUBLE) * 281474976710656.0
        |           / CAST(kb[64] AS DOUBLE) END AS est_b,
        |    CASE WHEN len(ku) < 64 THEN CAST(len(ku) AS DOUBLE)
        |      ELSE CAST(63 AS DOUBLE) * 281474976710656.0
        |           / CAST(ku[64] AS DOUBLE) END AS est_union,
        |    CAST(len(list_intersect(list_intersect(ku, ka), kb)) AS DOUBLE)
        |      / CAST(len(ku) AS DOUBLE) AS rho
        |  FROM pairs
        |), ex AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(1) AS n_inter_exact
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) a
        |  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT e.type_a, e.type_b, e.est_a, e.est_b, e.est_union,
        |  e.rho * e.est_union AS est_inter, x.n_inter_exact
        |FROM est e JOIN ex x USING (type_a, type_b)
        |ORDER BY e.type_a, e.type_b""".stripMargin),

    // Declarative data-quality expectations over a landed table: all
    // row-level rules share ONE aggregation pass (a rule is a codegen'd
    // conditional count, never a scan); uniqueness is a map-side-
    // combinable key aggregation; referential integrity is an anti
    // join against the broadcastable key set. The report is plain
    // data, so the oracle recomputes every count independently.
    Gate("q187_expectations", (s, dir) => {
      import graft.ops.Expectations._
      val orders = t(s, dir, "orders")
      check(orders, Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        MatchesRegex("o_orderpriority", "^[1-5]-"),
        OneOf("o_orderstatus", Seq("O", "F")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
        .orderBy("rule")
    },
      // every expectation's violation count recomputed independently;
      // report rows sort by rule name
      """WITH n AS (SELECT COUNT(1) AS n_rows FROM orders)
        |SELECT rule, n_violations, n_rows, n_violations = 0 AS pass
        |FROM (
        |  SELECT 'not_null(o_custkey)' AS rule,
        |    (SELECT COUNT(1) FROM orders WHERE o_custkey IS NULL)
        |      AS n_violations, n_rows FROM n
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice,0.0,400000.0)',
        |    (SELECT COUNT(1) FROM orders WHERE o_totalprice IS NOT NULL
        |       AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'matches_regex(o_orderpriority)',
        |    (SELECT COUNT(1) FROM orders WHERE o_orderpriority IS NOT NULL
        |       AND NOT regexp_matches(o_orderpriority, '^[1-5]-')),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'one_of(o_orderstatus)',
        |    (SELECT COUNT(1) FROM orders WHERE o_orderstatus IS NOT NULL
        |       AND o_orderstatus NOT IN ('O', 'F')),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM (
        |       SELECT COUNT(1) AS c FROM orders GROUP BY o_orderkey
        |       HAVING COUNT(1) > 1)),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'ref_integrity(o_custkey)',
        |    (SELECT COUNT(1) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |       SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |    n_rows FROM n
        |)
        |ORDER BY rule""".stripMargin),

    // Item co-occurrence + PMI over per-user event-type baskets
    // (market-basket association mining / item2item similarity). The
    // basket table is distinct-reduced first; pairs come from a
    // group-key equi-join with an item_a < item_b residual — work is
    // sum(basket^2), never corpus^2; margins broadcast back onto the
    // vocabulary-sized pair frame.
    Gate("q188_cooccurrence", (s, dir) =>
      graft.ops.Cooccurrence.pmiPairs(t(s, dir, "events"),
          "user_id", "event_type")
        .orderBy("item_a", "item_b"),
      // association counts and ln-PMI recomputed independently
      """WITH b AS (
        |  SELECT DISTINCT user_id AS g, event_type AS item FROM events
        |), n AS (
        |  SELECT COUNT(DISTINCT g) AS n_baskets FROM b
        |), m AS (
        |  SELECT item, COUNT(1) AS n_item FROM b GROUP BY item
        |), p AS (
        |  SELECT x.item AS item_a, y.item AS item_b, COUNT(1) AS n_ab
        |  FROM b x JOIN b y ON x.g = y.g AND x.item < y.item
        |  GROUP BY 1, 2
        |)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |  ma.n_item AS n_a, mb.n_item AS n_b, n.n_baskets,
        |  ROUND(ln((CAST(p.n_ab AS DOUBLE) * CAST(n.n_baskets AS DOUBLE))
        |    / (CAST(ma.n_item AS DOUBLE) * CAST(mb.n_item AS DOUBLE))), 6)
        |    AS pmi
        |FROM p
        |JOIN m ma ON ma.item = p.item_a
        |JOIN m mb ON mb.item = p.item_b
        |CROSS JOIN n
        |ORDER BY p.item_a, p.item_b""".stripMargin),

    // Welch's unequal-variances t-test per event type: variant =
    // user_id parity (a deterministic assignment both engines
    // replay). One partial-agg pass computes each (group, variant)'s
    // n/mean/var; the statistic assembles on the reduced frame. The
    // oracle recomputes t and the Welch-Satterthwaite dof from its
    // own aggregates.
    Gate("q194_ab_welch", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.welch(ev, "event_type", "variant", "value",
          "A", "B")
        .orderBy("event_type")
    },
      // Welch t and dof recomputed from DuckDB's own aggregates; the
      // same deterministic parity assignment on both sides
      """WITH per AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    COUNT(1) AS n, AVG(value) AS m, VAR_SAMP(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), a AS (SELECT event_type, n AS n_a, m AS m_a, v AS v_a
        |         FROM per WHERE variant = 'A'),
        |b AS (SELECT event_type, n AS n_b, m AS m_b, v AS v_b
        |      FROM per WHERE variant = 'B')
        |SELECT a.event_type, n_a, n_b,
        |  ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
        |  ROUND((m_a - m_b) / sqrt(v_a/n_a + v_b/n_b), 6) AS t,
        |  ROUND(((v_a/n_a + v_b/n_b) * (v_a/n_a + v_b/n_b)) /
        |    ((v_a/n_a) * (v_a/n_a) / (n_a - 1)
        |      + (v_b/n_b) * (v_b/n_b) / (n_b - 1)), 6) AS dof,
        |  abs(ROUND((m_a - m_b) / sqrt(v_a/n_a + v_b/n_b), 6)) > 1.96
        |    AS significant
        |FROM a JOIN b USING (event_type)
        |ORDER BY a.event_type""".stripMargin),

    // CUPED variance reduction: per-user pre/post period means around
    // a mid-month cutoff, pooled theta broadcast back, per-variant
    // adjusted means + variance reduction. The oracle recomputes
    // theta from its own covar/var aggregates.
    Gate("q198_cuped", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.cuped(ev, "user_id", "variant", "ts", "value",
          to_timestamp(lit("2024-01-15 00:00:00")))
        .orderBy("variant")
    },
      // theta recomputed from DuckDB's own pooled covar/var moments
      """WITH per AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    AVG(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |        THEN value END) AS pre,
        |    AVG(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |        THEN value END) AS post
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), per2 AS (
        |  SELECT * FROM per WHERE pre IS NOT NULL AND post IS NOT NULL
        |), st AS (
        |  SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
        |    AVG(pre) AS pre_mean
        |  FROM per2
        |), adj AS (
        |  SELECT variant, post, post - theta * (pre - pre_mean) AS adj
        |  FROM per2, st
        |)
        |SELECT variant, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND(AVG(post), 6) AS mean_raw,
        |  ROUND(AVG(adj), 6) AS mean_adj,
        |  ROUND(1 - var_samp(adj) / var_samp(post), 6) AS var_reduction
        |FROM adj GROUP BY variant ORDER BY variant""".stripMargin),

    // Sample-ratio-mismatch chi-squared screen per event type under
    // the parity assignment — the trust gate preceding any A/B
    // readout (q194/q198).
    Gate("q199_srm", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.srm(ev, "event_type", "variant", "A", "B")
        .orderBy("event_type")
    },
      """WITH per AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_b
        |  FROM events GROUP BY 1
        |), e AS (
        |  SELECT event_type, n_a, n_b,
        |    CAST(n_a + n_b AS DOUBLE) / 2 AS ex
        |  FROM per
        |)
        |SELECT event_type, n_a, n_b,
        |  ROUND((n_a - ex) * (n_a - ex) / ex
        |    + (n_b - ex) * (n_b - ex) / ex, 6) AS chi2,
        |  ROUND((n_a - ex) * (n_a - ex) / ex
        |    + (n_b - ex) * (n_b - ex) / ex, 6) > 3.841459 AS srm
        |FROM e ORDER BY event_type""".stripMargin),

    // Calibration curve + ECE over a hash-planted calibrated scorer
    // (P(label|score) = score by construction): one partial-agg pass
    // to the 10-bin frame, ECE as a bounded-frame window.
    Gate("q204_calibration", (s, dir) => {
      val ks = pmod(graft.ops.Sampling.shuffleKey(col("event_id"), "cs"),
        lit(1000000L))
      val ky = pmod(graft.ops.Sampling.shuffleKey(col("event_id"), "cy"),
        lit(1000000L))
      val ev = t(s, dir, "events")
        .withColumn("score", ks / 1000000.0)
        .withColumn("label", when(ky < ks, 1.0).otherwise(0.0))
      graft.ops.Eval.calibration(ev, "score", "label", 10)
        .select(col("bin"), col("n"),
          round(col("conf"), 6).as("conf"), round(col("acc"), 6).as("acc"),
          round(col("gap"), 6).as("gap"), round(col("ece"), 6).as("ece"))
        .orderBy("bin")
    },
      """WITH s AS (
        |  SELECT
        |    CAST(('0x' || substr(md5('cs:' || CAST(event_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 1000000 AS ks,
        |    CAST(('0x' || substr(md5('cy:' || CAST(event_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 1000000 AS ky
        |  FROM events
        |), sy AS (
        |  SELECT CAST(ks AS DOUBLE) / 1000000 AS sc,
        |    CASE WHEN ky < ks THEN 1.0 ELSE 0.0 END AS y
        |  FROM s
        |), per AS (
        |  SELECT CAST(LEAST(FLOOR(sc * 10), 9) AS BIGINT) AS bin,
        |    CAST(COUNT(1) AS BIGINT) AS n, AVG(sc) AS conf, AVG(y) AS acc
        |  FROM sy GROUP BY 1
        |), tot AS (
        |  SELECT SUM(abs(acc - conf) * n) / SUM(n) AS ece FROM per
        |)
        |SELECT bin, n, ROUND(conf, 6) AS conf, ROUND(acc, 6) AS acc,
        |  ROUND(abs(acc - conf), 6) AS gap, ROUND(ece, 6) AS ece
        |FROM per, tot ORDER BY bin""".stripMargin),

    // Mann-Whitney U per event type (nonparametric companion to
    // q194's Welch t): tie-averaged ranks in one partitioned window,
    // tie-corrected normal approximation on the reduced frame.
    Gate("q209_mann_whitney", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.mannWhitney(ev, "event_type", "variant", "value",
          "A", "B")
        .orderBy("event_type")
    },
      """WITH base AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    value
        |  FROM events WHERE value IS NOT NULL
        |), rk AS (
        |  SELECT event_type, variant,
        |    RANK() OVER (PARTITION BY event_type ORDER BY value) AS r,
        |    CAST(COUNT(1) OVER (PARTITION BY event_type, value)
        |      AS DOUBLE) AS t
        |  FROM base
        |), per AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS na,
        |    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS nb,
        |    SUM(CASE WHEN variant = 'A' THEN r + (t - 1) / 2.0e0
        |      ELSE 0 END) AS ra,
        |    SUM(t * t - 1) AS tcorr
        |  FROM rk GROUP BY 1
        |)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  ROUND(ra - na * (na + 1) / 2, 6) AS u_a,
        |  ROUND((ra - na * (na + 1) / 2 - na * nb / 2)
        |    / sqrt(na * nb / 12 * ((na + nb + 1)
        |        - tcorr / ((na + nb) * (na + nb - 1)))), 6) AS z,
        |  abs(ROUND((ra - na * (na + 1) / 2 - na * nb / 2)
        |    / sqrt(na * nb / 12 * ((na + nb + 1)
        |        - tcorr / ((na + nb) * (na + nb - 1)))), 6)) > 1.96
        |    AS significant
        |FROM per ORDER BY event_type""".stripMargin),

    // Jensen-Shannon divergence between two sources' token
    // distributions — the bounded drift measure for text (KL explodes
    // on unshared tokens; JSD <= ln 2).
    Gate("q211_js_divergence", (s, dir) => {
      val toks = t(s, dir, "documents")
        .where(col("source").isin("src1", "src2"))
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("token"))
        .where(col("token") =!= "")
      graft.ops.Quality.jsDivergence(toks, "token", "source",
        "src1", "src2")
    },
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE source IN ('src1', 'src2')
        |), c AS (
        |  SELECT token,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS oa,
        |    CAST(SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS ob
        |  FROM toks WHERE token <> '' GROUP BY 1
        |), p AS (
        |  SELECT oa / SUM(oa) OVER () AS p, ob / SUM(ob) OVER () AS q
        |  FROM c
        |)
        |SELECT ROUND(SUM(
        |    CASE WHEN p > 0 THEN p / 2 * ln(p / ((p + q) / 2))
        |      ELSE 0 END
        |    + CASE WHEN q > 0 THEN q / 2 * ln(q / ((p + q) / 2))
        |      ELSE 0 END), 6) AS jsd,
        |  CAST(COUNT(1) AS BIGINT) AS n_cats
        |FROM p""".stripMargin),

    // Benford first-digit audit over event values; the digit comes
    // from the decimal string rendering (portable — log10-floor
    // flips on 1-ulp differences at exact powers of ten).
    Gate("q212_benford", (s, dir) =>
      graft.ops.Quality.benford(t(s, dir, "events"), "value")
        .orderBy("digit"),
      """WITH d AS (
        |  SELECT TRY_CAST(regexp_extract(CAST(abs(value) AS VARCHAR),
        |    '[1-9]') AS BIGINT) AS digit
        |  FROM events WHERE value IS NOT NULL AND value <> 0
        |), g AS (
        |  SELECT digit, CAST(COUNT(1) AS BIGINT) AS n FROM d
        |  WHERE digit IS NOT NULL GROUP BY 1
        |), t AS (
        |  SELECT digit, n, SUM(n) OVER () AS tot,
        |    log10(1 + 1.0e0 / digit) AS e
        |  FROM g
        |), x AS (
        |  SELECT digit, n, n / CAST(tot AS DOUBLE) AS obs_p, e,
        |    SUM((n - tot * e) * (n - tot * e) / (tot * e)) OVER () AS chi
        |  FROM t
        |)
        |SELECT digit, n, ROUND(obs_p, 6) AS obs_p, ROUND(e, 6) AS exp_p,
        |  ROUND(chi, 6) AS chi2, ROUND(chi, 6) > 15.507313 AS non_benford
        |FROM x ORDER BY digit""".stripMargin),

    // Mutual information between event type and the parity variant —
    // the feature-selection screen over a contingency frame.
    Gate("q213_mutual_info", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Quality.mutualInformation(ev, "event_type", "variant")
    },
      """WITH j AS (
        |  SELECT event_type AS x,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS y,
        |    CAST(COUNT(1) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT x, y, nxy, SUM(nxy) OVER () AS N,
        |    SUM(nxy) OVER (PARTITION BY x) AS nx,
        |    SUM(nxy) OVER (PARTITION BY y) AS ny
        |  FROM j
        |)
        |SELECT ROUND(SUM((nxy / CAST(N AS DOUBLE))
        |    * ln((nxy / CAST(N AS DOUBLE))
        |      / ((nx / CAST(N AS DOUBLE)) * (ny / CAST(N AS DOUBLE))))), 6)
        |    AS mi,
        |  CAST(MAX(N) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT x) AS BIGINT) AS n_x,
        |  CAST(COUNT(DISTINCT y) AS BIGINT) AS n_y
        |FROM p""".stripMargin),

    // Per-group Gini concentration of event values — the "is 1% of
    // keys all the mass" audit, one rank window + one aggregation.
    Gate("q215_gini", (s, dir) =>
      graft.ops.Quality.gini(t(s, dir, "events"), "event_type", "value",
          "event_id")
        .orderBy("event_type"),
      """WITH r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS i
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |)
        |SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND((2 * SUM(i * value) - (COUNT(1) + 1) * SUM(value))
        |    / (COUNT(1) * SUM(value)), 6) AS gini
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // Kaplan-Meier survival of time-to-first-purchase per user, with
    // never-purchasers right-censored at their last activity —
    // retention's principled upgrade; the product runs over the
    // bounded distinct-duration frame.
    Gate("q219_kaplan_meier", (s, dir) =>
      graft.ops.Cohorts.kaplanMeier(
          graft.ops.Cohorts.timeToEvent(t(s, dir, "events"),
            "user_id", "ts", col("event_type") === "purchase"),
          "duration", "censored")
        .orderBy("duration"),
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      coalesce(MIN(CASE WHEN event_type = 'purchase'
        |          THEN CAST(ts AS DATE) END),
        |        MAX(CAST(ts AS DATE)))) AS BIGINT) AS duration,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) IS NULL AS censored
        |  FROM events GROUP BY user_id
        |), lf AS (
        |  SELECT duration, CAST(COUNT(1) AS BIGINT) AS alln,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS events
        |  FROM u GROUP BY 1
        |), k AS (
        |  SELECT duration, events,
        |    SUM(alln) OVER (ORDER BY duration
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
        |  FROM lf
        |), s AS (
        |  SELECT duration, n_risk, events,
        |    ROUND(exp(SUM(ln(greatest(
        |        1 - CAST(events AS DOUBLE) / n_risk, 1e-300)))
        |      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 6) AS s
        |  FROM k
        |)
        |SELECT duration, CAST(n_risk AS BIGINT) AS n_risk, events, s
        |FROM s WHERE events > 0 ORDER BY duration""".stripMargin),

    // ROC curve + trapezoid AUC of event value against the purchase
    // label — the classifier-quality measurement; thresholds are the
    // DISTINCT scores (bounded by value resolution, not rows).
    Gate("q221_roc_auc", (s, dir) =>
      graft.ops.Eval.rocCurve(
          t(s, dir, "events")
            .withColumn("label", col("event_type") === "purchase"),
          "value", "label")
        .orderBy(col("thr").desc),
      """WITH s AS (
        |  SELECT value AS thr,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), c AS (
        |  SELECT thr, SUM(p) OVER w AS tp, SUM(n) OVER w AS fp,
        |    SUM(p) OVER () AS tot_p, SUM(n) OVER () AS tot_n
        |  FROM s WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
        |), r AS (
        |  SELECT thr, tp, fp, CAST(tp AS DOUBLE) / tot_p AS tpr,
        |    CAST(fp AS DOUBLE) / tot_n AS fpr
        |  FROM c
        |), g AS (
        |  SELECT thr, tp, fp, tpr, fpr,
        |    (fpr - coalesce(lag(fpr) OVER (ORDER BY thr DESC), 0)) *
        |      (tpr + coalesce(lag(tpr) OVER (ORDER BY thr DESC), 0)) / 2
        |      AS trap
        |  FROM r
        |), a AS (
        |  SELECT thr, tp, fp, tpr, fpr,
        |    SUM(trap) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
        |      AS auc
        |  FROM g
        |)
        |SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  ROUND(tpr, 6) AS tpr, ROUND(fpr, 6) AS fpr, ROUND(auc, 6) AS auc
        |FROM a ORDER BY thr DESC""".stripMargin),

    // Per-returnflag Spearman rank correlation of quantity vs
    // extended price — monotone association with tie-averaged ranks,
    // all windows partitioned by the group key.
    Gate("q222_spearman", (s, dir) =>
      graft.ops.Quality.spearman(t(s, dir, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      """WITH f AS (
        |  SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), r AS (
        |  SELECT g,
        |    (2.0 * RANK() OVER (PARTITION BY g ORDER BY x)
        |      + COUNT(1) OVER (PARTITION BY g, x) - 1) / 2 AS rx,
        |    (2.0 * RANK() OVER (PARTITION BY g ORDER BY y)
        |      + COUNT(1) OVER (PARTITION BY g, y) - 1) / 2 AS ry
        |  FROM f
        |)
        |SELECT g AS l_returnflag, COUNT(1) AS n,
        |  ROUND(corr(rx, ry), 6) AS rho
        |FROM r GROUP BY g ORDER BY 1""".stripMargin),

    // Log-rank test: do even-parity users convert (first purchase)
    // on a different clock than odd-parity ones — the hypothesis
    // test over q219's censored time-to-event observations.
    Gate("q223_logrank", (s, dir) =>
      graft.ops.Cohorts.logRank(
        graft.ops.Cohorts.timeToEvent(t(s, dir, "events"),
            "user_id", "ts", col("event_type") === "purchase")
          .withColumn("cohort",
            when(col("user_id") % 2 === 0, "A").otherwise("B")),
        "duration", "censored", "cohort", "A"),
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      coalesce(MIN(CASE WHEN event_type = 'purchase'
        |          THEN CAST(ts AS DATE) END),
        |        MAX(CAST(ts AS DATE)))) AS BIGINT) AS duration,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) IS NULL AS censored,
        |    user_id % 2 = 0 AS is_a
        |  FROM events GROUP BY user_id
        |), pd AS (
        |  SELECT duration, CAST(COUNT(1) AS BIGINT) AS alln,
        |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS all_a,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(SUM(CASE WHEN NOT censored AND is_a THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_a
        |  FROM u GROUP BY 1
        |), k AS (
        |  SELECT duration, d, d_a,
        |    CAST(SUM(alln) OVER w AS DOUBLE) AS n,
        |    CAST(SUM(all_a) OVER w AS DOUBLE) AS n_a
        |  FROM pd WINDOW w AS (ORDER BY duration
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |), agg AS (
        |  SELECT ROUND(CAST(SUM(d_a) AS DOUBLE), 6) AS o_a,
        |    ROUND(SUM(d * n_a / n), 6) AS e_a,
        |    ROUND(SUM(CASE WHEN n > 1 THEN d * (n_a / n) * (1 - n_a / n)
        |      * (n - d) / (n - 1) ELSE 0 END), 6) AS v
        |  FROM k WHERE d > 0
        |)
        |SELECT o_a, e_a, v,
        |  ROUND((o_a - e_a) * (o_a - e_a) / v, 6) AS chi2,
        |  (ROUND((o_a - e_a) * (o_a - e_a) / v, 6) > 3.841459)
        |    AS significant
        |FROM agg""".stripMargin),

    // Chi-squared independence of document language vs source (+
    // Cramer's V effect size) — expected counts from the marginal
    // cross product, so zero observed cells still contribute.
    Gate("q224_chi2", (s, dir) =>
      graft.ops.Quality.chiSquare(t(s, dir, "documents"),
        "lang", "source"),
      """WITH joint AS (
        |  SELECT lang AS x, source AS y, CAST(COUNT(1) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2
        |), mx AS (
        |  SELECT x, CAST(SUM(o) AS BIGINT) AS nx FROM joint GROUP BY 1
        |), my AS (
        |  SELECT y, CAST(SUM(o) AS BIGINT) AS ny FROM joint GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS nn FROM joint
        |), cells AS (
        |  SELECT mx.x, my.y, tot.nn,
        |    CAST(mx.nx AS DOUBLE) * my.ny / tot.nn AS e,
        |    coalesce(joint.o, 0) - CAST(mx.nx AS DOUBLE) * my.ny / tot.nn
        |      AS dd
        |  FROM mx CROSS JOIN my CROSS JOIN tot
        |  LEFT JOIN joint ON joint.x = mx.x AND joint.y = my.y
        |)
        |SELECT MAX(nn) AS n,
        |  (COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS dof,
        |  ROUND(SUM(dd * dd / e), 6) AS chi2,
        |  ROUND(SQRT(SUM(dd * dd / e) / (MAX(nn) *
        |    LEAST(COUNT(DISTINCT x) - 1, COUNT(DISTINCT y) - 1))), 6)
        |    AS cramers_v
        |FROM cells""".stripMargin),

    // Centered moments per returnflag: two-pass population variance /
    // skewness / excess kurtosis (the raw-moment identity cancels
    // catastrophically at sum-x^4 scale and cannot match cross-engine).
    Gate("q233_central_moments", (s, dir) =>
      graft.ops.Quality.centralMoments(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag"),
      """WITH mu AS (
        |  SELECT l_returnflag AS g, AVG(l_extendedprice) AS mu
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
        |), c AS (
        |  SELECT g, mu, l_extendedprice - mu AS d
        |  FROM lineitem JOIN mu ON l_returnflag = g
        |  WHERE l_extendedprice IS NOT NULL
        |), a AS (
        |  SELECT g, CAST(COUNT(1) AS BIGINT) AS n, MAX(mu) AS mean,
        |    SUM(d * d) / COUNT(1) AS m2,
        |    SUM(d * d * d) / COUNT(1) AS m3,
        |    SUM(d * d * d * d) / COUNT(1) AS m4
        |  FROM c GROUP BY 1
        |)
        |SELECT g AS l_returnflag, n, ROUND(mean, 6) AS mean,
        |  ROUND(m2, 6) AS variance,
        |  ROUND(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END, 6) AS skewness,
        |  ROUND(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END, 6) AS kurtosis
        |FROM a ORDER BY 1""".stripMargin),

    // Exact lower weighted median of extended price weighted by
    // quantity, per returnflag — robust location under unequal row
    // mass; one partitioned cumulative-weight window.
    Gate("q235_weighted_median", (s, dir) =>
      graft.ops.Binning.weightedMedian(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .orderBy("l_returnflag"),
      """WITH c AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v, l_quantity AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |), x AS (
        |  SELECT g, v,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS tot,
        |    COUNT(1) OVER (PARTITION BY g) AS nn
        |  FROM c
        |)
        |SELECT g AS l_returnflag, CAST(MAX(nn) AS BIGINT) AS n,
        |  MIN(v) AS w_median
        |FROM x WHERE cum * 2 >= tot GROUP BY 1 ORDER BY 1""".stripMargin),

    // q219's survival curve with the Greenwood variance and the 95%
    // normal band — the error bars the bare estimate is read without.
    Gate("q239_km_greenwood", (s, dir) =>
      graft.ops.Cohorts.kaplanMeierCi(
          graft.ops.Cohorts.timeToEvent(t(s, dir, "events"),
            "user_id", "ts", col("event_type") === "purchase"),
          "duration", "censored")
        .orderBy("duration"),
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      coalesce(MIN(CASE WHEN event_type = 'purchase'
        |          THEN CAST(ts AS DATE) END),
        |        MAX(CAST(ts AS DATE)))) AS BIGINT) AS duration,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) IS NULL AS censored
        |  FROM events GROUP BY user_id
        |), lf AS (
        |  SELECT duration, CAST(COUNT(1) AS BIGINT) AS alln,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS events
        |  FROM u GROUP BY 1
        |), k AS (
        |  SELECT duration, events,
        |    SUM(alln) OVER (ORDER BY duration
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
        |  FROM lf
        |), s AS (
        |  SELECT duration, n_risk, events,
        |    exp(SUM(ln(greatest(
        |        1 - CAST(events AS DOUBLE) / n_risk, 1e-300)))
        |      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)) AS sv,
        |    SUM(CASE WHEN events < n_risk THEN
        |        CAST(events AS DOUBLE) / (n_risk * (n_risk - events))
        |      ELSE CAST('nan' AS DOUBLE) END)
        |      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) AS gw
        |  FROM k
        |), c AS (
        |  SELECT duration, n_risk, events, sv,
        |    CASE WHEN NOT isnan(sv * sqrt(gw)) THEN sv * sqrt(gw) END AS se
        |  FROM s WHERE events > 0
        |)
        |SELECT duration, CAST(n_risk AS BIGINT) AS n_risk, events,
        |  ROUND(sv, 6) AS s, ROUND(se, 6) AS se,
        |  ROUND(CASE WHEN se IS NOT NULL
        |    THEN greatest(sv - 1.96 * se, 0) END, 6) AS lo,
        |  ROUND(CASE WHEN se IS NOT NULL
        |    THEN least(sv + 1.96 * se, 1) END, 6) AS hi
        |FROM c ORDER BY duration""".stripMargin),

    // Brier score + Murphy decomposition of the purchase "forecast"
    // value/100: reliability (binned calibration), resolution (bin
    // separation), uncertainty (base-rate variance).
    Gate("q240_brier", (s, dir) =>
      graft.ops.Eval.brierDecomposition(
        t(s, dir, "events")
          .withColumn("p", least(col("value") / 100, lit(1.0)))
          .withColumn("label", col("event_type") === "purchase"),
        "p", "label", nBins = 10),
      """WITH f AS (
        |  SELECT least(value / 100, 1.0) AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND value >= 0
        |), b AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CAST(COUNT(1) AS BIGINT) AS nk, AVG(p) AS fk, AVG(y) AS ok,
        |    SUM((p - y) * (p - y)) AS sq
        |  FROM f GROUP BY 1
        |), tot AS (
        |  SELECT SUM(nk * ok) / SUM(nk) AS obar,
        |    CAST(SUM(nk) AS DOUBLE) AS n
        |  FROM b
        |)
        |SELECT CAST(MAX(n) AS BIGINT) AS n,
        |  ROUND(SUM(sq) / MAX(n), 6) AS brier,
        |  ROUND(SUM(nk * (fk - ok) * (fk - ok)) / MAX(n), 6) AS reliability,
        |  ROUND(SUM(nk * (ok - obar) * (ok - obar)) / MAX(n), 6)
        |    AS resolution,
        |  ROUND(MAX(obar) * (1 - MAX(obar)), 6) AS uncertainty
        |FROM b CROSS JOIN tot""".stripMargin),

    // Kruskal-Wallis H per event type across three hash-assigned
    // variants (the k-sample extension of q209's Mann-Whitney):
    // tie-averaged ranks in group-partitioned windows, H with tie
    // correction on the (group x class) frame.
    Gate("q243_kruskal_wallis", (s, dir) =>
      graft.ops.Abtest.kruskalWallis(
        t(s, dir, "events")
          .withColumn("variant", concat(lit("v"), col("user_id") % 3)),
        "event_type", "variant", "value")
        .orderBy("event_type"),
      """WITH f AS (
        |  SELECT event_type AS g, 'v' || CAST(user_id % 3 AS VARCHAR)
        |      AS c, value AS v
        |  FROM events WHERE value IS NOT NULL
        |), ranked AS (
        |  SELECT g, c, v,
        |    CAST(COUNT(1) OVER (PARTITION BY g, v) AS DOUBLE) AS t,
        |    RANK() OVER (PARTITION BY g ORDER BY v)
        |      + (CAST(COUNT(1) OVER (PARTITION BY g, v) AS DOUBLE) - 1)
        |        / 2.0 AS ar
        |  FROM f
        |), pc AS (
        |  SELECT g, c, SUM(ar) AS rc, CAST(COUNT(1) AS BIGINT) AS nc
        |  FROM ranked GROUP BY 1, 2
        |), st AS (
        |  SELECT g, CAST(SUM(nc) AS DOUBLE) AS n,
        |    CAST(COUNT(1) AS BIGINT) AS k,
        |    SUM(rc * rc / nc) AS s
        |  FROM pc GROUP BY 1
        |), ties AS (
        |  SELECT g, SUM(t * t - 1) AS tcorr FROM ranked GROUP BY 1
        |)
        |SELECT st.g AS event_type, CAST(n AS BIGINT) AS n, k,
        |  ROUND(12.0 / (n * (n + 1)) * s - 3 * (n + 1), 6) AS h,
        |  ROUND(CASE WHEN 1.0 - tcorr / (n * n * n - n) > 0
        |    THEN (12.0 / (n * (n + 1)) * s - 3 * (n + 1))
        |      / (1.0 - tcorr / (n * n * n - n)) END, 6) AS h_adj
        |FROM st JOIN ties ON ties.g = st.g
        |ORDER BY 1""".stripMargin),

    // Theil T and mean-log-deviation L inequality indices per event
    // type - q215 gini's decomposable information-theoretic sibling.
    Gate("q247_theil", (s, dir) =>
      graft.ops.Quality.theil(t(s, dir, "events"), "event_type", "value")
        .orderBy("event_type"),
      """WITH pos AS (
        |  SELECT event_type AS g, value AS v FROM events
        |  WHERE value IS NOT NULL AND value > 0
        |), mu AS (
        |  SELECT g, AVG(v) AS m FROM pos GROUP BY 1
        |)
        |SELECT pos.g AS event_type, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND(SUM((v / m) * ln(v / m)) / COUNT(1), 6) AS theil_t,
        |  ROUND(SUM(ln(1.0 / (v / m))) / COUNT(1), 6) AS theil_l
        |FROM pos JOIN mu ON mu.g = pos.g
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
