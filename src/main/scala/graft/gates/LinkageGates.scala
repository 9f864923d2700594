package graft.gates

import org.apache.spark.sql.functions._

import graft.gates.Shared.t

/** Record linkage and entity resolution: blocked candidate pairs with a
  * Levenshtein verify, sub-blocking, the sorted neighbourhood, Fellegi-
  * Sunter scoring with fixed and EM-learned parameters, and fuzzy string
  * pairs. */
object LinkageGates {

  /** Shared DuckDB CTE chain mirroring [[graft.ops.Linkage]]'s
    * blocking + block-size cap + Levenshtein verify (keyWidth 64,
    * blockWidth 8, blockCap 1000, maxDist 16) — interpolated into the
    * q164/q165 oracles. The cap CTE mirrors the skew guard exactly:
    * blocks holding more than 1000 records drop out of pairing on
    * both engines. */
  private val LinkCtes: String =
    """lrec AS (
      |  SELECT doc_id, lower(substr(text, 1, 64)) AS name FROM documents
      |  WHERE length(text) >= 16
      |), lblk AS (
      |  SELECT doc_id, name, 'p:' || substr(name, 1, 8) AS blk FROM lrec
      |  UNION ALL
      |  SELECT doc_id, name,
      |    's:' || substr(name, greatest(length(name)-7, 1)) AS blk
      |  FROM lrec
      |), lcap AS (
      |  SELECT doc_id, name, blk FROM (
      |    SELECT doc_id, name, blk,
      |      count(*) OVER (PARTITION BY blk) AS bn
      |    FROM lblk
      |  ) WHERE bn <= 1000
      |), lcand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM lcap a JOIN lcap b USING (blk)
      |  WHERE a.doc_id < b.doc_id
      |), llink AS (
      |  SELECT c.id_a, c.id_b,
      |    CAST(levenshtein(ra.name, rb.name) AS BIGINT) AS dist
      |  FROM lcand c JOIN lrec ra ON ra.doc_id = c.id_a
      |               JOIN lrec rb ON rb.doc_id = c.id_b
      |  WHERE levenshtein(ra.name, rb.name) <= 16
      |)""".stripMargin

  /** The q176 oracle's EM recurrence, GENERATED so the SQL's operation
    * order provably matches [[graft.ops.Linkage.fellegiSunterEm]]'s
    * Scala loop (patterns ascending, fields ascending, left-associated
    * sums, identical clamps) — bit-identical learned parameters. */
  private val FsEmOracleSql: String = {
    val k = 3
    val pats = 0 until (1 << k)
    def fm(g: Int, i: Int) = if (((g >> i) & 1) == 1) s"m$i" else s"(1 - m$i)"
    def fu(g: Int, i: Int) = if (((g >> i) & 1) == 1) s"u$i" else s"(1 - u$i)"
    def pm(g: Int) = (0 until k).map(fm(g, _)).mkString("p * ", " * ", "")
    def pu(g: Int) = (0 until k).map(fu(g, _)).mkString("(1 - p) * ", " * ", "")
    val wDefs = pats.map(g =>
      s"(${pm(g)}) / ((${pm(g)}) + (${pu(g)})) AS w$g").mkString(", ")
    val sw = pats.map(g => s"c$g*w$g").mkString(" + ")
    val nn = pats.map(g => s"c$g").mkString(" + ")
    def clamp(x: String) =
      s"GREATEST(LEAST($x, 1 - 0.000001), 0.000001)"
    def mUpd(i: Int) = clamp("(" +
      pats.filter(g => ((g >> i) & 1) == 1).map(g => s"c$g*w$g")
        .mkString(" + ") + ") / sw")
    def uUpd(i: Int) = clamp("(" +
      pats.filter(g => ((g >> i) & 1) == 1).map(g => s"c$g*(1 - w$g)")
        .mkString(" + ") + ") / (nn - sw)")
    val cDefs = pats.map { g =>
      val conds = (0 until k).map(i =>
        s"g$i = ${(g >> i) & 1}").mkString(" AND ")
      s"COALESCE(SUM(CASE WHEN $conds THEN 1 ELSE 0 END), 0) AS c$g"
    }.mkString(",\n    ")
    def fieldW(i: Int) =
      s"(CASE WHEN f.g$i = 1 THEN LOG2(q.m$i / q.u$i) " +
        s"ELSE LOG2((1 - q.m$i) / (1 - q.u$i)) END)"
    s"""WITH RECURSIVE $LinkCtes,
       |fsflags AS (
       |  SELECT l.id_a, l.id_b,
       |    CASE WHEN l.dist <= 4 THEN 1 ELSE 0 END AS g0,
       |    CASE WHEN da.source = db.source THEN 1 ELSE 0 END AS g1,
       |    CASE WHEN FLOOR(da.n_chars/100.0) = FLOOR(db.n_chars/100.0)
       |      THEN 1 ELSE 0 END AS g2
       |  FROM llink l
       |  JOIN documents da ON da.doc_id = l.id_a
       |  JOIN documents db ON db.doc_id = l.id_b
       |), pat AS (
       |  SELECT
       |    $cDefs
       |  FROM fsflags
       |), em(it, p, m0, m1, m2, u0, u1, u2) AS (
       |  SELECT 0, CAST(0.1 AS DOUBLE),
       |    CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE),
       |    CAST(0.1 AS DOUBLE), CAST(0.1 AS DOUBLE), CAST(0.1 AS DOUBLE)
       |  UNION ALL
       |  SELECT it + 1,
       |    ${clamp("sw / nn")},
       |    ${mUpd(0)}, ${mUpd(1)}, ${mUpd(2)},
       |    ${uUpd(0)}, ${uUpd(1)}, ${uUpd(2)}
       |  FROM (
       |    SELECT *, ($sw) AS sw, ($nn) AS nn
       |    FROM (
       |      SELECT em.*, pat.*, $wDefs
       |      FROM em, pat WHERE em.it < 20
       |    )
       |  )
       |), prm AS (
       |  SELECT * FROM em WHERE it = 20
       |)
       |SELECT f.id_a, f.id_b,
       |  ROUND(${fieldW(0)} + ${fieldW(1)} + ${fieldW(2)}, 6) AS weight,
       |  CASE WHEN ROUND(${fieldW(0)} + ${fieldW(1)} + ${fieldW(2)}, 6) >= 4.0
       |         THEN 'match'
       |       WHEN ROUND(${fieldW(0)} + ${fieldW(1)} + ${fieldW(2)}, 6) <= 0.0
       |         THEN 'non_match'
       |       ELSE 'possible' END AS decision
       |FROM fsflags f, prm q
       |ORDER BY 1, 2""".stripMargin
  }

  val all: Seq[Gate] = Seq(

    // Record linkage: two-pass blocking (key prefix/suffix) + exact
    // Levenshtein verify on the normalized 64-char comparison key.
    Gate("q164_record_linkage", (s, dir) =>
      graft.ops.Linkage.linkPairs(t(s, dir, "documents"), "doc_id", "text",
          maxDist = 16)
        .orderBy("id_a", "id_b"),
      s"""WITH $LinkCtes
         |SELECT id_a, id_b, dist FROM llink ORDER BY 1, 2""".stripMargin),

    // Entity resolution end-to-end: linked pairs -> transitive
    // connected components -> min-id entity labels with member counts
    // (unlinked records are their own singleton entity).
    Gate("q165_entity_resolution", (s, dir) =>
      graft.ops.Linkage.resolveEntities(t(s, dir, "documents"), "doc_id",
          "text", maxDist = 16)
        .orderBy("doc_id"),
      s"""WITH RECURSIVE $LinkCtes,
         |ledge AS (
         |  SELECT id_a AS src, id_b AS dst FROM llink
         |  UNION SELECT id_b, id_a FROM llink
         |), lreach(src, dst) AS (
         |  SELECT src, dst FROM ledge
         |  UNION
         |  SELECT r.src, e.dst FROM lreach r JOIN ledge e ON r.dst = e.src
         |), lcomp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM lreach GROUP BY src
         |), lall AS (
         |  SELECT r.doc_id, COALESCE(c.component, r.doc_id) AS entity_id
         |  FROM lrec r LEFT JOIN lcomp c USING (doc_id)
         |)
         |SELECT doc_id, entity_id,
         |  COUNT(*) OVER (PARTITION BY entity_id) AS n_members
         |FROM lall ORDER BY doc_id""".stripMargin),

    // Blocking REFINEMENT instead of dropping: level-1 blocks over
    // the (deliberately tight) cap re-block under a doubled key;
    // only still-hot level-2 blocks drop. Cap 8 fires on the real
    // corpus, so the gate exercises the sub-block path, not just the
    // pass-through.
    Gate("q169_linkage_subblocked", (s, dir) =>
      graft.ops.Linkage.linkPairsSubBlocked(t(s, dir, "documents"),
          "doc_id", "text", maxDist = 16, blockCap = 8)
        .orderBy("id_a", "id_b"),
      // level-1 blocks (cap 8) pass through; over-cap rows re-block
      // under the doubled 16-char key ('P:'/'S:' tags, colliding with
      // neither level-1 namespace); still-hot level-2 blocks drop
      """WITH lrec AS (
        |  SELECT doc_id, lower(substr(text, 1, 64)) AS name FROM documents
        |  WHERE length(text) >= 16
        |), lblk AS (
        |  SELECT doc_id, name, 'p:' || substr(name, 1, 8) AS blk FROM lrec
        |  UNION ALL
        |  SELECT doc_id, name,
        |    's:' || substr(name, greatest(length(name)-7, 1)) AS blk
        |  FROM lrec
        |), lcnt AS (
        |  SELECT doc_id, name, blk,
        |    count(*) OVER (PARTITION BY blk) AS bn
        |  FROM lblk
        |), lok1 AS (
        |  SELECT doc_id, name, blk FROM lcnt WHERE bn <= 8
        |), lsub AS (
        |  SELECT doc_id, name,
        |    CASE WHEN blk LIKE 'p:%' THEN 'P:' || substr(name, 1, 16)
        |         ELSE 'S:' || substr(name, greatest(length(name)-15, 1))
        |    END AS blk
        |  FROM lcnt WHERE bn > 8
        |), lok2 AS (
        |  SELECT doc_id, name, blk FROM (
        |    SELECT doc_id, name, blk,
        |      count(*) OVER (PARTITION BY blk) AS bn2
        |    FROM lsub
        |  ) WHERE bn2 <= 8
        |), lcap AS (
        |  SELECT doc_id, name, blk FROM lok1
        |  UNION ALL
        |  SELECT doc_id, name, blk FROM lok2
        |), lcand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM lcap a JOIN lcap b USING (blk)
        |  WHERE a.doc_id < b.doc_id
        |)
        |SELECT c.id_a, c.id_b,
        |  CAST(levenshtein(ra.name, rb.name) AS BIGINT) AS dist
        |FROM lcand c JOIN lrec ra ON ra.doc_id = c.id_a
        |             JOIN lrec rb ON rb.doc_id = c.id_b
        |WHERE levenshtein(ra.name, rb.name) <= 16
        |ORDER BY 1, 2""".stripMargin),

    // Sorted-neighborhood linkage (Hernández & Stolfo): global key
    // rank WITHOUT a single-partition window (range partition +
    // per-partition offsets), rank-bucket equi-join candidates
    // (fan-out <= 2w per record), exact Levenshtein verify.
    Gate("q170_sorted_neighborhood", (s, dir) =>
      graft.ops.Linkage.sortedNeighborPairs(t(s, dir, "documents"),
          "doc_id", "text", maxDist = 16, windowSize = 10)
        .orderBy("id_a", "id_b"),
      // the single-window rank reference: agreement proves the
      // distributed rank (range partition + per-partition offsets) and
      // the rank-bucket candidate join are exact
      """WITH srec AS (
        |  SELECT doc_id, lower(substr(text, 1, 64)) AS name FROM documents
        |  WHERE text IS NOT NULL
        |), srk AS (
        |  SELECT doc_id, name,
        |    ROW_NUMBER() OVER (ORDER BY name, doc_id) AS rk
        |  FROM srec
        |)
        |SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
        |       GREATEST(a.doc_id, b.doc_id) AS id_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM srk a JOIN srk b ON b.rk > a.rk AND b.rk <= a.rk + 10
        |WHERE levenshtein(a.name, b.name) <= 16
        |ORDER BY 1, 2""".stripMargin),

    // Fellegi-Sunter probabilistic scoring over the q164 blocked
    // candidates: three comparison fields (key edit distance <= 4,
    // same source, same 100-char length band) with supplied m/u
    // probabilities; summed log2 weights classify match / possible /
    // non_match against thresholds 4.0 / 0.0.
    Gate("q174_fellegi_sunter", (s, dir) => {
      val docs = t(s, dir, "documents")
      // attributes ride the block join (carry) — FS scoring is one
      // pass over candidates, no join-backs re-shuffling the pair set
      val pairs = graft.ops.Linkage.linkPairs(docs, "doc_id", "text",
        maxDist = 16, carry = Seq("source", "n_chars"))
      graft.ops.Linkage.fellegiSunter(pairs, Seq(
          graft.ops.Linkage.FsField("key_close",
            col("dist") <= 4, m = 0.9, u = 0.05),
          graft.ops.Linkage.FsField("same_source",
            col("source_a") === col("source_b"), m = 0.7, u = 0.05),
          graft.ops.Linkage.FsField("len_band",
            floor(col("n_chars_a") / lit(100.0))
              === floor(col("n_chars_b") / lit(100.0)),
            m = 0.8, u = 0.1)),
          upper = 4.0, lower = 0.0)
        .select(col("id_a"), col("id_b"), col("weight"), col("decision"))
        .orderBy("id_a", "id_b")
    },
      // same blocked candidates (LinkCtes) + the arithmetic mirror of
      // the three-field Fellegi-Sunter weight; classification on the
      // ROUNDED weight, as on the Spark side
      s"""WITH $LinkCtes,
         |fs AS (
         |  SELECT l.id_a, l.id_b,
         |    ROUND(
         |      (CASE WHEN l.dist <= 4 THEN LOG2(0.9/0.05)
         |            ELSE LOG2(0.1/0.95) END) +
         |      (CASE WHEN da.source = db.source THEN LOG2(0.7/0.05)
         |            ELSE LOG2(0.3/0.95) END) +
         |      (CASE WHEN FLOOR(da.n_chars/100.0) = FLOOR(db.n_chars/100.0)
         |            THEN LOG2(0.8/0.1) ELSE LOG2(0.2/0.9) END), 6) AS weight
         |  FROM llink l
         |  JOIN documents da ON da.doc_id = l.id_a
         |  JOIN documents db ON db.doc_id = l.id_b
         |)
         |SELECT id_a, id_b, weight,
         |  CASE WHEN weight >= 4.0 THEN 'match'
         |       WHEN weight <= 0.0 THEN 'non_match'
         |       ELSE 'possible' END AS decision
         |FROM fs ORDER BY 1, 2""".stripMargin),

    // Unsupervised Fellegi-Sunter: the q174 fields with m/u LEARNED
    // by 20 EM iterations on the 2^3 agreement-pattern counts (a
    // bounded driver-side sufficient statistic). The oracle replays
    // the identical fixed-order recurrence in a recursive CTE, so
    // the learned parameters — and every weight — reproduce exactly.
    Gate("q176_fellegi_sunter_em", (s, dir) => {
      val docs = t(s, dir, "documents")
      // carried attributes: one candidate pass feeds both the pattern
      // aggregation (EM's sufficient statistic) and the scoring
      val pairs = graft.ops.Linkage.linkPairs(docs, "doc_id", "text",
        maxDist = 16, carry = Seq("source", "n_chars"))
      graft.ops.Linkage.fellegiSunterEm(pairs, Seq(
          ("key_close", col("dist") <= 4),
          ("same_source", col("source_a") === col("source_b")),
          ("len_band", floor(col("n_chars_a") / lit(100.0))
            === floor(col("n_chars_b") / lit(100.0)))),
          iters = 20, upper = 4.0, lower = 0.0)
        .select(col("id_a"), col("id_b"), col("weight"), col("decision"))
        .orderBy("id_a", "id_b")
    },
      FsEmOracleSql),

    // Every within-brand part-name pair scored by the two native
    // codegen'd string-similarity expressions (Jaro-Winkler +
    // unrestricted Damerau-Levenshtein), folded per brand — the
    // linkage verify stage head-to-head against DuckDB's own native
    // jaro_winkler_similarity / damerau_levenshtein.
    Gate("q220_fuzzy_pairs", (s, dir) =>
      graft.ops.Linkage.fuzzyScoredPairs(
          t(s, dir, "part").select("p_partkey", "p_brand", "p_name"),
          "p_brand", "p_partkey", "p_name")
        .groupBy(col("block").as("brand"))
        .agg(count(lit(1)).as("pairs_scored"),
          sum(when(col("jw") >= 0.8, 1L).otherwise(0L)).as("n_close"),
          min(col("dl")).as("min_dl"),
          round(avg(col("jw")), 6).as("avg_jw"))
        .orderBy("brand"),
      """WITH pairs AS (
        |  SELECT a.p_brand AS brand,
        |    jaro_winkler_similarity(a.p_name, b.p_name) AS jw,
        |    damerau_levenshtein(a.p_name, b.p_name) AS dl
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |)
        |SELECT brand, COUNT(1) AS pairs_scored,
        |  CAST(SUM(CASE WHEN jw >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_close,
        |  MIN(dl) AS min_dl, ROUND(AVG(jw), 6) AS avg_jw
        |FROM pairs GROUP BY brand ORDER BY brand""".stripMargin)
  )
}
