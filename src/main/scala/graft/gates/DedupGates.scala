package graft.gates

import org.apache.spark.sql.functions._

import graft.gates.Shared.{minhashGateCtes, minhashSideCtes, t}
import graft.ops.Dedup

/** Near-duplicate detection over the documents corpus: exact and
  * paragraph dedup, n-gram Jaccard, MinHash LSH, SimHash, winnowing,
  * containment, duplicate spans, contamination, snapshot diffs and the
  * incremental near-dup against a standing corpus. */
object DedupGates {

  /** Shared DuckDB CTE chain computing the gate-shape (8-perm, 4x2
    * band) MinHash near-dup pipeline up through exact verification —
    * interpolated into the q15 and q67 oracles so both gate the SAME
    * pair computation. */
  private val MinhashGateCtes: String = minhashGateCtes("documents")

  /** DuckDB CTE chain mirroring [[graft.ops.Winnow]]'s selection over
    * `src` with `sfx`-suffixed names (k = 8, w = 4, P = 1e6): packed
    * keys `h*P - i`, window mins, distinct unpack to (doc_id, pos,
    * fp). All arithmetic is 64-bit integer (no float in the unpack).
    * Suffix "" yields the q162/q163/q168 single-corpus chain; two
    * suffixed instances coexist in the q175 bipartite oracle. */
  private def winnowCtes(src: String, sfx: String): String =
    s"""wk$sfx AS (
       |  SELECT doc_id, text,
       |    list_transform(generate_series(1, length(text)-7),
       |      i -> CAST(('0x'||substr(md5(substr(text,i,8)),1,8)) AS BIGINT)
       |           * 1000000 - i) AS keys
       |  FROM $src WHERE length(text) >= 11
       |), wsel$sfx AS (
       |  SELECT doc_id, text,
       |    unnest(list_distinct(list_transform(generate_series(1, len(keys)-3),
       |      s -> list_min(keys[s:s+3])))) AS m
       |  FROM wk$sfx
       |), wfp$sfx AS (
       |  SELECT doc_id,
       |    CAST(((-m) % 1000000 + 1000000) % 1000000 AS BIGINT) AS pos,
       |    CAST(('0x'||substr(md5(substr(text,
       |      CAST(((-m)%1000000+1000000)%1000000 AS INT), 8)),1,8)) AS BIGINT)
       |      AS fp
       |  FROM wsel$sfx
       |)""".stripMargin

  private val WinnowCtes: String = winnowCtes("documents", "")

  /** Shared DuckDB CTE chain for the duplicate-span queries:
    * positional 8-gram hashes (60-bit md5 — an INDEPENDENT keying
    * from the Spark side's xxhash64; both collision-free, so the
    * spans agree) -> corpus-wide hot grams -> merged maximal spans,
    * mirroring [[graft.ops.Dedup.duplicateSpans]]'s steps. */
  private val DupSpanCtes: String =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents
       |), gpos AS (
       |  SELECT doc_id, w, unnest(range(0, len(w) - 7)) AS pos FROM tok
       |), g AS (
       |  SELECT doc_id, pos,
       |    CAST(('0x'||substr(md5(
       |      array_to_string(list_slice(w, pos+1, pos+8), ' ')),1,15))
       |      AS BIGINT) AS gh
       |  FROM gpos
       |), hot AS (
       |  SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2
       |), hit AS (
       |  SELECT doc_id, pos, pos + 7 AS e FROM g JOIN hot USING (gh)
       |), brk AS (
       |  SELECT doc_id, pos, e,
       |    CASE WHEN COALESCE(MAX(e) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND 1 PRECEDING), -2) < pos - 1
       |      THEN 1 ELSE 0 END AS b
       |  FROM hit
       |), isl AS (
       |  SELECT doc_id, pos, e,
       |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM brk
       |), spans AS (
       |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |    CAST(MAX(e) AS BIGINT) AS span_end
       |  FROM isl GROUP BY doc_id, grp
       |)""".stripMargin

  /** The q157-derivation delta × standing-corpus bipartite near-dup —
    * shared verbatim by q158 (composed fuzzyJoin) and q171 (persisted
    * LSH index query), so the gate proves the two production paths
    * compute the same pair set. */
  private val IncrementalNearDupOracleSql: String =
    s"""WITH nw AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 37 <> 0
       |  UNION ALL
       |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
       |), delta AS (
       |  SELECT n.doc_id, n.text
       |  FROM nw n LEFT JOIN documents o ON o.doc_id = n.doc_id
       |  WHERE o.doc_id IS NULL OR o.text <> n.text
       |), ${minhashSideCtes("l", "delta")},
       |${minhashSideCtes("r", "documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
       |  FROM bandsl a JOIN bandsr b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |), verified AS (
       |  SELECT c.left_id, c.right_id, COUNT(1) AS inter,
       |         MAX(ea.n) AS na, MAX(eb.n) AS nb
       |  FROM cand c
       |  JOIN exl ea ON ea.doc_id = c.left_id
       |  JOIN exr eb ON eb.doc_id = c.right_id AND eb.s = ea.s
       |  GROUP BY 1, 2
       |)
       |SELECT left_id, right_id,
       |  ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
       |FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
       |ORDER BY 1, 2""".stripMargin

  val all: Seq[Gate] = Seq(

    // Exact dedup: content-hash groups with keeper id + multiplicity.
    Gate("q13_dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash"),
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
        |       COUNT(1) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Near-dup pairs by exact word-3-gram Jaccard (all-pairs verify path).
    Gate("q14_ngram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS inter,
         |         MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
         |FROM pairs WHERE inter*1.0/(na+nb-inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin),

    // Near-dup pairs by MinHash(8 perms) + LSH(4 bands x 2) + verify —
    // the 100 TB-scale dedup path: pairs come from band buckets, never
    // from an all-pairs join.
    Gate("q15_minhash_lsh", (s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      s"""WITH $MinhashGateCtes
         |SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
         |FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin),

    // 32-bit SimHash per document.
    Gate("q16_simhash", (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS h FROM toks
         |), bits AS (
         |  SELECT doc_id, t.bit,
         |         SUM(CASE WHEN (h >> t.bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
         |  FROM h, range(0, 32) AS t(bit) GROUP BY 1, 2
         |)
         |SELECT doc_id,
         |       CAST(SUM(CASE WHEN bitsum > 0
         |                     THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin),

    // SimHash near-dup pairs (byte-band bucket join + popcount verify);
    // hamming 0 on this vocab-limited corpus = identical token profiles.
    Gate("q32_simhash_neardup", (s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 0)
        .orderBy("doc_a", "doc_b"),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS h FROM toks
         |), bits AS (
         |  SELECT doc_id, t.bit,
         |         SUM(CASE WHEN (h >> t.bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
         |  FROM h, range(0, 32) AS t(bit) GROUP BY 1, 2
         |), sig AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN bitsum > 0
         |                       THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS sh
         |  FROM bits GROUP BY 1
         |), bands AS (
         |  SELECT doc_id, sh, t.b AS band, (sh >> (t.b*8)) & 255 AS bkey
         |  FROM sig, range(0, 4) AS t(b)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.sh AS sha, b.sh AS shb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b,
         |       CAST(bit_count(CAST(xor(sha, shb) AS BIGINT)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(CAST(xor(sha, shb) AS BIGINT)) <= 0
         |ORDER BY 1, 2""".stripMargin),

    // Paragraph-level (sub-document) dedup: repeated cross-document
    // "paragraphs" — boilerplate — by document frequency. The corpus
    // has no paragraph delimiters, so paragraphs are fixed 8-token
    // windows (graft.ops.Dedup.chunkTable); real corpora use
    // paragraphTable (blank-line split) + stripBoilerplate, spec-
    // covered in DedupSpec.
    Gate("q64_paragraph_dedup", (s, dir) =>
      graft.ops.Dedup.paragraphDocFreq(
          graft.ops.Dedup.chunkTable(t(s, dir, "documents"),
            "doc_id", "text", 8), "doc_id")
        .where(col("doc_freq") >= 2)
        .orderBy("para_hash"),
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), chunks AS (
        |  SELECT doc_id,
        |         array_to_string(w[(i-1)*8+1 : i*8], ' ') AS para
        |  FROM words,
        |       unnest(generate_series(1,
        |         CAST(ceil(len(w) / 8.0) AS BIGINT))) AS t(i)
        |)
        |SELECT md5(para) AS para_hash,
        |       count(DISTINCT doc_id) AS doc_freq,
        |       count(*) AS n_occ
        |FROM chunks GROUP BY 1
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY para_hash""".stripMargin),

    // Production-shape MinHash LSH: 128 perms / 32 bands x 4 rows — the
    // parametrization a web-scale corpus runs (threshold curve
    // (1/32)^(1/4) ~= 0.42 vs the gate shape's 0.5). Same
    // band-bucket + exact-verify pipeline as q15, wider recall dial.
    Gate("q65_minhash_prod", (s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, nPerms = 128, bands = 32, rowsPerBand = 4)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      {
        // Generated 128-perm / 32x4-band DuckDB formulation; the LCG
        // constants come from the SAME deterministic table as the Spark
        // side (TextFunctions.minhashPermsFor) so both engines compute
        // identical signatures.
        val perms = graft.functions.TextFunctions.minhashPermsFor(128)
        val sigCols = perms.zipWithIndex.map { case ((a, b), i) =>
          s"MIN(($a*h+$b) % 2147483647) AS mh$i"
        }.mkString(",\n    ")
        val bandRows = (0 until 32).map { i =>
          val ks = (0 until 4).map(j => s"mh${i * 4 + j}")
          if (i == 0)
            s"SELECT doc_id, 0 AS band, " +
              ks.zipWithIndex.map { case (k, j) => s"$k AS k${j + 1}" }
                .mkString(", ") + " FROM sig"
          else s"SELECT doc_id, $i, ${ks.mkString(", ")} FROM sig"
        }.mkString(" UNION ALL\n  ")
        s"""WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), h AS (
  SELECT doc_id, CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) AS h FROM ex
), sig AS (
  SELECT doc_id,
    $sigCols
  FROM h GROUP BY 1
), bands AS (
  $bandRows
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
   AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.doc_id < b.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b, COUNT(1) AS inter,
         MAX(ea.n) AS na, MAX(eb.n) AS nb
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_a
  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
ORDER BY 1, 2"""
      }),

    // Transitive near-dup cluster resolution: connected components
    // (iterative min-label propagation) over the gate-shape LSH pairs;
    // each clustered doc maps to its cluster representative (min id).
    // The DuckDB oracle computes the same closure with a recursive CTE
    // — a genuinely different algorithm validating the iterative one.
    Gate("q67_dedup_clusters", (s, dir) =>
      Dedup.nearDupComponents(
          Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
            n = 3, threshold = 0.5))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id"),
      s"""WITH RECURSIVE $MinhashGateCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),

    // Eval-set decontamination: per-candidate-document fraction of
    // distinct word-5-grams appearing in any "benchmark" document
    // (deterministic 1-in-97 slice of the corpus stands in for the
    // eval set). Benchmark shingle hashes broadcast; corpus streamed.
    Gate("q70_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.benchmarkContamination(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          round(col("contamination"), 6).as("contamination"))
        .orderBy("doc_id")
    },
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-4),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS shingles
         |  FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), bench AS (
         |  SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
         |), cand AS (
         |  SELECT * FROM ex WHERE doc_id % 97 <> 0
         |)
         |SELECT doc_id, MAX(n) AS n_shingles,
         |       CAST(SUM(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hit,
         |       ROUND(SUM(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END)
         |             * 1.0 / MAX(n), 6) AS contamination
         |FROM cand GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Exact all-pairs Jaccard via prefix filtering — same result set
    // as q14 (and gated against the same oracle), sub-quadratic
    // candidate generation: prefixes hold each doc's rarest shingles,
    // so hot shingles never pair from the probe side. The exact-dedup
    // plan that survives 100x scale-up.
    Gate("q77_jaccard_prefix", (s, dir) =>
      Dedup.jaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      // identical formulation to q14 on purpose: q77 gates a DIFFERENT
      // Spark algorithm (prefix filtering) against the same ground truth
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS inter,
         |         MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
         |FROM pairs WHERE inter*1.0/(na+nb-inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin),

    // Near-dup survivorship: transitive LSH clusters keep their
    // highest-quality member (longest doc, ties to min id).
    Gate("q107_survivorship", (s, dir) =>
      graft.ops.CorpusClean.canonicalize(
          t(s, dir, "documents").select(col("doc_id"), col("text"),
            col("n_chars")),
          "doc_id", "text", "n_chars")
        .orderBy("component"),
      s"""WITH RECURSIVE $MinhashGateCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src
         |), member AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
         |         d.n_chars
         |  FROM documents d LEFT JOIN comp c USING (doc_id)
         |), ranked AS (
         |  SELECT component, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |                       ORDER BY n_chars DESC, doc_id) AS rn,
         |    COUNT(1) OVER (PARTITION BY component) AS n_members
         |  FROM member
         |)
         |SELECT component, doc_id AS survivor_id, n_members
         |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin),

    // END-TO-END composite gate: the full corpus-cleaning pipeline
    // (exact dedup -> quality/lang gates -> MinHash-LSH near-dedup with
    // transitive min-label clustering) in one hash-gated query.
    Gate("q105_corpus_clean", (s, dir) =>
      graft.ops.CorpusClean.clean(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        .select(col("doc_id"))
        .orderBy("doc_id"),
      s"""WITH RECURSIVE dedup AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1
         |), tokg AS (
         |  SELECT doc_id, text,
         |         regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM dedup
         |), gated AS (
         |  SELECT doc_id, text FROM tokg
         |  WHERE len(w) BETWEEN 20 AND 100000
         |    AND len(list_filter(w, x ->
         |          x IN ('the','a','of','and','to','in','is')))*1.0/len(w)
         |        >= 0.01
         |    AND (length(text) - length(regexp_replace(text,
         |          '[^A-Za-z0-9\\s]', '', 'g')))*1.0/length(text) <= 0.3
         |    AND greatest(
         |          len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))),
         |          len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))),
         |          len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))) > 0
         |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
         |        >= len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un')))
         |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
         |        >= len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))
         |), ${minhashGateCtes("gated")},
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.8
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), losers AS (
         |  SELECT src AS doc_id FROM reach GROUP BY src
         |  HAVING src <> LEAST(src, MIN(dst))
         |)
         |SELECT doc_id FROM gated
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin),

    // Leakage-safe split: every member of a transitive LSH near-dup
    // cluster lands in the same train/val/test split (split key =
    // cluster representative, portable md5 bucketing).
    Gate("q114_leakage_safe_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      Dedup.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
          pairs, valFrac = 0.1, testFrac = 0.1, seed = "v1")
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE $MinhashGateCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src
         |), g AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN comp c USING (doc_id)
         |)
         |SELECT doc_id, group_id,
         |  CASE WHEN b < 1000 THEN 'val'
         |       WHEN b < 2000 THEN 'test' ELSE 'train' END AS split
         |FROM (SELECT doc_id, group_id,
         |        CAST(('0x'||substr(md5('v1:'||CAST(group_id AS VARCHAR)),1,8))
         |          AS BIGINT) % 10000 AS b
         |      FROM g)
         |ORDER BY doc_id""".stripMargin),

    // Per-document 5-gram novelty vs all earlier documents (first-
    // occurrence contribution scoring; near-dup late arrivals -> 0).
    Gate("q115_novelty", (s, dir) =>
      Dedup.noveltyScores(t(s, dir, "documents"), "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          col("novelty"))
        .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-4),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS shingles
         |  FROM toks WHERE len(w) >= 5
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), own AS (
         |  SELECT s, MIN(doc_id) AS first_doc FROM ex GROUP BY 1
         |)
         |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |        * 1.0 / MAX(n), 6) AS novelty
         |FROM ex JOIN own USING (s)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Substring-level duplicate spans (hash-approximate suffix-array
    // dedup, Lee et al. 2022): every positional token 8-gram is hashed
    // to a 64-bit key (collision-free in practice, so the oracle's
    // independent 60-bit md5 keying agrees), grams occurring >= 2
    // times corpus-wide mark their positions, and
    // overlapping-or-adjacent hits merge into maximal spans in one
    // per-doc gaps-and-islands window. Long-only shuffles, one hash
    // agg on the gram key, one bounded per-doc window — no all-pairs
    // surface anywhere.
    Gate("q127_dup_spans", (s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
          n = 8, minOccurrences = 2)
        .orderBy("doc_id", "span_start"),
      s"""WITH $DupSpanCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_tokens
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // The removal leg: duplicated spans stripped, survivors
    // reassembled in token order (empty string when the whole doc was
    // duplicated) — the substring-level complement of document-level
    // dropExactDuplicates and paragraph-level stripBoilerplate.
    Gate("q128_span_strip", (s, dir) =>
      Dedup.stripDuplicateSpans(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", n = 8, minOccurrences = 2)
        .select(col("doc_id"), col("text").as("clean_text"))
        .orderBy("doc_id"),
      s"""WITH $DupSpanCtes, tokp AS (
         |  SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM tok
         |), kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.w[tp.pos+1] AS tok FROM tokp tp
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = tp.doc_id
         |      AND tp.pos BETWEEN s.span_start AND s.span_end)
         |), clean AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT d.doc_id, COALESCE(c.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN clean c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Cross-corpus fuzzy join: a synthetic "fresh crawl" (40% of docs,
    // half verbatim, half with a trailing mutation) matched against
    // the standing corpus — bipartite LSH buckets, exact-Jaccard
    // verified, never within-side and never all-pairs.
    Gate("q140_fuzzy_join", (s, dir) => {
      val docs = t(s, dir, "documents")
      val right = docs.where(col("doc_id") % 5 < 2)
        .select((col("doc_id") + 100000).as("doc_id"),
          when(col("doc_id") % 5 === 1,
            concat(col("text"), lit(" graft variant marker tokens")))
          .otherwise(col("text")).as("text"))
      Dedup.fuzzyJoin(docs, "doc_id", "text", right, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("left_id"), col("right_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("left_id", "right_id")
    },
      s"""WITH rsrc AS (
        |  SELECT doc_id + 100000 AS doc_id,
        |    CASE WHEN doc_id % 5 = 1
        |         THEN text || ' graft variant marker tokens'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 < 2
        |), ${minhashSideCtes("l", "documents")},
        |${minhashSideCtes("r", "rsrc")},
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
        |  FROM bandsl a JOIN bandsr b
        |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
        |), verified AS (
        |  SELECT c.left_id, c.right_id, COUNT(1) AS inter,
        |         MAX(ea.n) AS na, MAX(eb.n) AS nb
        |  FROM cand c
        |  JOIN exl ea ON ea.doc_id = c.left_id
        |  JOIN exr eb ON eb.doc_id = c.right_id AND eb.s = ea.s
        |  GROUP BY 1, 2
        |)
        |SELECT left_id, right_id,
        |  ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
        |FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
        |ORDER BY 1, 2""".stripMargin),

    // Asymmetric shingle containment over the gate-shape LSH
    // candidates: subsumption detection (quotes/boilerplate/excerpts)
    // where Jaccard under-reports — |sh(A)∩sh(B)|/|sh(A)| per
    // direction, pair kept when either clears 0.8. No length-ratio
    // prune: the size gap IS the signal.
    Gate("q156_containment", (s, dir) =>
      graft.ops.Dedup.containmentPairs(t(s, dir, "documents"),
          "doc_id", "text", n = 3, minContainment = 0.8)
        .orderBy("doc_a", "doc_b"),
      // Same shared minhash CTE chain as q15/q67 (independent md5-keyed
      // implementation); only the final scoring differs — containment
      // per direction instead of Jaccard, thresholded on the ROUNDED
      // value exactly like the Spark side.
      s"""WITH $MinhashGateCtes
         |SELECT doc_a, doc_b,
         |  ROUND(inter * 1.0 / na, 6) AS contain_a,
         |  ROUND(inter * 1.0 / nb, 6) AS contain_b
         |FROM verified
         |WHERE ROUND(inter * 1.0 / na, 6) >= 0.8
         |   OR ROUND(inter * 1.0 / nb, 6) >= 0.8
         |ORDER BY 1, 2""".stripMargin),

    // Corpus snapshot diff — the incremental-curation primitive: a
    // deterministically derived "next crawl" (every 37th id removed,
    // every 11th revised, every 53rd re-added under a new id) diffed
    // against the standing snapshot via a full-outer id join over
    // map-side content hashes; only (id, hash) ever shuffles.
    Gate("q157_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      graft.ops.Snapshots.corpusDiff(docs, next, "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH nw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 37 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM documents o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin),

    // The incremental-curation pipeline END-TO-END: q157's snapshot
    // delta (added ∪ changed — the work-list, ~12% of the corpus) is
    // the ONLY thing that re-enters near-dup checking, fuzzy-joined
    // bipartite against the standing corpus. Revised docs rejoin
    // their originals (high Jaccard), re-labeled copies rejoin at 1.0
    // — the full-recrawl dedup collapses to a delta × corpus band
    // join, the entire point of snapshot diffing at 100 TB.
    Gate("q158_incremental_neardup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val delta = graft.ops.Snapshots.changedDocs(docs, next, "doc_id", "text")
      Dedup.fuzzyJoin(delta, "doc_id", "text", docs, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("left_id"), col("right_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("left_id", "right_id")
    },
      // Same nw derivation as q157; delta = its added ∪ changed rows,
      // then the q140 bipartite minhash machinery against the standing
      // corpus.
      // identical oracle: the composed fuzzyJoin path (q158) and the
      // persisted-index query path (q171) must produce the SAME pairs —
      // the index round-trip loses nothing
      IncrementalNearDupOracleSql),

    // Winnowing fingerprint selection (Schleimer et al., MOSS): one
    // row per selected (position, hash) — the LOCAL fingerprint with
    // the shared-substring coverage guarantee, vs the global
    // MinHash/SimHash sketches of q15/q16.
    Gate("q162_winnow_fingerprint", (s, dir) =>
      graft.ops.Winnow.selectedFingerprints(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id", "pos"),
      s"""WITH $WinnowCtes
         |SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos""".stripMargin),

    // MOSS-style matching over the winnowed fingerprints: pairs
    // sharing >= 15 df-capped selected hashes (a banded posting join,
    // never all-pairs; threshold sits in the measured gap between
    // word-soup noise (<= ~13 shared) and planted near-dups (>= ~19)).
    Gate("q163_winnow_neardup", (s, dir) =>
      graft.ops.Winnow.matchPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b"),
      s"""WITH $WinnowCtes,
         |fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM fps a JOIN fps b USING (fp) JOIN rare USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 15 ORDER BY 1, 2""".stripMargin),

    // Containment-COMPLETE asymmetric join (pigeonhole prefix
    // filtering, Chaudhuri et al. 2006): derived excerpts (chars
    // 40..199 of every 17th doc) against the standing corpus — the
    // tiny-excerpt-in-huge-doc case the Jaccard-tuned LSH of q156
    // provably under-recalls. The oracle computes the UNFILTERED
    // posting join, so the hash match IS the completeness proof of
    // the prefix-filtered candidate path.
    Gate("q166_containment_join", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          substring(col("text"), 40, 160).as("text"))
        .where(length(col("text")) >= 40)
      Dedup.containmentJoin(excerpts, "doc_id", "text",
          docs, "doc_id", "text", n = 3, minContainment = 0.8,
          candDfCap = 0) // opt-in completeness mode: the EXACT gate
        .orderBy("small_id", "corpus_id")
    },
      // the DIRECT (unfiltered) posting-join containment — no prefix
      // filtering — so agreement proves the Spark side's pigeonhole
      // candidate generation is containment-complete
      """WITH exc AS (
        |  SELECT doc_id + 20000000 AS doc_id, substr(text, 40, 160) AS text
        |  FROM documents
        |  WHERE doc_id % 17 = 0 AND length(substr(text, 40, 160)) >= 40
        |), etoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM exc
        |), esh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM etoks
        |), eex AS (
        |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM esh
        |), ctoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), csh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM ctoks
        |), cex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM csh
        |), joined AS (
        |  SELECT e.doc_id AS small_id, c.doc_id AS corpus_id,
        |         COUNT(1) AS inter, MAX(e.n) AS na
        |  FROM eex e JOIN cex c ON c.s = e.s
        |  GROUP BY 1, 2
        |)
        |SELECT small_id, corpus_id,
        |  ROUND(inter * 1.0 / na, 6) AS containment
        |FROM joined
        |WHERE ROUND(inter * 1.0 / na, 6) >= 0.8
        |ORDER BY 1, 2""".stripMargin),

    // MOSS-style aligned match spans behind q163's pairs: shared
    // df-capped fingerprints grouped by alignment offset — each row a
    // reviewable matched region (start/end in doc_a, displacement in
    // doc_b, supporting mark count).
    Gate("q168_winnow_spans", (s, dir) =>
      graft.ops.Winnow.alignedSpans(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_a", "doc_b", "a_offset", "a_start"),
      s"""WITH $WinnowCtes,
         |fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20),
         |wpairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fps a JOIN fps b USING (fp) JOIN rare USING (fp)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 15
         |), marks AS (
         |  SELECT p.doc_a, p.doc_b, a.pos - b.pos AS a_offset,
         |         a.pos AS pos_a
         |  FROM wpairs p
         |  JOIN wfp a ON a.doc_id = p.doc_a
         |  JOIN rare r ON r.fp = a.fp
         |  JOIN wfp b ON b.doc_id = p.doc_b AND b.fp = a.fp
         |), brks AS (
         |  SELECT *, CASE WHEN pos_a - LAG(pos_a) OVER (
         |      PARTITION BY doc_a, doc_b, a_offset ORDER BY pos_a) > 50
         |    THEN 1 ELSE 0 END AS brk
         |  FROM marks
         |), runs AS (
         |  SELECT *, SUM(brk) OVER (
         |      PARTITION BY doc_a, doc_b, a_offset ORDER BY pos_a
         |      ROWS UNBOUNDED PRECEDING) AS run
         |  FROM brks
         |)
         |SELECT doc_a, doc_b, a_offset,
         |  MIN(pos_a) AS a_start, MAX(pos_a) + 7 AS a_end,
         |  COUNT(1) AS n_marks
         |FROM runs
         |GROUP BY doc_a, doc_b, a_offset, run
         |HAVING COUNT(1) >= 2
         |ORDER BY 1, 2, 3, 4""".stripMargin),

    // q158's incremental near-dup served from the PERSISTED LSH index
    // (the production lifecycle: corpus signatured once at build, the
    // recrawl delta alone queries it — O(|delta|) per epoch). The
    // oracle is IDENTICAL to q158's, so the index round-trip must
    // produce the exact same pair set as the composed fuzzyJoin.
    Gate("q171_incremental_via_index", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val idx = graft.etl.Scratch.dir("inc-lsh-idx")
      // the index build and the snapshot-diff delta are independent —
      // overlapped; the query needs both
      var delta: org.apache.spark.sql.DataFrame = null
      graft.etl.Par.run(
        () => Dedup.buildLshIndex(docs, "doc_id", "text", idx, n = 3),
        () => delta = graft.etl.Checkpoints.truncate(
          graft.ops.Snapshots.changedDocs(docs, next, "doc_id", "text")))
      Dedup.lshQueryIndex(s, idx, delta, "doc_id", "text",
          threshold = 0.5, n = 3)
        .select(col("doc_b").as("left_id"), col("doc_a").as("right_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("left_id", "right_id")
    },
      IncrementalNearDupOracleSql),

    // The paper's EXACT robust winnowing (stateful tie-break across
    // windows) — inexpressible as a composed per-window projection,
    // lives only in the single-eval expression; the oracle replays
    // the selection recurrence with a per-document recursive CTE.
    Gate("q172_winnow_robust", (s, dir) =>
      graft.ops.Winnow.selectedFingerprintsRobust(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id", "pos"),
      // the robust-rule recurrence, decomposed for SQL tractability: a
      // selection can only persist across windows sharing its hash, so
      // within each maximal RUN of equal-min-hash windows the selections
      // are the jump sequence p -> rightmost-min-position(window p+1)
      // from the run's first window, and every run boundary re-selects
      // fresh (the previous selection's hash differs by construction).
      // The recursion therefore only steps through tie runs — depth =
      // longest tie run, not document length (a window-by-window replay
      // was measured 50x slower). Same h*P-i packed keys as q162.
      """WITH RECURSIVE wk AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text)-7),
        |      i -> CAST(('0x'||substr(md5(substr(text,i,8)),1,8)) AS BIGINT)
        |           * 1000000 - i) AS keys
        |  FROM documents WHERE length(text) >= 11
        |), wm AS (
        |  SELECT doc_id, list_transform(generate_series(1, len(keys)-3),
        |    s -> list_min(keys[s:s+3])) AS wmins
        |  FROM wk
        |), fw0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(wmins)),
        |    s -> {'s': s, 'm': wmins[s]})) AS u
        |  FROM wm
        |), fw AS (
        |  SELECT doc_id, u.s AS s, u.m AS m,
        |    (u.m + ((-u.m)%1000000+1000000)%1000000)//1000000 AS h,
        |    ((-u.m)%1000000+1000000)%1000000 AS p
        |  FROM fw0
        |), chg AS (
        |  SELECT doc_id, s, m, h, p,
        |    CASE WHEN LAG(h) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
        |           OR h <> LAG(h) OVER (PARTITION BY doc_id ORDER BY s)
        |      THEN 1 ELSE 0 END AS is_start
        |  FROM fw
        |), runs AS (
        |  SELECT doc_id, s, m, p, is_start,
        |    SUM(is_start) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS rid
        |  FROM chg
        |), rend AS (
        |  SELECT doc_id, s, m, p, is_start,
        |    MAX(s) OVER (PARTITION BY doc_id, rid) AS re
        |  FROM runs
        |), jump(doc_id, m, p, re) AS (
        |  SELECT doc_id, m, p, re FROM rend WHERE is_start = 1
        |  UNION ALL
        |  SELECT j.doc_id, f.m, f.p, j.re
        |  FROM jump j JOIN rend f ON f.doc_id = j.doc_id AND f.s = j.p + 1
        |  WHERE j.p + 1 <= j.re
        |)
        |SELECT doc_id,
        |  CAST(((-m)%1000000+1000000)%1000000 AS BIGINT) AS pos,
        |  CAST((m + ((-m)%1000000+1000000)%1000000) // 1000000
        |    AS BIGINT) AS fp
        |FROM (SELECT DISTINCT doc_id, m FROM jump)
        |ORDER BY doc_id, pos""".stripMargin),

    // q166's containment join under the candidate df cap — the
    // bounded-fan-out 100 TB path (prefix shingles hotter than the
    // cap drop out of candidate generation). The deliberately tight
    // cap (2) fires on the real corpus at every SF, and the oracle
    // mirrors the rare-first rank + cap EXACTLY — gating the capped
    // semantics, not just the complete ones.
    Gate("q173_containment_capped", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          substring(col("text"), 40, 160).as("text"))
        .where(length(col("text")) >= 40)
      Dedup.containmentJoin(excerpts, "doc_id", "text",
          docs, "doc_id", "text", n = 3, minContainment = 0.8,
          candDfCap = 2)
        .orderBy("small_id", "corpus_id")
    },
      // the capped path mirrored exactly: per-shingle corpus df, the
      // rare-first pigeonhole rank (ties on the shingle string), the
      // df cap on prefix shingles, then full-intersection verify
      """WITH exc AS (
        |  SELECT doc_id + 20000000 AS doc_id, substr(text, 40, 160) AS text
        |  FROM documents
        |  WHERE doc_id % 17 = 0 AND length(substr(text, 40, 160)) >= 40
        |), etoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM exc
        |), esh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM etoks
        |), eex AS (
        |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM esh
        |), ctoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), csh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM ctoks
        |), cex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM csh
        |), cdf AS (
        |  SELECT s, count(*) AS cdf FROM cex GROUP BY 1
        |), pre AS (
        |  SELECT small_id, s FROM (
        |    SELECT e.doc_id AS small_id, e.s, e.n,
        |      COALESCE(c.cdf, 0) AS cdf,
        |      ROW_NUMBER() OVER (PARTITION BY e.doc_id
        |        ORDER BY COALESCE(c.cdf, 0), e.s) AS rk
        |    FROM eex e LEFT JOIN cdf c USING (s))
        |  WHERE rk <= n - CEIL(0.8 * n) + 1 AND cdf <= 2
        |), candx AS (
        |  SELECT DISTINCT p.small_id, c.doc_id AS corpus_id
        |  FROM pre p JOIN cex c USING (s)
        |), joined AS (
        |  SELECT x.small_id, x.corpus_id, COUNT(1) AS inter, MAX(e.n) AS na
        |  FROM candx x
        |  JOIN eex e ON e.doc_id = x.small_id
        |  JOIN cex c ON c.doc_id = x.corpus_id AND c.s = e.s
        |  GROUP BY 1, 2
        |)
        |SELECT small_id, corpus_id,
        |  ROUND(inter * 1.0 / na, 6) AS containment
        |FROM joined
        |WHERE ROUND(inter * 1.0 / na, 6) >= 0.8
        |ORDER BY 1, 2""".stripMargin),

    // Bipartite MOSS matching: the q157 recrawl delta winnow-matched
    // against the standing corpus — the incremental plagiarism/reuse
    // check, sharing fuzzyJoin's never-self-join shape but with the
    // positioned-substring coverage guarantee. Cross-side df cap
    // drops boilerplate hashes hot on either side.
    Gate("q175_winnow_cross", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val delta = graft.ops.Snapshots.changedDocs(docs, next, "doc_id", "text")
      graft.ops.Winnow.matchAcross(delta, "doc_id", "text",
          docs, "doc_id", "text")
        .orderBy("left_id", "right_id")
    },
      // two suffixed winnow chains (delta side, corpus side) + the
      // cross-side df cap + shared-count threshold
      s"""WITH nw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 37 <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
         |), delta AS (
         |  SELECT n.doc_id, n.text
         |  FROM nw n LEFT JOIN documents o ON o.doc_id = n.doc_id
         |  WHERE o.doc_id IS NULL OR o.text <> n.text
         |), ${winnowCtes("delta", "l")},
         |${winnowCtes("documents", "r")},
         |lfx AS (SELECT DISTINCT doc_id, fp FROM wfpl),
         |rfx AS (SELECT DISTINCT doc_id, fp FROM wfpr),
         |rarex AS (
         |  SELECT fp FROM (
         |    SELECT fp FROM lfx UNION ALL SELECT fp FROM rfx)
         |  GROUP BY fp HAVING count(*) <= 20
         |)
         |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
         |  count(*) AS n_shared
         |FROM lfx l JOIN rarex USING (fp) JOIN rfx r USING (fp)
         |GROUP BY 1, 2 HAVING count(*) >= 15
         |ORDER BY 1, 2""".stripMargin),

    // Corpus-wide KEEP-FIRST line dedup (the CCNet / RefinedWeb line
    // pass): plant a universal copyright footer on every doc, a
    // newsletter plea on every 5th, and two text excerpts as body
    // lines. Shared lines must survive only at their minimum
    // (doc, line) first occurrence; the short "End." line is exempt.
    // First-occurrence is an AGGREGATION on the line hash (map-side
    // combinable), never a window partitioned by line — a boilerplate
    // line in 10^7 docs would funnel one sort partition.
    Gate("q177_line_dedup", (s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"), concat(
          substring(col("text"), 1, 80), lit("\n"),
          lit("All rights reserved. Copyright Example Corp."), lit("\n"),
          when(col("doc_id") % 5 === 0,
            lit("Subscribe to our newsletter today for updates!\n"))
            .otherwise(lit("")),
          substring(col("text"), 30, 90), lit("\nEnd.")).as("text"))
      graft.ops.Dedup.lineDedup(planted, "doc_id", "text", minDupChars = 15)
        .select(col("doc_id"), md5(col("text")).as("clean_hash"),
          col("n_kept"), col("n_removed"))
        .orderBy("doc_id")
    },
      // keep-first line dedup: first occurrence = min (doc_id, line_no),
      // encoded as doc_id*1e6+ln (line counts are far below 1e6); lines
      // under 15 chars exempt. Dual unnest aligns line with its ordinal.
      """WITH planted AS (
        |  SELECT doc_id,
        |    substr(text, 1, 80) || chr(10) ||
        |    'All rights reserved. Copyright Example Corp.' || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'Subscribe to our newsletter today for updates!' || chr(10)
        |      ELSE '' END ||
        |    substr(text, 30, 90) || chr(10) || 'End.' AS t
        |  FROM documents
        |), arr AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS a FROM planted
        |), lines AS (
        |  SELECT doc_id, unnest(a) AS line,
        |         unnest(range(1, len(a) + 1)) AS ln FROM arr
        |), firsts AS (
        |  SELECT line, MIN(doc_id * 1000000 + ln) AS first_at
        |  FROM lines WHERE length(line) >= 15 GROUP BY line
        |), kept AS (
        |  SELECT l.doc_id, l.ln, l.line
        |  FROM lines l LEFT JOIN firsts f ON l.line = f.line
        |  WHERE length(l.line) < 15 OR l.doc_id * 1000000 + l.ln = f.first_at
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS clean,
        |         COUNT(1) AS n_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT a.doc_id, md5(COALESCE(r.clean, '')) AS clean_hash,
        |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(a.a) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM arr a LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin)
  )
}
